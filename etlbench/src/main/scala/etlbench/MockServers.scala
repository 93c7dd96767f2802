package etlbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.RestEnvelopeSource

/** An in-process HTTP server on a loopback port with a handler pool of
  * `threads` threads; with 0 its one dispatcher thread runs the handler. */
abstract class MockServer(threads: Int) extends AutoCloseable {
  private val pool = Option.when(threads > 0)(Executors.newFixedThreadPool(threads))
  val errors = new AtomicLong()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  pool.foreach(server.setExecutor)
  server.createContext("/", (ex: HttpExchange) =>
    try handle(ex)
    catch {
      case e: Exception =>
        errors.incrementAndGet()
        System.err.println(s"[mock] ${ex.getRequestURI}: $e")
        ex.sendResponseHeaders(500, -1)
    } finally ex.close())
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  protected def handle(ex: HttpExchange): Unit

  protected def reply(ex: HttpExchange, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
  }

  override def close(): Unit = {
    server.stop(0)
    pool.foreach { p =>
      p.shutdownNow()
      p.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    }
  }
}

/** CommCare-style list API over `events` (sorted by time): keyset envelopes
  * `{"meta": {"limit", "next", "total_count"}, "objects": [...]}` for
  * `GET …?limit=&order_by=indexed_on&indexed_on_start=&indexed_on_end=`,
  * start inclusive, end exclusive. `meta.next` is set while rows remain.
  * Timestamps alternate between the `…Z` and the bare form. Counts every
  * request, row and byte it serves. Events in `lost` are never served, as if
  * their page had been dropped. */
final class MockApi(all: Array[DataGen.Event], threads: Int, lost: Set[Long] = Set.empty)
  extends MockServer(threads) {
  private val events = all.filterNot(e => lost.contains(e.id))
  val requests = new AtomicLong()
  val rowsServed = new AtomicLong()
  val bytesServed = new AtomicLong()

  private val ts = events.map(_.tsMicros)
  private val docs: Array[String] = events.map(MockApi.doc)

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap

  /** First index whose timestamp is ≥ `micros`. */
  private def lowerBound(micros: Long): Int = {
    val i = java.util.Arrays.binarySearch(ts, micros)
    if (i >= 0) i else -i - 1
  }

  override protected def handle(ex: HttpExchange): Unit = {
    val p = params(ex)
    val limit = p.getOrElse("limit", "1000").toInt
    val from = p.get("indexed_on_start").map(s => lowerBound(RestEnvelopeSource.parseTsMicros(s)))
      .getOrElse(0)
    val until = p.get("indexed_on_end").map(s => lowerBound(RestEnvelopeSource.parseTsMicros(s)))
      .getOrElse(ts.length)
    val total = math.max(0, until - from)
    val n = math.min(limit, total)
    val next =
      if (n < total) "\"" + s"?limit=$limit&indexed_on_start=" +
        RestEnvelopeSource.fmtTs(ts(from + n - 1)) + "\""
      else "null"
    val sb = new java.lang.StringBuilder(64 + n * 160)
    sb.append(s"""{"meta": {"limit": $limit, "next": $next, "total_count": $total}, "objects": [""")
    var i = 0
    while (i < n) { if (i > 0) sb.append(", "); sb.append(docs(from + i)); i += 1 }
    sb.append("]}")
    val body = sb.toString.getBytes(UTF_8)
    requests.incrementAndGet(); rowsServed.addAndGet(n); bytesServed.addAndGet(body.length)
    reply(ex, body)
  }
}

object MockApi {
  def doc(e: DataGen.Event): String = {
    val t = RestEnvelopeSource.fmtTs(e.tsMicros) + (if (e.id % 2 == 0) "Z" else "")
    s"""{"id": ${e.id}, "indexed_on": "$t", "user_id": ${e.userId}, """ +
      s""""event_type": "${e.eventType}", "value": ${e.value}, "props": {"k": ${e.k}}}"""
  }
}

/** Push receiver: accepts any POST/PATCH of one JSON document, records the
  * document's `id`, and answers 201. With `skipOne` it answers 201 to the
  * first document without recording it. Its handler runs on the dispatcher
  * thread: a request costs microseconds, and handing each of the push's
  * tens of thousands of requests to a pool thread made the push step's time
  * swing with thread scheduling. */
final class MockReceiver(skipOne: Boolean = false) extends MockServer(0) {
  private val skipped = new java.util.concurrent.atomic.AtomicBoolean(!skipOne)
  val requests = new AtomicLong()
  val ids: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet[java.lang.Long]()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override protected def handle(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    val id = mapper.readTree(ex.getRequestBody).path("id")
    if (id.isNumber && !skipped.compareAndSet(false, true)) ids.add(id.asLong())
    ex.sendResponseHeaders(201, -1)
  }
}
