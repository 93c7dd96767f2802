package etlbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ingest.Ingest
import graft.streaming.StreamingJobs

/** `stream_ingest`: the run's events land as one envelope-JSON file per day,
  * each written to a temporary name and renamed into the landing directory.
  * A seed-chosen 5% of the rows of each day but the last arrive one file
  * late. After each arrival two checkpointed AvailableNow queries run
  * together: `Ingest.streamingRun` lands bronze, and
  * `StreamingJobs.tumblingCounts` over the same landing files appends
  * windowed counts. An arrival is one operation, timed from the rename to
  * both queries finishing.
  *
  * Checks: bronze holds every id exactly once; every window closed by the
  * watermark in force at the last arrival is emitted once, with a count
  * equal to its number of on-time rows (late rows are older than the
  * watermark when they arrive, so they must be dropped).
  */
object StreamIngest {
  val Rows = 10000
  val Users = 1500
  val Days = 8
  val LateShare = 0.05
  val PageRows = 1000

  private val envSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "meta STRUCT<limit: INT, next: STRING, total_count: BIGINT>, " +
      "objects ARRAY<STRUCT<id: BIGINT, indexed_on: STRING, payload: STRING>>")

  /** Rows per arrival file: day d's on-time rows plus day d-1's late rows.
    * Late rows are taken only from before 23:50 of their day, so their
    * windows are closed by the time they arrive. */
  def arrivals(events: Array[DataGen.Event], seed: Long): (Seq[Seq[DataGen.Event]], Set[Long]) = {
    val rng = new java.util.SplittableRandom(seed * 7919L + 3L)
    def day(e: DataGen.Event) = ((e.tsMicros - DataGen.EventEpochMicros) / DataGen.DayMicros).toInt
    def lateOk(e: DataGen.Event) =
      day(e) < Days - 1 && (e.tsMicros - DataGen.EventEpochMicros) % DataGen.DayMicros <
        (23L * 60 + 50) * 60 * 1000000L
    val late = events.filter(e => lateOk(e) && rng.nextDouble() < LateShare).map(_.id).toSet
    val byDay = events.groupBy(day)
    val files = (0 until Days).map { d =>
      val onTime = byDay.getOrElse(d, Array.empty).filterNot(e => late.contains(e.id))
      val carried = byDay.getOrElse(d - 1, Array.empty).filter(e => late.contains(e.id))
      (onTime ++ carried).toSeq
    }
    (files, late)
  }

  /** One envelope per line, `PageRows` objects each, payload kept as text. */
  def envelopes(rows: Seq[DataGen.Event]): Seq[String] =
    rows.grouped(PageRows).map { page =>
      val objs = page.map { e =>
        val doc = MockApi.doc(e)
        val ts = graft.sources.RestEnvelopeSource.fmtTs(e.tsMicros) + (if (e.id % 2 == 0) "Z" else "")
        s"""{"id": ${e.id}, "indexed_on": "$ts", "payload": ${Harness.mapper.writeValueAsString(doc)}}"""
      }
      s"""{"meta": {"limit": $PageRows, "next": null, "total_count": ${page.size}}, """ +
        s""""objects": [${objs.mkString(", ")}]}"""
    }.toSeq

  final case class Progress(wallS: Double, triggerMs: Double, planningMs: Double, addBatchMs: Double,
                            commitMs: Double, latestOffsetMs: Double, stateRows: Double,
                            stateCommitMs: Double, stateMemMb: Double, batches: Int, inputRows: Long)

  private def progress(q: StreamingQuery, wallS: Double): Progress = {
    val ps = q.recentProgress.toSeq
    def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val st = ps.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
    Progress(wallS, d("triggerExecution"), d("queryPlanning"), d("addBatch"),
      d("walCommit") + d("commitOffsets"), d("latestOffset"),
      st.map(_.numRowsTotal).sum.toDouble, ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum.toDouble,
      st.map(_.memoryUsedBytes).sum / 1048576.0, ps.size, ps.map(_.numInputRows).sum)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val (events, late, bodies, closed) = t.span("stream.prepare") {
      val events = DataGen.events(ctx.seed, Rows, Users, Days)
      val (files, late) = arrivals(events, ctx.seed)
      val sent =
        if (ctx.faults("drop_arrival_row")) files.updated(1, files(1).drop(1)) else files
      // windows ending by then have been evicted by the last arrival's batch
      val watermarkAtLast = sent.init.flatten.map(_.tsMicros).max - 5 * 60 * 1000000L
      (events, late, sent.map(envelopes), watermarkAtLast)
    }
    val landing = Paths.get(ctx.dir("landing"))
    val staging = Paths.get(ctx.dir("staging"))
    val bronze = ctx.dir("bronze")
    val windows = ctx.dir("windows")
    val ckIngest = ctx.dir("ck-ingest")
    val ckAgg = ctx.dir("ck-agg")
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val progressed = scala.collection.mutable.ArrayBuffer[Progress]()

    def aggQuery(): StreamingQuery =
      StreamingJobs.tumblingCounts(
        spark.readStream.schema(envSchema).json(landing.toString)
          .select(explode(col("objects")).as("obj"))
          .select(Ingest.parseIndexedOn(col("obj.indexed_on")).as("ts")))
        .writeStream.format("parquet").option("path", windows)
        .option("checkpointLocation", ckAgg).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()

    val w = new Watch
    val times = t.span("stream.pass") {
      val ts = bodies.zipWithIndex.map { case (lines, d) =>
        val name = f"day-$d%02d.json"
        val tmp = staging.resolve(name)
        Files.write(tmp, lines.asJava)
        val a = new Watch
        t.span(s"arrival:$d") {
          try {
            Files.move(tmp, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
            val started = System.nanoTime()
            val qs = Seq(Ingest.streamingRun(spark, landing.toString, bronze, ckIngest), aggQuery())
            qs.foreach(_.awaitTermination())
            val wallS = (System.nanoTime() - started) / 1e9
            qs.foreach(q => q.exception.foreach(e => throw e))
            progressed ++= qs.map(progress(_, wallS))
          } catch {
            case NonFatal(e) => failures(s"arrival $d") = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          }
        }
        a.stop()
      }
      t.span("session.release")(graft.GraftSession.releaseCaches(spark))
      ts
    }
    val took = w.stop()

    t.span("stream.check") {
      import spark.implicits._
      val ids = spark.read.parquet(bronze).select("id").as[Long].collect()
      if (ids.length != events.length || ids.toSet.size != events.length)
        failures("bronze") = s"${ids.length} rows, ${ids.toSet.size} distinct, for ${events.length} ids"
      val onTime = events.filterNot(e => late.contains(e.id))
        .groupBy(e => Math.floorDiv(e.tsMicros, 60000000L) * 60000000L).map { case (k, v) => k -> v.length.toLong }
      val emitted = spark.read.parquet(windows)
        .select(expr("unix_micros(w_start)").as("w"), col("n")).as[(Long, Long)].collect()
      val wrong = emitted.count { case (w, n) => !onTime.get(w).contains(n) }
      val emittedAt = emitted.map(_._1).toSet
      val missing = onTime.keys.count(w => w + 60000000L <= closed && !emittedAt(w))
      if (emitted.isEmpty || wrong > 0 || missing > 0 ||
          emitted.map(_._1).distinct.length != emitted.length)
        failures("windows") = s"${emitted.length} windows emitted, $wrong with a wrong " +
          s"count, $missing closed windows missing"
    }

    val ps = progressed.toSeq
    Outcome(Seq(took), times, bodies.size + 2,
      failures.map { case (k, why) => s"$k: $why" }.toSeq,
      Map(
        "stream.rows_per_s" -> events.length / took.wallS,
        "stream.start_s" -> ps.map(p => p.wallS - p.triggerMs / 1000.0).sum,
        "stream.planning_ms" -> ps.map(_.planningMs).sum,
        "stream.add_batch_ms" -> ps.map(_.addBatchMs).sum,
        "stream.commit_ms" -> ps.map(_.commitMs).sum,
        "stream.latest_offset_ms" -> ps.map(_.latestOffsetMs).sum,
        "stream.state_rows" -> ps.map(_.stateRows).lastOption.getOrElse(0.0),
        "stream.state_commit_ms" -> ps.map(_.stateCommitMs).sum,
        "stream.state_mem_mb" -> (if (ps.isEmpty) 0.0 else ps.map(_.stateMemMb).max),
        "stream.batches" -> ps.map(_.batches).sum.toDouble,
        "stream.input_rows" -> ps.map(_.inputRows).sum.toDouble))
  }
}
