package etlbench

import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic inputs.
  *
  * The lane tables follow the shape of graft's TPC-H-ish star schema plus
  * `events`, `documents` and `embeddings` (same columns, types, domains and
  * cardinalities per scale factor). They are generated from one fixed
  * dataset seed, so each lane's output row count can be recorded once and
  * checked on every run; the run seed only orders the lanes.
  *
  * The event streams of the ETL and streaming workloads are generated from
  * the run seed: a different seed gives different ids, timestamps and
  * payloads, and every check is computed from the generated rows.
  */
object DataGen {
  val DatasetSeed = 42L

  /** Start of the 30-day event range, in epoch micros (2024-01-01T00:00Z). */
  val EventEpochMicros: Long = 1704067200L * 1000000L
  val DayMicros: Long = 86400L * 1000000L

  final case class Event(id: Long, tsMicros: Long, userId: Long, eventType: String,
                         value: Double, k: Int)

  private val EventTypes = Array("click", "view", "purchase", "signup", "error")

  /** `n` events over `days` days from [[EventEpochMicros]], ids in time order,
    * timestamps distinct. */
  def events(seed: Long, n: Int, users: Int, days: Int): Array[Event] = {
    val r = new SplittableRandom(seed * 1000003L + 17L)
    val span = days * DayMicros
    val ts = Array.fill(n)(EventEpochMicros + r.nextLong(span)).sorted
    var i = 1
    while (i < n) { if (ts(i) <= ts(i - 1)) ts(i) = ts(i - 1) + 1; i += 1 }
    Array.tabulate(n) { i =>
      Event(i.toLong, ts(i), r.nextInt(users).toLong, EventTypes(r.nextInt(EventTypes.length)),
        round2(0.01 + -50.0 * math.log(1.0 - r.nextDouble()) min 490.0), r.nextInt(100))
    }
  }

  private def round2(d: Double): Double = math.rint(d * 100.0) / 100.0

  private def write(spark: SparkSession, dir: String, name: String, schema: StructType,
                    rows: Seq[Row]): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def dayTs(epochDay: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(epochDay * 86400L))

  private val Status = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("O", "F")
  private val Words = Array("join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line", "data", "table", "agg",
    "value", "key", "stream", "window", "spark", "a", "group", "part", "big", "sort",
    "query", "fast", "the")

  /** Write every lane table for scale factor `sf` under `dir`. */
  def writeTables(spark: SparkSession, dir: String, sf: Double): Unit = {
    def rng(table: String) = new SplittableRandom(DatasetSeed * 31L + table.hashCode)
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDocs = if (sf <= 0.01) 500 else n(50000)
    val nEmb = if (sf <= 0.01) 500 else n(20000)

    write(spark, dir, "region", StructType.fromDDL("r_regionkey INT, r_name STRING"),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) })
    write(spark, dir, "nation",
      StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segs = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val rc = rng("customer")
    write(spark, dir, "customer", StructType.fromDDL("c_custkey BIGINT, c_name STRING, " +
      "c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        round2(-999.99 + rc.nextDouble() * 10999.98), segs(rc.nextInt(segs.length)))))

    val rs = rng("supplier")
    write(spark, dir, "supplier", StructType.fromDDL(
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        round2(-999.99 + rs.nextDouble() * 10999.98))))

    val adj = Array("small", "red", "blue", "hot", "old", "large", "new", "cold")
    val noun = Array("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
    val types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val rp = rng("part")
    write(spark, dir, "part", StructType.fromDDL("p_partkey BIGINT, p_name STRING, " +
      "p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE"),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adj(rp.nextInt(adj.length))} ${noun(rp.nextInt(noun.length))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(types.length)), 1 + rp.nextInt(50),
        round2(900.0 + (i % 1000) / 10.0))))

    // o_orderdate 1995-01-01 .. 2001-08-01, l_shipdate 1995-01-02 .. 2001-11-04
    val d0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng("orders")
    write(spark, dir, "orders", StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
      (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        Status(ro.nextInt(3)), round2(1000.0 + ro.nextDouble() * 499000.0),
        dayTs(d0 + ro.nextInt(2404)), prios(ro.nextInt(prios.length)))))

    val rl = rng("lineitem")
    write(spark, dir, "lineitem", StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, " +
      "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
      "l_shipdate TIMESTAMP"),
      (0 until nLine).map(_ => Row(rl.nextInt(nOrd).toLong, rl.nextInt(nPart).toLong,
        rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7), (1 + rl.nextInt(50)).toDouble,
        round2(900.0 + rl.nextDouble() * 104100.0), rl.nextInt(11) / 100.0,
        rl.nextInt(9) / 100.0, ReturnFlags(rl.nextInt(3)),
        LineStatus(rl.nextInt(2)), dayTs(d0 + 1 + rl.nextInt(2498)))))

    write(spark, dir, "events", StructType.fromDDL("event_id BIGINT, ts TIMESTAMP, " +
      "user_id BIGINT, event_type STRING, value DOUBLE, props STRING"),
      events(DatasetSeed, nEv, n(15000), 30).toSeq.map(e => Row(e.id,
        microsTs(e.tsMicros), e.userId, e.eventType, e.value, s"""{"k": ${e.k}}""")))

    // ~5% near-duplicates: an earlier document's text plus a marker word
    val langs = Array("zh", "de", "fr", "es")
    val rd = rng("documents")
    val texts = new Array[String](nDocs)
    write(spark, dir, "documents", StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
      (0 until nDocs).map { i =>
        texts(i) =
          if (i > 0 && rd.nextInt(20) == 0) texts(rd.nextInt(i)) + " dup"
          else Array.fill(10 + rd.nextInt(90))(Words(rd.nextInt(Words.length))).mkString(" ")
        val lang = if (rd.nextInt(100) < 44) "en" else langs(rd.nextInt(langs.length))
        Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
      })

    // unit vectors around one random centroid per label
    val re = rng("embeddings")
    val centroids = Array.fill(10)(Array.fill(64)(re.nextDouble() * 2 - 1))
    write(spark, dir, "embeddings", StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"),
      (0 until nEmb).map { i =>
        val label = re.nextInt(10)
        val v = centroids(label).map(c => 0.3 * c + gaussian(re))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }

  def microsTs(micros: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
}
