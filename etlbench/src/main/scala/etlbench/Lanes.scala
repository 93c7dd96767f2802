package etlbench

import scala.util.control.NonFatal
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** `lanes_small`: query lanes at sf0.01, each written once to a `noop` sink
  * in a fixed order, with `GraftSession.releaseCaches` after each.
  * Compute is nearly nil at this size, so a lane's wall time is mostly its
  * fixed cost: analysis, planning, codegen, eager barrier jobs, job
  * scheduling and cache release.
  *
  * The lanes are a frozen sample of the light lanes: every 14th name, in
  * sorted order, of the lanes outside [[Heavy]]. A pass over all 194 takes
  * about two minutes on 4 cores, far longer than one run may take. The list
  * is frozen by name so that adding or removing a lane elsewhere does not
  * change this workload.
  *
  * The order is fixed, so the run seed changes nothing here. A lane's time
  * depends on which lanes ran before it (the first lane to use a code path
  * pays its JIT compilation), and a seed-permuted order moved the median
  * lane time by 15-22% from seed to seed. For the same reason set-up ends
  * with one pass over the same lanes on sf0.001 tables ([[warmUp]]); other
  * tables, so that nothing a lane could keep from that pass answers the
  * timed one.
  */
object Lanes {
  val Sf = "0.01"
  /** Scale factor of the warm-up pass that set-up makes over the same lanes. */
  val WarmSf = "0.001"

  val Small: Seq[String] = Seq(
    "q01_scan_filter_project", "q11_agg_misc", "q15_rank_topk", "q21_json_funcs",
    "q23_repetition", "q25_embed_neardup", "q26_semantic_dedup", "q33_decontam", "q35_pack",
    "q39_dynamic_prune", "q47_ldiversity", "q60_recursive_cte", "q82_gini")

  /** Lanes whose Σtask-time / wall is ≥ 2 at sf0.1 on 4 cores: kernel,
    * shuffle and GC bound. Kept out of [[Small]]. */
  val Heavy: Seq[String] = Seq(
    "q20_percentile", "q24_jaccard_pairs", "q24_lsh_est", "q32_audio_decode", "q32_decode",
    "q32_phash_dup", "q32_pixel_embed", "q32_video_frames", "q62_triangles",
    "q67_cooccur_sim", "q73_kcore", "q74_assortativity", "q80_rank_movers",
    "q81_apriori_rules", "q83_degree_dist", "q86_modularity", "q92_containment",
    "q93_containment_full")

  /** Output row counts, read from each noop write's executed plan: the
    * lane's result carries an `observe` count, which Spark reports with the
    * finished query execution. No second action runs. */
  final class RowCounts extends QueryExecutionListener {
    val rows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) => rows.put(name, row.getLong(0)) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Run `names` once each; returns per-lane times, one failure line per
    * lane that threw, and the observed row counts. */
  def pass(ctx: Ctx, names: Seq[String], sf: String = Sf)
  : (Seq[Took], Map[String, String], Map[String, Long]) = {
    val lane: String => org.apache.spark.sql.DataFrame = name => {
      val df = graft.SparkEntry.queries(name)(ctx.spark, ctx.data.resolve(s"sf$sf").toString)
      if (ctx.faults("change_lane")) df.union(df.limit(1)) else df
    }
    val spark = ctx.spark
    val t = ctx.tracer
    val counts = new RowCounts
    spark.listenerManager.register(counts)
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val times = names.map { name =>
      val w = new Watch
      t.span(s"lane:$name") {
        try {
          val df = t.span("queries.construct")(lane(name))
          t.span("queries.execute") {
            df.observe(name, count(lit(1))).write.format("noop").mode("overwrite").save()
          }
        } catch {
          case NonFatal(e) => failures(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        t.span("session.release") {
          t.note("released_rdds" -> graft.GraftSession.releaseCaches(spark).toDouble)
        }
      }
      w.stop()
    }
    org.apache.spark.etlbenchshim.BusShim.drain(spark.sparkContext)
    spark.listenerManager.unregister(counts)
    val got = names.flatMap(n => Option(counts.rows.get(n)).map(n -> _)).toMap
    (times, failures.toMap, got)
  }

  /** One line per lane whose row count is missing or differs from the
    * recorded one. */
  def check(names: Seq[String], got: Map[String, Long], expected: Map[String, Long]): Seq[String] =
    names.flatMap { n =>
      (got.get(n), expected.get(n)) match {
        case (Some(a), Some(e)) if a != e => Some(s"$n: $a rows, expected $e")
        case (None, _) => Some(s"$n: no row count observed")
        case (_, None) => Some(s"$n: no recorded row count for sf$Sf")
        case _ => None
      }
    }

  /** Set-up part of this workload: the lanes once on sf0.001, unchecked. */
  def warmUp(ctx: Ctx): Unit = {
    val (_, thrown, _) = pass(ctx, Small, WarmSf)
    thrown.foreach { case (n, why) => System.err.println(s"[warm-up] $n failed: $why") }
  }

  def run(ctx: Ctx): Outcome = {
    val w = new Watch
    val (times, thrown, got) = ctx.tracer.span("lanes.pass")(pass(ctx, Small))
    val took = w.stop()
    val failures = thrown.map { case (n, why) => s"$n: $why" }.toSeq ++
      check(Small.filterNot(thrown.contains), got, Expected.load(Sf))
    Outcome(Seq(took), times, Small.size, failures,
      Map("lane.rows" -> got.values.sum.toDouble))
  }
}

/** Recorded output row counts per lane and scale factor
  * (`expected_rows_sf<sf>.json` beside the benchmark sources). */
object Expected {
  def file(sf: String): java.nio.file.Path =
    java.nio.file.Paths.get(sys.props.getOrElse("etlbench.home", "."), s"expected_rows_sf$sf.json")

  def load(sf: String): Map[String, Long] = {
    val f = file(sf)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val n = Harness.mapper.readTree(f.toFile)
      n.fieldNames().asScala.map(k => k -> n.get(k).asLong()).toMap
    }
  }

  def save(sf: String, rows: Map[String, Long]): Unit = {
    val sorted = new java.util.LinkedHashMap[String, java.lang.Long]()
    rows.toSeq.sortBy(_._1).foreach { case (k, v) => sorted.put(k, v) }
    Harness.mapper.writerWithDefaultPrettyPrinter().writeValue(file(sf).toFile, sorted)
  }
}
