package etlbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import scala.util.control.NonFatal
import graft.cli.{Main => Cli}
import graft.core.StateStore
import graft.ingest.Ingest

/** `etl_pipeline`: the reference job, driven through `cli.Main`.
  *
  * A mock CommCare API serves the run's events (30 days) as keyset
  * envelopes (`limit` 1000, `max_total_requests` 1000). The job pulls cold
  * up to a seed-chosen hour around day 15, pulls incrementally to day 31,
  * and pulls again to day 31, which must land nothing. `readBronzeDeduped`
  * then writes the landing JSON, and `runPushAll` sends it to a mock
  * receiver. Each step is one operation; its checks:
  *  - every pull leaves the watermark at its upper bound;
  *  - the repeat pull lands 0 rows;
  *  - the deduped bronze ids are exactly the served ids, each once;
  *  - every deduped id reaches the receiver.
  */
object EtlPipeline {
  val Rows = 20000
  val Users = 1500
  val Days = 30
  val Table = "events"
  val Steps: Seq[String] = Seq("cli.pull_cold", "cli.pull_incr", "cli.pull_repeat",
    "ingest.dedup", "push")

  def conf(api: String, receiver: String, job: String): Cli.JobConf = Cli.parseConf(
    s"""{"operation_type": "cc_to_s3", "domain": "bench", "url_base": "$api",
       | "tables": [{"name": "$Table", "uses_indexed_on": true, "limit": 1000}],
       | "landing_dir": "$job/landing", "bronze_dir": "$job/bronze",
       | "state_dir": "$job/state", "endpoint": "$receiver/push",
       | "specifiers": [{"name": "$Table", "method": "POST"}],
       | "max_total_requests": 1000}""".stripMargin)

  /** Watermark as `restPullRun` stores it, as an instant. */
  def watermark(state: StateStore): Option[Instant] =
    state.get(s"$Table.last_successful_job_time")
      .map(s => LocalDateTime.parse(s.replace(" ", "T")).toInstant(ZoneOffset.UTC))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val epoch = Instant.ofEpochSecond(DataGen.EventEpochMicros / 1000000L)
    val cut = epoch.plusSeconds(14L * 86400 + 12 * 3600 +
      new scala.util.Random(ctx.seed).nextInt(24 * 3600))
    val end = epoch.plusSeconds(31L * 86400)
    val (events, api, receiver) = t.span("etl.prepare") {
      val events = DataGen.events(ctx.seed, Rows, Users, Days)
      val lostPage =
        if (ctx.faults("drop_page")) events.slice(Rows / 2, Rows / 2 + 1000).map(_.id).toSet
        else Set.empty[Long]
      (events, new MockApi(events, ctx.cpus, lostPage),
        new MockReceiver(skipOne = ctx.faults("skip_push_row")))
    }
    val expectedIds = events.map(_.id).toSet
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val stepS = scala.collection.mutable.ArrayBuffer[Took]()
    def fail(step: String, why: String): Unit = if (!failures.contains(step)) failures(step) = why
    try {
      val job = ctx.dir("job")
      val c = conf(api.url, receiver.url, job)
      val state = new StateStore(c.stateDir)
      var pulled = Map.empty[String, Long]
      var requests = Map.empty[String, Long]
      var pushed = 0L

      def step(name: String)(body: => Unit): Unit = {
        val w = new Watch
        try t.span(name)(body)
        catch { case NonFatal(e) => fail(name, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        stepS += w.stop()
      }
      def pull(name: String, upper: Instant): Unit = step(name) {
        val r0 = api.requests.get()
        pulled += name -> Cli.runPull(spark, c, Cli.restPull(upper)).getOrElse(Table, -1L)
        requests += name -> (api.requests.get() - r0)
        if (!watermark(state).contains(upper))
          fail(name, s"watermark ${watermark(state)} after a pull to $upper")
      }

      val w = new Watch
      t.span("etl.job") {
        pull("cli.pull_cold", cut)
        pull("cli.pull_incr", end)
        pull("cli.pull_repeat", end)
        step("ingest.dedup") {
          // one landing file per core, so the push runs on every core
          Ingest.readBronzeDeduped(spark, s"${c.bronzeDir}/$Table", "id")
            .repartition(ctx.cpus).write.mode("overwrite").json(s"${c.landingDir}/$Table")
        }
        step("push")(Cli.runPushAll(spark, c))
        t.span("session.release")(graft.GraftSession.releaseCaches(spark))
      }
      val took = w.stop()

      t.span("etl.check") {
        if (!pulled.get("cli.pull_repeat").contains(0L))
          fail("cli.pull_repeat", s"repeat pull landed ${pulled.get("cli.pull_repeat")} rows")
        import spark.implicits._
        val landed = spark.read.json(s"${c.landingDir}/$Table").select("id").as[Long].collect()
        if (landed.length != landed.distinct.length || landed.toSet != expectedIds)
          fail("ingest.dedup", s"${landed.length} deduped rows (${landed.distinct.length} " +
            s"distinct) for ${expectedIds.size} served ids")
        pushed = receiver.ids.size.toLong
        if (receiver.ids.size != landed.distinct.length ||
            !landed.forall(id => receiver.ids.contains(id)))
          fail("push", s"receiver got ${receiver.ids.size} ids of ${landed.distinct.length}")
      }
      val pullS = stepS.take(3).map(_.wallS).sum
      val landedRows = pulled.values.filter(_ >= 0).sum.toDouble
      val bronze = Harness.treeStats(java.nio.file.Paths.get(c.bronzeDir), ".parquet")
      Outcome(Seq(took), stepS.toSeq, Steps.size,
        failures.map { case (s, why) => s"$s: $why" }.toSeq,
        Map(
          "cli.pull_rows" -> landedRows,
          "cli.pull_rows_per_s" -> landedRows / pullS,
          "push.rows_per_s" -> pushed / stepS.last.wallS,
          "sources.requests" -> api.requests.get().toDouble,
          "sources.rows_served" -> api.rowsServed.get().toDouble,
          "sources.bytes_served" -> api.bytesServed.get().toDouble,
          "sources.landed_per_served" -> landedRows / math.max(1L, api.rowsServed.get()),
          "ingest.bronze_files" -> bronze._1.toDouble,
          "ingest.bronze_mb" -> bronze._2 / 1048576.0,
          "push.requests" -> receiver.requests.get().toDouble,
          "push.failed" -> receiver.errors.get().toDouble) ++
          requests.map { case (step, n) =>
            s"sources.requests_${step.stripPrefix("cli.pull_")}" -> n.toDouble })
    } finally {
      api.close()
      receiver.close()
    }
  }
}
