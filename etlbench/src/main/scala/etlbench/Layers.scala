package etlbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Per-layer numbers of a traced run. Spark jobs are attributed to the
  * innermost span they started in, tasks to the job that ran their stage.
  * Every span name that is not per-operation (`lane:…`, `arrival:…`) also
  * yields `<name>_s` (its summed wall) and `<name>_jobs`.
  *
  * Writes one JSONL file: a line per span, then one `layers` line with
  * every number. Returns the numbers. */
object Layers {
  private val Mb = 1048576.0

  def report(ctx: Ctx, rec: SparkRecorder, meter: Harness.JvmMeter, t0: Double, t1: Double,
             outcome: Outcome, workload: String, traceFile: String): Map[String, Double] = {
    val spans = ctx.tracer.spans
    val jobs = rec.jobs.values().asScala.toSeq.sortBy(_.id)
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> j.id)).groupBy(_._1)
      .map { case (s, js) => s -> js.map(_._2).min }
    val tasksByJob = rec.tasks.asScala.toSeq.groupBy(t => stageJob.getOrElse(t.stage, -1))
    val ranStages = rec.tasks.asScala.map(_.stage).toSet

    def jobsIn(a: Double, b: Double) = jobs.filter(j => j.start >= a && j.start <= b)

    /** Spark runtime numbers for the jobs started in [a, b]. */
    def spark(a: Double, b: Double): Map[String, Double] = {
      val js = jobsIn(a, b)
      val ts = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      val wallS = (b - a) / 1000.0
      val taskS = ts.map(_.runMs).sum / 1000.0
      // union of job intervals inside the window: time some job was running
      val busy = js.map(j => (math.max(a, j.start.toDouble), math.min(b, jobEnd(j, b))))
        .filter(i => i._2 > i._1).sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (s, e)) =>
          if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
        }._1
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> js.flatMap(_.stages).distinct.count(ranStages).toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.driver_only_s" -> (wallS - busy / 1000.0),
        "spark.task_s" -> taskS,
        "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
        "spark.shuffle_read_mb" -> ts.map(_.shuffleReadB).sum / Mb,
        "spark.shuffle_write_mb" -> ts.map(_.shuffleWriteB).sum / Mb,
        "spark.spill_mb" -> ts.map(_.spillB).sum / Mb,
        "spark.peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMemB).max / Mb),
        "spark.idle_core_s" -> (ctx.cpus * wallS - taskS),
        "spark.par" -> (if (wallS > 0) taskS / wallS else 0.0))
    }
    def jobEnd(j: SparkRecorder.Job, b: Double): Double = if (j.end < 0) b else j.end.toDouble

    val children = spans.groupBy(_.parent)
    def selfS(s: ctx.tracer.Span) = s.wallS - children.getOrElse(s.id, Nil).map(_.wallS).sum

    val queries = rec.queries.asScala.toSeq.filter(q => q.endMs >= t0 && q.endMs <= t1)
    val named = spans.filterNot(_.name.contains(":")).groupBy(_.name).toSeq.sortBy(_._1)
      .flatMap { case (name, ss) =>
        Seq(s"${name}_s" -> ss.map(_.wallS).sum,
          s"${name}_jobs" -> ss.map(s => jobsIn(s.start, s.end).size).sum.toDouble)
      }
    // call-site numbers: the push stage's tasks, and per pull the tasks of
    // the first stage that scans the REST source
    val stageList = rec.stages.asScala.toSeq
    val pushStages = stageList.filter(_.details.contains("graft.push.PushJob$.push")).map(_.id).toSet
    val pushTasks = rec.tasks.asScala.filter(t => pushStages(t.stage))
    val scanTasks = spans.filter(_.name.startsWith("cli.pull_")).groupBy(_.name).toSeq.map {
      case (name, ss) =>
        val ids = ss.flatMap(s => jobsIn(s.start, s.end).flatMap(_.stages)).toSet
        s"sources.scan_tasks.${name.stripPrefix("cli.pull_")}" ->
          stageList.filter(st => ids(st.id) && st.restScan).sortBy(_.id).headOption
            .map(_.numTasks.toDouble).getOrElse(0.0)
    }
    val released = spans.filter(_.name == "session.release")
      .flatMap(_.attrs.get("released_rdds")).sum
    val wallS = (t1 - t0) / 1000.0
    val layers: Map[String, Double] = spark(t0, t1) ++ named ++ scanTasks ++ outcome.layers ++ Map(
      "push.partitions" -> pushTasks.size.toDouble,
      "push.wait_s" -> pushTasks.map(t => t.runMs / 1000.0 - t.cpuNs / 1e9).sum,
      "plan.queries" -> queries.size.toDouble,
      "plan.analysis_s" -> queries.map(_.analysisMs).sum / 1000.0,
      "plan.optimize_s" -> queries.map(_.optimizeMs).sum / 1000.0,
      "plan.physical_s" -> queries.map(_.planMs).sum / 1000.0,
      "plan.s" -> queries.map(q => q.analysisMs + q.optimizeMs + q.planMs).sum / 1000.0,
      "session.release_s" -> spans.filter(_.name == "session.release").map(_.wallS).sum,
      "session.released_rdds" -> released,
      // AQE runs stages on its own threads, so the bronze write is found by
      // the call site of its SQL execution, not of its stages
      "ingest.write_s" -> rec.executions.values().asScala
        .filter(x => x.details.contains("graft.ingest.Ingest$.writeBronze") && x.endMs > 0)
        .map(x => (x.endMs - x.startMs) / 1000.0).sum,
      "jvm.gc_pause_s" -> meter.gcPauseS,
      "jvm.gc_count" -> meter.gcCountDelta,
      "jvm.jit_s" -> meter.jitS,
      "trace.timed_s" -> wallS,
      "trace.cover" -> ctx.tracer.topLevel.map(_.wallS).sum / wallS)

    val base = Map("workload" -> workload, "seed" -> ctx.seed)
    val lines = spans.map { s =>
      Harness.json(base ++ Map("kind" -> "span", "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end, "wall_s" -> s.wallS,
        "self_s" -> selfS(s), "spark" -> spark(s.start, s.end), "attrs" -> s.attrs.toMap))
    } ++ stageList.sortBy(_.id).map { st =>
      Harness.json(base ++ Map("kind" -> "stage", "id" -> st.id, "name" -> st.name,
        "start_ms" -> st.startMs, "end_ms" -> st.endMs, "tasks" -> st.numTasks,
        "call_site" -> st.details.linesIterator.filter(_.contains("graft.")).take(3).toSeq))
    } :+ Harness.json(base ++ Map("kind" -> "layers") ++ layers)
    val out = Paths.get(traceFile)
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.write(out, lines.asJava)
    layers
  }
}
