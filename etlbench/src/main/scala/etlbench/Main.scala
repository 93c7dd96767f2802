package etlbench

import java.nio.file.Paths
import scala.util.control.NonFatal

/** JVM entry of the benchmark; `run.py` starts it with the classpath and the
  * JVM flags of the root build.
  *
  *  - `gen <data> <sf>`: write the lane tables for one scale factor.
  *  - `record <data> <sf>`: run every lane once, save its output row count.
  *  - `run <workload> <seed> <seconds> <trace 0|1> <work> <data> <traceFile>`:
  *    set up, print `@ready <CPU seconds so far>`, run the workload and print
  *    `@result <json>` with each pass's and each operation's wall and CPU
  *    seconds (see [[Watch]]).
  *    Each workload is sized for about [[PassSeconds]] of measured work on 4
  *    cores; `seconds` sets how many passes run (at least one).
  *  - `selftest <work> <data>`: make each workload produce a wrong output;
  *    exits 1 if a check lets one through.
  */
object Main {
  val Workloads: Seq[String] = Seq("etl_pipeline", "lanes_small", "stream_ingest")
  val PassSeconds = 15

  private def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Marks the end of set-up, with the CPU seconds the JVM has used so far,
    * its JIT compiler threads left out as in [[Watch]]. */
  private def ready(): Unit = {
    println(s"@ready ${(Watch.cpuNs - Watch.jitNs) / 1e9}")
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    graft.core.Barrier.assertNoOverride("etlbench")
    args.toSeq match {
      case Seq("gen", data, sf) =>
        val spark = Harness.session(cpus, Paths.get(data))
        DataGen.writeTables(spark, s"$data/sf$sf", sf.toDouble)
        spark.stop()
      case Seq("record", data, sf) => record(data, sf)
      case Seq("run", workload, seed, seconds, trace, work, data, traceFile) =>
        run(workload, seed.toLong, seconds.toInt, trace == "1", work, data, traceFile)
      case Seq("selftest", work, data) => sys.exit(SelfTest.run(Paths.get(work), Paths.get(data)))
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
  }

  private def record(data: String, sf: String): Unit = {
    val work = Paths.get(data).resolve("record")
    val spark = Harness.session(cpus, work)
    val ctx = Ctx(spark, cpus, work, Paths.get(data), 0L, new Tracer)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val (_, thrown, got) = Lanes.pass(ctx, names)
    thrown.foreach { case (n, why) => System.err.println(s"[record] $n failed: $why") }
    Expected.save(sf, got)
    println(s"recorded ${got.size} of ${names.size} lanes at sf$sf")
    spark.stop()
  }

  private def run(workload: String, seed: Long, seconds: Int, trace: Boolean,
                  work: String, data: String, traceFile: String): Unit = {
    require(Workloads.contains(workload), s"unknown workload $workload")
    val workDir = Paths.get(work)
    val spark = Harness.session(cpus, workDir)
    Harness.warmUp(spark, workDir)
    if (workload == "lanes_small")
      Lanes.warmUp(Ctx(spark, cpus, workDir.resolve("warm-up"), Paths.get(data), seed, new Tracer))
    ready()
    val tracer = new Tracer
    val recorder = if (trace) Some(new SparkRecorder(spark).install()) else None
    val passes = math.max(1, math.round(seconds.toDouble / PassSeconds).toInt)
    val meter = new Harness.JvmMeter
    System.gc()
    meter.start()
    val t0 = tracer.nowMs
    val outcomes = (0 until passes).map { i =>
      val ctx = Ctx(spark, cpus, workDir.resolve(s"pass$i"), Paths.get(data),
        seed + i * 1000003L, tracer)
      val w = new Watch
      try workload match {
        case "etl_pipeline"  => EtlPipeline.run(ctx)
        case "lanes_small"   => Lanes.run(ctx)
        case "stream_ingest" => StreamIngest.run(ctx)
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          val took = w.stop()
          Outcome(Seq(took), Seq(took), 1, Seq(s"$workload aborted: $e"))
      }
    }
    val t1 = tracer.nowMs
    // workload-specific layer numbers are those of the first pass
    val outcome = Outcome(outcomes.flatMap(_.pass), outcomes.flatMap(_.ops),
      outcomes.map(_.attempted).sum, outcomes.flatMap(_.failures), outcomes.head.layers)
    val ctx = Ctx(spark, cpus, workDir, Paths.get(data), seed, tracer)
    meter.stop()
    val layers = recorder.map { r =>
      r.uninstall()
      Layers.report(ctx, r, meter, t0, t1, outcome, workload, traceFile)
    }.getOrElse(Map.empty)
    outcome.failures.foreach(f => System.err.println(s"[check] FAILED $f"))
    println("@result " + Harness.json(Map(
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failures.size,
      "failures" -> outcome.failures,
      "pass_s" -> outcome.pass.map(_.wallS),
      "pass_cpu_s" -> outcome.pass.map(_.cpuS),
      "op_s" -> outcome.ops.map(_.wallS),
      "op_cpu_s" -> outcome.ops.map(_.cpuS),
      "pass_jit_s" -> outcome.pass.map(_.jitS),
      "peak_heap_mb" -> meter.peakHeapMb,
      "layers" -> layers)))
    System.out.flush()
    spark.stop()
  }
}
