package etlbench

import java.nio.file.Path

/** The benchmark's test of its own checks: each case makes one workload
  * produce a deliberately wrong output and expects the checks to report
  * that operation as failed. Returns the process exit code. */
object SelfTest {
  private val Cases: Seq[(String, String, Seq[String])] = Seq(
    // (fault, workload, failed operations it must be reported as)
    ("drop_page", "etl_pipeline", Seq("ingest.dedup")),
    ("skip_push_row", "etl_pipeline", Seq("push")),
    ("change_lane", "lanes_small", Seq("q01_scan_filter_project")),
    ("drop_arrival_row", "stream_ingest", Seq("bronze", "windows")))

  def run(work: Path, data: Path): Int = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Harness.session(cpus, work)
    val missed = Cases.filterNot { case (fault, workload, ops) =>
      val ctx = Ctx(spark, cpus, work.resolve(fault), data, 1L, new Tracer, Set(fault))
      val out = workload match {
        case "etl_pipeline"  => EtlPipeline.run(ctx)
        case "stream_ingest" => StreamIngest.run(ctx)
        case "lanes_small"   =>
          val (_, thrown, got) = Lanes.pass(ctx, ops)
          Outcome(Nil, Nil, ops.size, thrown.keys.toSeq ++
            Lanes.check(ops, got, Expected.load(Lanes.Sf)))
      }
      val caught = ops.forall(op => out.failures.exists(_.startsWith(op)))
      println(s"[selftest] $fault on $workload: " +
        (if (caught) "caught" else "NOT caught") + s" (${out.failures.mkString("; ")})")
      caught
    }
    spark.stop()
    if (missed.isEmpty) 0 else 1
  }
}
