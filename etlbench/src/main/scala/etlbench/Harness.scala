package etlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one workload run gets: the session, its own scratch directory, the
  * run seed and a tracer. `faults` names deliberately wrong outputs to
  * produce; only the self-test sets it. */
final case class Ctx(spark: SparkSession, cpus: Int, work: Path, data: Path, seed: Long,
                     tracer: Tracer, faults: Set[String] = Set.empty) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Wall and CPU seconds of one stretch of work; `cpuS` leaves out the JIT
  * compiler's threads, `jitS` is theirs. */
final case class Took(wallS: Double, cpuS: Double, jitS: Double)

/** Times a stretch of work from its creation to [[stop]].
  *
  * The CPU time is that of every thread of the JVM but the JIT compiler's:
  * Spark's task threads, the driver, the mock servers and GC. On a host
  * shared with other virtual machines it is the steadier figure: the kernel
  * leaves out the time the host held a CPU back (steal), which wall time
  * counts and Spark's stage barriers multiply. JIT compilation is left out
  * because in a run of a minute it is still about half of all CPU time and
  * its amount depends on timing; it is HotSpot's warm-up, not graft's
  * work. Spark's own code generation runs on the driver and task
  * threads and is counted. */
final class Watch {
  private val w0 = System.nanoTime()
  private val c0 = Watch.cpuNs
  private val j0 = Watch.jitNs
  def stop(): Took = {
    val jit = Watch.jitNs - j0
    Took((System.nanoTime() - w0) / 1e9, (Watch.cpuNs - c0 - jit) / 1e9, jit / 1e9)
  }
}

object Watch {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used since it started, in nanoseconds. */
  def cpuNs: Long = os.getProcessCpuTime

  /** CPU time of the JIT compiler threads so far, in nanoseconds, from
    * `/proc/self/task/<tid>/schedstat`. The threads must live as long as the
    * JVM (`-XX:-UseDynamicNumberOfCompilerThreads`, set by `run.py`): the
    * time of a compiler thread that exits would be lost from this sum. */
  def jitNs: Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm"))).trim
        if (!comm.matches("C\\d CompilerThre.*")) 0L
        else new String(Files.readAllBytes(t.toPath.resolve("schedstat"))).trim
          .split(" ")(0).toLong
      } catch { case _: java.io.IOException | _: NumberFormatException => 0L }
    }.sum
  }
}

/** What a workload reports back: the times of each timed pass and of each
  * operation (a lane, a pipeline step, an arrival), the output checks, and
  * the layer numbers only its own code can see. */
final case class Outcome(pass: Seq[Took], ops: Seq[Took], attempted: Int,
                         failures: Seq[String], layers: Map[String, Double] = Map.empty)

object Harness {
  /** Session for every run: graft's own builder, with Spark's scratch and
    * warehouse directories kept under the run's work directory. */
  def session(cpus: Int, work: Path): SparkSession = {
    val spark = graft.GraftSession.builder(cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The same small jobs before every timed region, whatever the
    * workload: scans, aggregations, a join, a window and a parquet and JSON
    * round trip, repeated so that class loading, first codegen and the
    * JIT compilation of Spark's planner are paid in set-up rather than by
    * whichever operation happens to run first. */
  def warmUp(spark: SparkSession, work: Path, rounds: Int = 3): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    (0 until rounds).foreach { r =>
      val keys = spark.range(0, 97).withColumnRenamed("id", "k")
      val agg = spark.range(0, 200000).select((col("id") % 97).as("k"), col("id"))
        .groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("n"))
        .join(keys, "k")
        .withColumn("rank", rank().over(Window.orderBy(col("s").desc)))
      val out = work.resolve(s"warmup$r").toString
      agg.write.mode("overwrite").parquet(s"$out/p")
      spark.read.parquet(s"$out/p").select(to_json(struct(col("*"))).as("j"))
        .write.mode("overwrite").text(s"$out/j")
      val n = spark.read.json(s"$out/j").agg(sum("n")).head().getLong(0)
      require(n == 200000L, s"warm-up read back $n rows")
    }
  }

  /** Heap and JVM meters over a timed region. The heap figure is the most
    * heap found in use right after a collection: what the run retained,
    * which the adaptive young-generation sizing does not move. */
  final class JvmMeter {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val jit = ManagementFactory.getCompilationMXBean
    private def gcMs = gcs.map(_.getCollectionTime).sum
    private def gcCount = gcs.map(_.getCollectionCount).sum
    private var gc0 = 0L; private var gcn0 = 0L; private var jit0 = 0L
    @volatile private var startUptime = Long.MaxValue
    @volatile private var retainedMb = 0.0
    private val seen = new java.util.concurrent.atomic.AtomicLong()
    gcs.foreach { gc =>
      gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
        (n: javax.management.Notification, _: AnyRef) => {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
          if (info.getStartTime >= startUptime) retainedMb = math.max(retainedMb,
            info.getMemoryUsageAfterGc.values().asScala.map(_.getUsed).sum / 1048576.0)
          seen.incrementAndGet()
        }, null, null)
    }

    def start(): Unit = {
      startUptime = ManagementFactory.getRuntimeMXBean.getUptime
      gc0 = gcMs; gcn0 = gcCount; jit0 = jit.getTotalCompilationTime
    }

    var gcPauseS, gcCountDelta, jitS, peakHeapMb = 0.0

    /** Ends the region: reads the counters, then collects once more so that
      * the heap figure always has a sample. */
    def stop(): Unit = {
      gcPauseS = (gcMs - gc0) / 1000.0
      gcCountDelta = (gcCount - gcn0).toDouble
      jitS = (jit.getTotalCompilationTime - jit0) / 1000.0
      val n = seen.get()
      System.gc()
      val deadline = System.nanoTime() + 2000000000L
      while (seen.get() == n && System.nanoTime() < deadline) Thread.sleep(5)
      peakHeapMb = retainedMb
    }
  }

  def treeStats(p: Path, suffix: String): (Int, Long) =
    if (!Files.exists(p)) (0, 0L)
    else {
      val w = Files.walk(p)
      try {
        val files = w.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)).toSeq
        (files.size, files.map(Files.size).sum)
      } finally w.close()
    }

  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def json(v: Any): String = mapper.writeValueAsString(toJava(v))
  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_]    => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x            => x
  }
}
