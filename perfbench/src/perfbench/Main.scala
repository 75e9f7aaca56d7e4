package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation's outcome: `payload` carries what the output checks need. */
final case class OpRecord(n: Int, key: String, wallMs: Double, cpuMs: Double, traced: Boolean,
    error: Option[String], payload: Map[String, Any])

/** A benchmark workload: a set-up (inputs, then a warm-up) and one
  * operation that the closed loop issues until the measuring time is used. */
trait Workload {
  /** Generates the inputs and the expected outputs; repeatable. */
  def input(spark: SparkSession, rep: Int): Unit

  /** Runs the workload's plans once, untimed, so that timed operations meet
    * compiled code and built indexes. */
  def warmUp(spark: SparkSession): Unit

  /** Operations per pass over the workload's mix; the loop ends on a whole
    * pass, so every run measures the same mix. */
  def passOps: Int

  /** Passes every run measures, however short `--seconds`. */
  def minPasses: Int

  /** What operation `n` runs, e.g. the catalog query's name. */
  def key(n: Int): String

  /** Runs operation `n`; `tracer`, when given, gets a span per layer.
    * Returns what the operation's check needs. */
  def op(spark: SparkSession, n: Int, tracer: Option[Tracer]): Map[String, Any]

  /** Untimed work after the loop, and the result fields the checks need. */
  def finish(spark: SparkSession, ops: Seq[OpRecord]): Map[String, Any]

  /** Per-layer metrics of the traced operations. */
  def layers(tracer: Tracer, ops: Seq[OpRecord], warmUpS: Double): Map[String, Double]
}

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <work dir> <entry epoch ms>`. Writes `<work dir>/result.json`. */
object Main {
  val SetUpReps = 3

  def session(work: String, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "52428800")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap still in use after a full collection, in MiB: what the program
    * retains (caches, memo tables, plans) once a run's work is done. */
  private def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  /** Median over operation keys run both ways of traced / untraced median
    * wall time, minus one; all operations pooled if no key ran both ways. */
  def traceOverhead(ops: Seq[OpRecord]): Double = {
    def ratio(os: Seq[OpRecord]): Option[Double] = {
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(median(t.map(_.wallMs)) / median(u.map(_.wallMs)))
    }
    val perKey = ops.groupBy(_.key).values.flatMap(ratio).toSeq
    (if (perKey.nonEmpty) median(perKey) else ratio(ops).getOrElse(1.0)) - 1
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process (every thread: main, tasks, JIT, GC), in ms. */
  private def cpuMs(): Double = os.getProcessCpuTime / 1e6

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, work, entryMsArg) = args
    val seed = seedArg.toLong
    val budgetNs = (secondsArg.toDouble * 1e9).toLong
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val workload: Workload = name match {
      case "medallion_refresh" => new Medallion(seed, work)
      case "catalog_sweep" => new CatalogSweep(seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up time is the median of repeated session starts and input
    // generations plus the one warm-up, which cannot be repeated in a warm
    // JVM. The first repetition also counts the time from the benchmark's
    // entry, which includes starting the JVM.
    val inputS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 1 to SetUpReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val fromEntryMs = if (rep == 1) System.currentTimeMillis() - entryMsArg.toLong else 0L
      spark = session(work, cores)
      workload.input(spark, rep)
      inputS += (System.nanoTime() - t0) / 1e9 + fromEntryMs / 1e3
    }
    val w0 = System.nanoTime()
    workload.warmUp(spark)
    val warmUpS = (System.nanoTime() - w0) / 1e9

    // Closed loop, one client: the next operation starts when the previous
    // one returns. A traced run traces operations in the pattern untraced,
    // traced, traced, untraced, so the cost of tracing can be read off
    // against untraced operations of the same run without the drift of a
    // warming JVM. The loop ends on a whole pass and a whole pattern.
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val start = System.nanoTime()
    var n = 0
    def whole(n: Int): Boolean = n % workload.passOps == 0 &&
      n / workload.passOps >= workload.minPasses && (!trace || n % 4 == 0)
    while (System.nanoTime() - start < budgetNs || !whole(n)) {
      val t = tracer.filter(_ => n % 4 == 1 || n % 4 == 2)
      t.foreach(_.attach())
      val t0 = System.nanoTime()
      val c0 = cpuMs()
      def record(payload: Map[String, Any], error: Option[String]) = OpRecord(n, workload.key(n),
        (System.nanoTime() - t0) / 1e6, cpuMs() - c0, t.nonEmpty, error, payload)
      val rec = try {
        val payload = t match {
          case Some(tr) => tr.span("op", n)(workload.op(spark, n, t))
          case None => workload.op(spark, n, None)
        }
        record(payload, None)
      } catch {
        case e: Exception =>
          record(Map.empty, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)))
      }
      t.foreach(_.detach())
      ops += rec
      n += 1
    }
    val measuredS = (System.nanoTime() - start) / 1e9

    val extra = workload.finish(spark, ops.toSeq)
    val traceFields: Map[String, Any] = tracer match {
      case None => Map.empty
      case Some(t) =>
        val traced = ops.filter(_.traced).toSeq
        Map("layers" -> (workload.layers(t, traced, warmUpS) ++ Map(
          "trace_overhead_frac" -> traceOverhead(ops.toSeq), "jvm.peak_rss_mb" -> peakRssMb(),
          "jvm.heap_live_mb" -> liveHeapMb())),
          "spans" -> t.spanRecords)
    }
    val result = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores, "pass_ops" -> workload.passOps,
      "setup_s" -> (median(inputS.toSeq) + warmUpS), "input_s" -> inputS.toSeq,
      "warmup_s" -> warmUpS, "measured_s" -> measuredS,
      "ops" -> ops.toSeq.map(o => Map("n" -> o.n, "key" -> o.key, "wall_ms" -> o.wallMs, "cpu_ms" -> o.cpuMs,
        "traced" -> o.traced, "error" -> o.error) ++ o.payload)) ++ extra ++ traceFields
    Files.writeString(Paths.get(work, "result.json"), Json(result))
    spark.stop()
  }
}
