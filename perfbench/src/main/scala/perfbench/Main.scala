package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What a workload's measurement loop produced. `latMs` are the per-unit
  * latencies; `work` counts the workload's unit of work done in `wallSec`.
  * `failures` names each failed or wrong operation. A workload made of a
  * few long repetitions gives each one's rate in `rates`, and reports
  * their median as its throughput. */
final case class Measured(work: Double, wallSec: Double, latMs: Seq[Double],
                          attempted: Long, failures: Seq[String],
                          rates: Seq[Double] = Nil) {
  def ++(o: Measured): Measured = Measured(work + o.work, wallSec + o.wallSec,
    latMs ++ o.latMs, attempted + o.attempted, failures ++ o.failures, rates ++ o.rates)
  def throughput: Double = if (rates.nonEmpty) Stats.median(rates) else work / wallSec
}

object Measured {
  val empty: Measured = Measured(0, 0, Nil, 0, Nil)
}

/** Everything a workload sees: a fresh session, its own work directory
  * inside the checkout, the seed, and the tracing instruments. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: Path,
                val tracer: Tracer, val meter: Meter, val progress: Progress) {
  def path(name: String): String = dir.resolve(name).toString
}

trait Workload {
  def name: String
  /** The fixed tail percentile this workload reports as latency_tail_ms. */
  def tailP: Double
  /** Input generation and warm-up on a fresh session. */
  def setup(ctx: Ctx): Unit
  /** Run the workload's loop for about `seconds`. */
  def measure(ctx: Ctx, seconds: Double): Measured
  /** Traced-run probes of single layers, after the traced measurement. */
  def layers(ctx: Ctx, traced: Measured): Seq[(String, Metric)]
  def teardown(): Unit = ()
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "records_catchup" -> (() => new RecordsCatchup),
    "records_http" -> (() => new RecordsHttp))

  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** The session `graft.Bench` uses, with every directory inside `dir`. */
  def session(dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Heap still in use after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Machine-speed probe (diagnostic only): codegen'd arithmetic over 2^24
    * rows, median of three. */
  def cpuRefSec(spark: SparkSession): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 24).selectExpr("sum(id * 3 + (id % 7))").collect()
      (System.nanoTime() - t0) / 1e9
    })

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val wl = Workloads.getOrElse(name,
      sys.error(s"unknown workload $name; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))()
    Files.createDirectories(work)

    // Set-up is repeated and its median reported. A traced run sets up
    // three times too — cold, untraced, traced — and then measures in four
    // slices, untraced / traced / traced / untraced, so that tracing
    // overhead (traced minus untraced) is not confounded with warm-up.
    val tracer = new Tracer(false)
    val meter = new Meter
    val setupSec = ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    for (rep <- 0 until 3) {
      if (ctx != null) { wl.teardown(); ctx.spark.stop() }
      tracer.on = trace && rep == 2
      val t0 = System.nanoTime()
      val spark = session(work.resolve(s"rep$rep"))
      val progress = new Progress
      spark.streams.addListener(progress)
      if (trace) spark.sparkContext.addSparkListener(meter)
      tracer.spark = spark
      ctx = new Ctx(spark, seed, Files.createDirectories(work.resolve(s"rep$rep/data")),
        tracer, meter, progress)
      tracer.span("setup")(wl.setup(ctx))
      setupSec += (System.nanoTime() - t0) / 1e9
    }

    val (m, untracedM) =
      if (!trace) (wl.measure(ctx, seconds), Measured.empty)
      else {
        var plain, traced = Measured.empty
        for (on <- Seq(false, true, true, false)) {
          tracer.on = on
          val x = if (on) tracer.span("measure")(wl.measure(ctx, seconds / 4))
                  else wl.measure(ctx, seconds / 4)
          if (on) traced = traced ++ x else plain = plain ++ x
        }
        tracer.on = true
        (traced, plain)
      }
    val layerMetrics = if (trace) wl.layers(ctx, m) else Nil
    val cpuRef = if (trace) cpuRefSec(ctx.spark) else Double.NaN
    val rss = peakRssMb()
    val liveHeap = if (trace) liveHeapMb() else Double.NaN

    def e2e(x: Measured, setup: Double): Seq[(String, Metric)] = {
      val n = x.latMs.size
      require(n > 0, s"$name: no latency samples")
      Seq(
        "setup_s" -> Metric(setup, "s"),
        "throughput" -> Metric(x.throughput, "1/s"),
        "latency_p50_ms" -> Metric(Stats.median(x.latMs), "ms"),
        "latency_tail_ms" -> Metric(Stats.percentile(x.latMs, wl.tailP), "ms"),
        "peak_rss_mb" -> Metric(rss, "MiB"))
    }

    val all = untracedM ++ m
    val failures = all.failures
    val n = m.latMs.size
    val supported = Stats.tailPercentile(n).exists(_ >= wl.tailP)
    System.err.println(f"[perfbench] $name seed=$seed trace=$trace samples=$n " +
      f"tail=p${wl.tailP}%.1f${if (supported) "" else " (fewer than 10 samples beyond it)"} " +
      f"setup=${setupSec.map(s => f"$s%.2f").mkString("/")} cpu_ref_s=$cpuRef%.3f " +
      s"failures=${failures.size}")
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))

    val metrics: Seq[(String, Metric)] =
      if (!trace) e2e(m, Stats.median(setupSec.toSeq))
      else {
        val traced = e2e(m, setupSec(2)).toMap
        val plain = e2e(untracedM, setupSec(1)).toMap
        val overhead = Seq("setup_s", "throughput", "latency_p50_ms", "latency_tail_ms")
          .map(k => s"trace.overhead.$k" -> Metric(
            (traced(k).value - plain(k).value) / plain(k).value * 100.0, "%"))
        val spanFile = work.resolve(s"trace-$name-$seed.jsonl")
        tracer.write(spanFile)
        System.err.println(s"[perfbench] spans written to $spanFile")
        val given = (layerMetrics ++ overhead ++ Seq(
          "trace.peak_rss_mb" -> Metric(rss, "MiB"),
          "jvm.live_heap_mb" -> Metric(liveHeap, "MiB"),
          "machine.cpu_ref_s" -> Metric(cpuRef, "s"))).toMap
        Layers.All.map { case (k, unit) => k -> given.getOrElse(k, Metric(0.0, unit)) }
      }

    val line = s"""{"correct":${failures.isEmpty},"attempted":${all.attempted},""" +
      s""""failed":${failures.size},"metrics":${Json.metrics(metrics)}}"""
    wl.teardown()
    ctx.spark.stop()
    println(line)
    System.out.flush()
    sys.exit(0)
  }
}

/** The per-layer metrics a traced run prints, with their units. The two
  * records workloads print the same list, so a layer one of them never
  * enters reads 0 there. */
object Layers {
  val Catchup: Seq[(String, String)] = Seq(
    "sources.fetch_s" -> "s", "sources.envelopes" -> "count", "sources.bytes" -> "bytes",
    "kpl.deaggregate_s" -> "s", "kpl.user_records" -> "count",
    "kpl.corrupt_aggregates" -> "count", "api.decode_filter_s" -> "s",
    "records.explode_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "streaming.batches" -> "count", "streaming.first_batch_ms" -> "ms",
    "streaming.latest_offset_ms_per_batch" -> "ms", "streaming.planning_ms_per_batch" -> "ms",
    "streaming.add_batch_ms_per_batch" -> "ms", "streaming.wal_commit_ms_per_batch" -> "ms")

  val Http: Seq[(String, String)] = Seq(
    "api.validate_us" -> "us", "api.plan_ms" -> "ms", "api.echo_ms" -> "ms",
    "spark.jobs_per_request" -> "count", "spark.tasks_per_request" -> "count",
    "sources.envelopes_per_request" -> "count", "sources.in_window_ratio" -> "ratio",
    "api.selectivity" -> "ratio", "api.rows_per_response" -> "count",
    "api.response_bytes" -> "bytes") ++
    RecordsGen.Classes.map(c => s"http.class.$c.p50_ms" -> "ms") ++ Seq(
    "http.queue_ms" -> "ms", "http.overhead_ms" -> "ms")

  val Common: Seq[(String, String)] = Seq(
    "machine.cpu_ref_s" -> "s", "trace.peak_rss_mb" -> "MiB", "jvm.live_heap_mb" -> "MiB",
    "trace.overhead.setup_s" -> "%", "trace.overhead.throughput" -> "%",
    "trace.overhead.latency_p50_ms" -> "%", "trace.overhead.latency_tail_ms" -> "%")

  /** What a traced run of either workload prints. */
  val All: Seq[(String, String)] = Catchup ++ Http ++ Common
}
