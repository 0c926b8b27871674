package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length, math.max(1, rank(s.length, p))) - 1)
  }

  /** 1-based nearest rank of the p-th percentile of n samples (the epsilon
    * keeps 99.9% of 10000 at 9990, not 9991). */
  private def rank(n: Int, p: Double): Int = math.ceil(p * n / 100.0 - 1e-9).toInt

  /** Samples strictly above the nearest-rank p-th percentile of n. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest ladder percentile with at least ten samples beyond it,
    * or None when even the median has fewer. */
  def tailPercentile(n: Int, ladder: Seq[Double] = Ladder): Option[Double] =
    ladder.filter(p => beyond(n, p) >= 10).lastOption
}

/** A run's end-to-end or per-layer metric. */
final case class Metric(value: Double, unit: String)

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def metrics(ms: Seq[(String, Metric)]): String =
    ms.map { case (k, m) => s"${str(k)}:{\"value\":${num(m.value)},\"unit\":${str(m.unit)}}" }
      .mkString("{", ",", "}")
}

/** In-memory spans. Disabled tracers record nothing and tag no jobs; an
  * enabled one tags Spark jobs started inside a span with the span's id
  * (a thread-local Spark property), so [[Meter]] can attribute them. */
final class Tracer(@volatile var on: Boolean) {
  import Tracer.Span

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }
  @volatile var spark: SparkSession = _

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val (parent, parentName) = current.get()
      current.set((id, name))
      val sc = Option(spark).map(_.sparkContext)
      sc.foreach(_.setLocalProperty(Tracer.SpanProp, s"$id:$name"))
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, req, t0, System.nanoTime()))
        current.set((parent, parentName))
        sc.foreach(_.setLocalProperty(Tracer.SpanProp,
          if (parent == 0L) null else s"$parent:$parentName"))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.t0).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""req":${s.req},"start_ns":${s.t0},"end_ns":${s.t1}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  final case class Span(id: Long, parent: Long, name: String, req: Long,
                        t0: Long, t1: Long)
}

/** Spark-side counters, taken from outside the program by a listener the
  * harness registers. Jobs and their tasks are attributed to the span that
  * was active on the thread that started the job. */
final class Meter extends SparkListener {
  final class Counts {
    var jobs, tasks, cpuNs, gcMs, recordsRead = 0L
  }
  private val bySpan = mutable.Map.empty[String, Counts]
  private val stageSpan = mutable.Map.empty[Int, String]

  private def counts(span: String): Counts = bySpan.getOrElseUpdate(span, new Counts)
  private def spanName(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp)))
      .map(_.split(":", 2)(1)).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanName(e.properties)
    val c = counts(span)
    c.jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, ""))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Counters summed over the spans whose name satisfies `p`. */
  def sum(p: String => Boolean): Counts = synchronized {
    val out = new Counts
    bySpan.foreach { case (k, c) if p(k) =>
      out.jobs += c.jobs; out.tasks += c.tasks
      out.cpuNs += c.cpuNs; out.gcMs += c.gcMs
      out.recordsRead += c.recordsRead
    case _ =>
    }
    out
  }
}

/** Per-trigger progress of one streaming query, from a listener the
  * harness registers (`recentProgress` keeps only the last few). */
final class Progress extends StreamingQueryListener {
  import Progress.Trigger
  private val triggers = new ConcurrentLinkedQueue[(java.util.UUID, Trigger)]()
  private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      triggers.add(p.id -> Trigger(
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        Option(p.observedMetrics.get("perfbench"))))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    ended.add(e.id)

  /** The query's triggers, once the listener bus has delivered its
    * termination (progress events precede it). */
  def of(id: java.util.UUID): Seq[Trigger] = {
    val deadline = System.nanoTime() + 30_000_000_000L
    while (!ended.contains(id) && System.nanoTime() < deadline) Thread.sleep(5)
    require(ended.contains(id), s"no termination event for query $id")
    triggers.asScala.collect { case (q, t) if q == id => t }.toSeq
  }
}

object Progress {
  final case class Trigger(durations: Map[String, Long],
                           observed: Option[org.apache.spark.sql.Row])
}
