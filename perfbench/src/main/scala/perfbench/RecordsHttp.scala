package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.api.{RecordsHttpServer, RecordsQuery}
import graft.sources.KplFileSource

/** One served request as the client saw it. */
final case class Served(req: RecordsGen.Request, sentNs: Long, doneNs: Long,
                        status: Int, bytes: Int, rows: Int, hash: Long) {
  def ms: Double = (doneNs - sentNs) / 1e6
}

/** `records_http`: a closed loop of [[Clients]] clients against an
  * in-process `RecordsHttpServer` over a batch `kpl-files` envelope per
  * stream, at a fixed `now`. Each client sends its next request only after
  * reading the whole previous response. Unit of work: requests. */
final class RecordsHttp extends Workload {
  val name = "records_http"
  val tailP = 90.0
  val Clients = 2
  val NowMs = 1700000000000L
  val StreamNames = Seq("contact-stream", "agent-stream")
  val Frames = 1200
  val Shards = 2
  val MaxFanOut = 20
  val Requests = 20000

  private var streams: Map[String, RecordsGen.Stream] = _
  private var envelopes: Map[String, DataFrame] = _
  private var requests: IndexedSeq[RecordsGen.Request] = _
  private var server: RecordsHttpServer = _
  private var port = 0
  private val next = new AtomicInteger(0)
  private val seamEntered = new ConcurrentHashMap[Long, Long]()
  private val tracedServed = ArrayBuffer.empty[Served]
  @volatile private var tracer: Tracer = _
  @volatile private var spark: org.apache.spark.sql.SparkSession = _
  @volatile private var seamSpan: Option[String] = None

  /** The request's stream name carries its id so the envelope seam can
    * stamp when the server reached it; the seam strips it again. */
  private def wire(r: RecordsGen.Request): RecordsGen.Request =
    r.copy(params = r.params.map {
      case ("streamname", v) => "streamname" -> s"$v.r${r.id}"
      case kv => kv
    })

  private def seam(raw: String): DataFrame = {
    val i = raw.lastIndexOf(".r")
    val (base, rid) = (raw.substring(0, i), raw.substring(i + 2).toLong)
    seamEntered.put(rid, System.nanoTime())
    // Tag (or, untraced, untag) the Spark jobs a served request starts on
    // the dispatch thread: warm-up requests under their own name, so that
    // only measured requests count as `http.request`. Direct calls keep
    // the caller's span.
    seamSpan.foreach(n => spark.sparkContext.setLocalProperty(Tracer.SpanProp,
      if (tracer.on) s"$rid:$n" else null))
    envelopes.getOrElse(base,
      throw new IllegalArgumentException(s"unknown stream: $base"))
  }

  def setup(ctx: Ctx): Unit = {
    tracer = ctx.tracer
    spark = ctx.spark
    streams = StreamNames.map { n =>
      val s = RecordsGen.stream(ctx.seed, n, Frames, Shards, MaxFanOut, NowMs)
      s.write(ctx.path(n))
      n -> s
    }.toMap
    envelopes = StreamNames.map { n =>
      n -> ctx.spark.read.format(KplFileSource.ProviderClass)
        .option("path", ctx.path(n)).load()
    }.toMap
    requests = RecordsGen.requests(ctx.seed, StreamNames.map(streams), Requests).toIndexedSeq
    server = new RecordsHttpServer(seam, 0, () => Instant.ofEpochMilli(NowMs))
    port = server.start()
    // Warm-up: one block of the mix, from the far end of the sequence.
    seamSpan = Some("http.warmup")
    requests.takeRight(RecordsGen.BlockSize).foreach(call)
  }

  private def call(r: RecordsGen.Request): Served = {
    val url = URI.create(s"http://127.0.0.1:$port/records?${wire(r).query}").toURL
    val t0 = System.nanoTime()
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = try in.readAllBytes() finally in.close()
    val t1 = System.nanoTime()
    val text = new String(body, UTF_8)
    val (rows, hash) =
      if (status == 200) {
        val xs = RecordsGen.splitArray(text)
        (xs.size, xs.map(ContentHash.of).sum)
      } else if (text.startsWith(ErrorPrefix)) (0, ErrorMark) // message text varies
      else (0, text.hashCode.toLong)
    Served(r, t0, t1, status, body.length, rows, hash)
  }

  private val ErrorPrefix = """{"badRequest":true,"error":"""
  private val ErrorMark = -1L

  private val answers = new ConcurrentHashMap[Map[String, String], (Int, Long, Int)]()

  /** (status, hash, rows) of the reference answer. */
  private def reference(r: RecordsGen.Request): (Int, Long, Int) =
    answers.computeIfAbsent(r.paramMap, p =>
      RecordsGen.reference(p, streams, NowMs) match {
        case RecordsGen.Rows(js) => (200, js.map(ContentHash.of).sum, js.size)
        case RecordsGen.Invalid(b) => (400, b.hashCode.toLong, 0)
        case RecordsGen.UnknownStream => (400, ErrorMark, 0)
      })

  private def check(s: Served): Option[String] = {
    val (status, hash, rows) = reference(s.req)
    if (s.status == status && s.hash == hash && s.rows == rows) None
    else Some(s"request ${s.req.id} (${s.req.cls}) ${s.req.query}: " +
      s"status ${s.status}, ${s.rows} rows; expected $status, $rows rows")
  }

  def measure(ctx: Ctx, seconds: Double): Measured = {
    seamSpan = Some("http.request")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val served = new java.util.concurrent.ConcurrentLinkedQueue[Served]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = System.nanoTime()
    val clients = (0 until Clients).map { _ =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val r = requests(next.getAndIncrement() % requests.size)
          try served.add(ctx.tracer.span("http.client", r.id)(call(r)))
          catch { case e: Exception => errors.add(s"request ${r.id}: $e") }
        }
      })
      t.start()
      t
    }
    clients.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val all = served.asScala.toSeq
    if (ctx.tracer.on) tracedServed ++= all
    Measured(all.size.toDouble, wall, all.map(_.ms), all.size + errors.size,
      errors.asScala.toSeq ++ all.flatMap(check))
  }

  def layers(ctx: Ctx, traced: Measured): Seq[(String, Metric)] = {
    val served = tracedServed.toSeq
    val reached = served.filter(s => seamEntered.containsKey(s.req.id))
    val http = ctx.meter.sum(_ == "http.request")
    val queueMs = Stats.median(reached.map(s => (seamEntered.get(s.req.id) - s.sentNs) / 1e6))
    // The same requests again, called directly: validate, plan, echo.
    seamSpan = None
    val direct = served.map { s =>
      val p = wire(s.req).paramMap
      val t0 = System.nanoTime()
      val v = ctx.tracer.span("api.validate", s.req.id)(RecordsQuery.validate(p))
      val t1 = System.nanoTime()
      val (planNs, echoNs) = v match {
        case Left(_) => (0L, 0L)
        case Right(q) =>
          try {
            val df = ctx.tracer.span("api.plan", s.req.id)(
              RecordsQuery.plan(seam(q.streamName), q, Instant.ofEpochMilli(NowMs)))
            val t2 = System.nanoTime()
            ctx.tracer.span("api.echo", s.req.id)(RecordsQuery.toJsonArray(df))
            (t2 - t1, System.nanoTime() - t2)
          } catch { case _: IllegalArgumentException => (System.nanoTime() - t1, 0L) }
      }
      (s, (t1 - t0) / 1e3, planNs / 1e6, echoNs / 1e6)
    }
    val planned = direct.filter(_._4 > 0)
    val inWindow = reached.map { s =>
      val minutes = math.min(s.req.paramMap.get("duration").map(_.toLong).getOrElse(10L), 960L)
      val start = NowMs - minutes * 60000L
      val fs = streams.get(s.req.paramMap("streamname")).toSeq.flatMap(_.frames)
        .filter(_.tsMs >= start)
      (fs.size, fs.map(_.events.size).sum)
    }
    val ok = served.filter(_.status == 200)
    val classP50 = RecordsGen.Classes.map { c =>
      val xs = served.filter(_.req.cls == c).map(_.ms)
      s"http.class.$c.p50_ms" -> Metric(if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
    Seq(
      "api.validate_us" -> Metric(Stats.median(direct.map(_._2)), "us"),
      "api.plan_ms" -> Metric(Stats.median(planned.map(_._3)), "ms"),
      "api.echo_ms" -> Metric(Stats.median(planned.map(_._4)), "ms"),
      "spark.jobs_per_request" -> Metric(http.jobs.toDouble / reached.size, "count"),
      "spark.tasks_per_request" -> Metric(http.tasks.toDouble / reached.size, "count"),
      "sources.envelopes_per_request" -> Metric(http.recordsRead.toDouble / reached.size, "count"),
      "sources.in_window_ratio" -> Metric(inWindow.map(_._1).sum.toDouble / http.recordsRead, "ratio"),
      "api.selectivity" -> Metric(ok.map(_.rows).sum.toDouble / inWindow.map(_._2).sum, "ratio"),
      "api.rows_per_response" -> Metric(ok.map(_.rows).sum.toDouble / ok.size, "count"),
      "api.response_bytes" -> Metric(served.map(_.bytes.toDouble).sum / served.size, "bytes"),
      "http.queue_ms" -> Metric(queueMs, "ms"),
      "http.overhead_ms" -> Metric(Stats.median(direct.map { case (s, v, p, e) =>
        s.ms - (v / 1e3 + p + e) }), "ms")) ++ classP50
  }

  override def teardown(): Unit = if (server != null) { server.stop(); server = null }
}
