package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.Platform

import graft.api.{EventSchema, RecordsQuery}
import graft.kpl.KplCodec
import graft.sources.KplFileSource
import graft.streaming.RecordsStream

/** Order-independent content hash of a set of JSON strings, computed the
  * way the harness's Spark-side `observe` does: the sum of
  * `xxhash64(json) % HashMod`. */
object ContentHash {
  val HashMod = 1000000007L
  def of(json: String): Long = {
    val b = json.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L) % HashMod
  }
  def column(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(xxhash64(c) % lit(HashMod))
}

/** `records_catchup`: AvailableNow drains of a seeded multi-shard KPL
  * backlog through `RecordsStream.envelopeStream` → `RecordsStream.records`
  * → noop, unfiltered, at a fixed clock. Unit of work: user records. */
final class RecordsCatchup extends Workload {
  val name = "records_catchup"
  val tailP = 75.0
  val NowMs = 1700000000000L
  val Frames = 1200
  val Shards = 4
  val MaxFanOut = 60

  private var backlog: RecordsGen.Stream = _
  private var dir: String = _
  private var expected: (Long, Long) = _
  private val query = RecordsQuery.validate(
    Map("streamname" -> "catchup", "duration" -> "960")).toOption.get
  private def startMs = NowMs - query.durationMinutes * 60000L
  private var drains = 0

  private def inWindow = backlog.frames.filter(_.tsMs >= startMs)

  def setup(ctx: Ctx): Unit = {
    backlog = RecordsGen.stream(ctx.seed, "catchup", Frames, Shards, MaxFanOut, NowMs)
    dir = ctx.path("backlog")
    backlog.write(dir)
    val jsons = inWindow.flatMap(_.events).map(_.json)
    expected = (jsons.size.toLong, jsons.map(ContentHash.of).sum)
    // Warm-up: one whole drain.
    drain(ctx, "catchup.warmup")._3.foreach(f => sys.error(s"warm-up drain: $f"))
  }

  /** One AvailableNow drain: (wall seconds, triggers, failure). */
  private def drain(ctx: Ctx, span: String = "catchup.drain")
      : (Double, Seq[Progress.Trigger], Option[String]) = {
    drains += 1
    val ckpt = ctx.path(s"ckpt-$drains")
    ctx.tracer.span(span) {
      val t0 = System.nanoTime()
      val env = RecordsStream.envelopeStream(ctx.spark, dir, query, NowMs)
      val q = RecordsStream.records(env, query)
        .observe("perfbench", count(lit(1)), ContentHash.column(col("json")))
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val failure = q.exception.map(e => s"drain failed: ${e.getMessage}")
      val triggers = ctx.progress.of(q.id)
      val rows = triggers.flatMap(_.observed).map(_.getLong(0)).sum
      val hash = triggers.flatMap(_.observed).map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum
      (wall, triggers, failure.orElse(
        if ((rows, hash) == expected) None
        else Some(s"drain $drains: rows/hash ($rows, $hash) != expected $expected")))
    }
  }

  private var tracedTriggers = Seq.empty[Seq[Progress.Trigger]]
  private var tracedWalls = Seq.empty[Double]

  def measure(ctx: Ctx, seconds: Double): Measured = {
    var m = Measured.empty
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val (wall, triggers, failure) = drain(ctx)
      val lat = triggers.map(_.durations("triggerExecution").toDouble)
      m = m ++ Measured(expected._1.toDouble, wall, lat, 1, failure.toSeq,
        rates = Seq(expected._1 / wall))
      if (ctx.tracer.on) {
        tracedTriggers :+= triggers
        tracedWalls :+= wall
      }
    }
    m
  }

  def layers(ctx: Ctx, traced: Measured): Seq[(String, Metric)] = {
    val spark = ctx.spark
    def timed[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = body; ((System.nanoTime() - t0) / 1e9, r)
    }
    // Source fetch alone: the same drain with nothing downstream of the scan.
    val fetches = (1 to 2).map { i =>
      ctx.tracer.span("sources.fetch") {
        timed {
          val q = RecordsStream.envelopeStream(spark, dir, query, NowMs)
            .observe("perfbench", count(lit(1)), sum(length(col("data"))))
            .writeStream.format("noop").option("checkpointLocation", ctx.path(s"fetch-$i"))
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          val obs = ctx.progress.of(q.id).flatMap(_.observed)
          (obs.map(_.getLong(0)).sum, obs.map(_.getLong(1)).sum)
        }
      }
    }
    val fetchS = Stats.median(fetches.map(_._1))
    val (envelopes, bytes) = fetches.head._2
    // KPL de-aggregation alone, single-threaded, over every in-window frame.
    val (deaggS, (userRecords, corrupt)) = ctx.tracer.span("kpl.deaggregate") {
      timed {
        var users = 0L
        var bad = 0L
        inWindow.foreach { f =>
          KplCodec.deaggregate(f.data) match {
            case KplCodec.Aggregate(ps) => users += ps.size
            case KplCodec.Single(_) => users += 1
            case KplCodec.Corrupt(_, _) => bad += 1
          }
        }
        (users, bad)
      }
    }
    // JSON decode + predicate alone, over the pre-exploded payloads; then
    // the whole records plan over the same envelopes, as batch jobs over
    // cached input, so the difference is the explode without the
    // per-trigger costs of a drain.
    def noopS(span: String, df: => org.apache.spark.sql.DataFrame): Double =
      Stats.median((1 to 3).map { _ =>
        ctx.tracer.span(span)(timed(df.write.format("noop").mode("overwrite").save())._1)
      })
    val payloads = spark.createDataFrame(
      inWindow.flatMap(_.events).map(e => Tuple1(e.json.getBytes(UTF_8)))).toDF("payload")
      .cache()
    val inWindowEnvelopes = spark.read.format(KplFileSource.ProviderClass).option("path", dir).load()
      .filter(col("approximateArrivalTimestamp") >= lit(new java.sql.Timestamp(startMs)))
      .cache()
    payloads.count()
    inWindowEnvelopes.count()
    val decodeS = noopS("api.decode_filter", EventSchema.parse(payloads)
      .filter(RecordsQuery.predicate(query)).select(col("json"), col("event")))
    val recordsS = noopS("records.batch", RecordsStream.records(inWindowEnvelopes, query))
    payloads.unpersist()
    inWindowEnvelopes.unpersist()
    val drainCounts = ctx.meter.sum(_ == "catchup.drain")
    val nDrains = tracedWalls.size.toDouble
    val trig = tracedTriggers.flatten
    def perBatch(k: String) = trig.map(_.durations.getOrElse(k, 0L).toDouble).sum / trig.size
    Seq(
      "sources.fetch_s" -> Metric(fetchS, "s"),
      "sources.envelopes" -> Metric(envelopes.toDouble, "count"),
      "sources.bytes" -> Metric(bytes.toDouble, "bytes"),
      "kpl.deaggregate_s" -> Metric(deaggS, "s"),
      "kpl.user_records" -> Metric(userRecords.toDouble, "count"),
      "kpl.corrupt_aggregates" -> Metric(corrupt.toDouble, "count"),
      "api.decode_filter_s" -> Metric(decodeS, "s"),
      "records.explode_s" -> Metric(recordsS - decodeS, "s"),
      "spark.executor_cpu_s" -> Metric(drainCounts.cpuNs / 1e9 / nDrains, "s"),
      "spark.gc_s" -> Metric(drainCounts.gcMs / 1e3 / nDrains, "s"),
      "streaming.batches" -> Metric(trig.size / nDrains, "count"),
      "streaming.first_batch_ms" -> Metric(Stats.median(tracedTriggers.map(
        _.head.durations("triggerExecution").toDouble)), "ms"),
      "streaming.latest_offset_ms_per_batch" -> Metric(perBatch("latestOffset"), "ms"),
      "streaming.planning_ms_per_batch" -> Metric(perBatch("queryPlanning"), "ms"),
      "streaming.add_batch_ms_per_batch" -> Metric(perBatch("addBatch"), "ms"),
      "streaming.wal_commit_ms_per_batch" -> Metric(perBatch("walCommit"), "ms"))
  }
}
