package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import graft.kpl.KplCodec
import graft.sources.KplShardFiles

/** Seeded generator for the records workloads: reference-shaped events
  * (Avro union encoding, ContactEvent / AgentEvent branches), packed into
  * shard frames that are KPL aggregates of varied fan-out, bare records
  * or corrupt aggregates, plus the `/records` request mix. It also holds
  * the harness's own reference filter, written against the generated
  * fields rather than the JSON, so answers are checked independently of
  * the program's decoder.
  *
  * The request-mix weights, fan-outs and bad-record shares are choices of
  * the benchmark, not measurements of real traffic (the reference
  * publishes none); README.md lists each one with its reason. */
object RecordsGen {
  val ServerNames: Seq[String] =
    Seq("UsWest2", "UsEast1", "EuCentral1", "ApSouth1", "CaCentral1", "SaEast1")
  val Durations: Seq[Long] = Seq(5L, 10L, 60L, 240L, 960L)
  val ArrivalSpanMin = 1000L // arrivals spread past the 960-minute clamp

  /** One user record. `None` fields are Avro nulls; `valid = false` is a
    * payload that is not JSON at all. */
  final case class Event(
      seq: Long, agent: Boolean, valid: Boolean,
      tenant: Option[Long], tenantAlt: Option[Long], server: Option[String],
      id: Option[Long], idAlt: Option[Long],
      shift: Option[Long], shiftAlt: Option[Long]) {

    def json: String =
      if (!valid) s"not-json tenant=${tenant.getOrElse(0L)} seq=$seq"
      else {
        def l(v: Option[Long]) = v.fold("null")(x => s"""{"long":$x}""")
        def s(v: Option[String]) = v.fold("null")(x => s"""{"string":"$x"}""")
        val base =
          if (agent)
            s""""${graft.api.EventSchema.AgentEventClass}":{"agentShiftIdentification":""" +
              s"""{"agentShiftId":${l(shift)},"agentShiftIdAlt":${l(shiftAlt)},""" +
              s""""agentIdentification":{"agentId":${l(id)},"agentIdAlt":${l(idAlt)}}}}"""
          else
            s""""${graft.api.EventSchema.ContactEventClass}":{"mediaScopeIdentification":""" +
              s"""{"contactIdentification":{"contactId":${l(id)},"contactIdAlt":${l(idAlt)}}}}"""
        s"""{"eventSeq":{"long":$seq},"tenantId":{"tenantId":${l(tenant)},""" +
          s""""tenantIdAlt":${l(tenantAlt)},"serverName":${s(server)}},""" +
          s""""baseEventData":{$base}}"""
      }
  }

  /** A shard frame: its arrival time, the bytes as stored, and the user
    * records a strict reader must emit for it (none when corrupt). */
  final case class Frame(tsMs: Long, pk: String, data: Array[Byte], events: Seq[Event])

  final case class Stream(name: String, shards: Seq[Seq[Frame]]) {
    def frames: Seq[Frame] = shards.flatten
    def write(dir: String): Unit =
      shards.zipWithIndex.foreach { case (fs, i) =>
        KplShardFiles.write(dir, i,
          fs.map(f => KplShardFiles.Frame(f.tsMs, f.pk, f.data)))
      }
  }

  private def opt(r: java.util.Random, v: => Long): (Option[Long], Option[Long]) =
    r.nextInt(10) match {
      case 0 => (None, None)
      case 1 | 2 => (None, Some(v))
      case 3 => val x = v; (Some(x), Some(x))
      case _ => (Some(v), None)
    }

  /** Skewed tenant draw: low ids are far more frequent. */
  def tenantOf(r: java.util.Random): Long = {
    val u = r.nextDouble()
    1L + (40 * u * u * u).toLong
  }

  def mixedCase(r: java.util.Random, s: String): String = r.nextInt(3) match {
    case 0 => s
    case 1 => s.toLowerCase
    case _ => s.map(c => if (r.nextBoolean()) c.toUpper else c.toLower)
  }

  def event(r: java.util.Random, seq: Long): Event = {
    val agent = r.nextBoolean()
    val (t, tAlt) = opt(r, tenantOf(r))
    val server =
      if (r.nextInt(10) == 0) None
      else Some(mixedCase(r, ServerNames(r.nextInt(ServerNames.size))))
    val (id, idAlt) =
      if (agent) opt(r, 1L + r.nextInt(3000)) else opt(r, 1L + r.nextInt(1000000))
    val (sh, shAlt) = if (agent) opt(r, 1L + r.nextInt(50000)) else (None, None)
    Event(seq, agent, valid = r.nextInt(100) != 0, t, tAlt, server, id, idAlt, sh, shAlt)
  }

  /** A corrupt aggregate: the KPL magic, then a length-delimited field
    * whose length runs past the end, then a 16-byte trailer. */
  def corruptAggregate(seq: Long): Array[Byte] = {
    val magic = Array(0xF3, 0x89, 0x9A, 0xC2).map(_.toByte)
    val body = Array(0x1A, 0xFF, 0xFF, 0x03).map(_.toByte) ++ s"seq=$seq".getBytes(UTF_8)
    magic ++ body ++ new Array[Byte](16)
  }

  /** A stream of `frames` frames over `shards` shards, arrivals spread over
    * the [[ArrivalSpanMin]] minutes before `nowMs`, in time order per shard. */
  def stream(seed: Long, name: String, frames: Int, shards: Int,
             maxFanOut: Int, nowMs: Long): Stream = {
    val r = new java.util.Random(seed * 1000003L + name.hashCode)
    val span = ArrivalSpanMin * 60000L
    val times = Array.fill(frames)(nowMs - 1 - (r.nextDouble() * span).toLong).sorted
    var seq = 0L
    def next(): Event = { seq += 1; event(r, seq) }
    val out = Array.fill(shards)(ArrayBuffer.empty[Frame])
    times.zipWithIndex.foreach { case (ts, i) =>
      val pk = s"$name-pk-$i"
      val roll = r.nextInt(100)
      val frame =
        if (roll < 5) {
          val e = next()
          Frame(ts, pk, e.json.getBytes(UTF_8), Seq(e)) // bare, not KPL
        } else if (roll < 7) {
          seq += 1
          Frame(ts, pk, corruptAggregate(seq), Nil)
        } else {
          val fan = 1 + r.nextInt(1 + r.nextInt(maxFanOut))
          val es = Seq.fill(fan)(next())
          Frame(ts, pk, KplCodec.aggregate(pk, es.map(_.json.getBytes(UTF_8))), es)
        }
      out(i % shards) += frame
    }
    Stream(name, out.map(_.toSeq).toSeq)
  }

  // ---- the /records request mix -------------------------------------------

  final case class Request(id: Long, cls: String, params: Seq[(String, String)]) {
    def query: String =
      params.map { case (k, v) =>
        URLEncoder.encode(k, UTF_8) + "=" + URLEncoder.encode(v, UTF_8)
      }.mkString("&")
    def paramMap: Map[String, String] = params.toMap
  }

  val Classes: Seq[String] = Seq("contact", "agent", "shift", "tenant", "server",
    "tenant_server", "unfiltered", "invalid")

  /** One block of the request mix: twelve filtered requests (each window
    * of [[Durations]] or the default twice), seven short unfiltered
    * windows and one request that must get a 400 — 5% — in seeded order.
    * Every block has this composition, so runs of different seeds serve
    * the same mix. */
  private val FilteredClasses = Seq("contact", "agent", "shift", "tenant", "tenant",
    "server", "server", "tenant_server", "contact", "agent", "shift", "tenant_server")
  private val FilteredWindows: Seq[Option[Long]] = (None +: Durations.map(Some(_))) ++
    (None +: Durations.map(Some(_)))
  val BlockSize = 20

  /** Seeded request sequence over `streams`, in blocks of [[BlockSize]]:
    * point lookups on values that exist, skewed tenants, mixed-case server
    * names, conjunctions, short unfiltered windows, and 400s. */
  def requests(seed: Long, streams: Seq[Stream], n: Int): Seq[Request] = {
    val r = new java.util.Random(seed * 7919L + 17)
    val evs = streams.map(_.frames.flatMap(_.events).filter(_.valid).toIndexedSeq)
    val rnd = new scala.util.Random(r)
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def some(main: Option[Long], alt: Option[Long]): Option[Long] =
      if (main.isDefined && (alt.isEmpty || r.nextBoolean())) main else alt
    def server = mixedCase(r, pick(ServerNames.toIndexedSeq))
    val slots = Iterator.continually {
      rnd.shuffle(FilteredClasses.zip(rnd.shuffle(FilteredWindows)) ++
        Seq(5L, 10L, 5L, 10L, 5L, 10L, 5L).map(d => "unfiltered" -> Some(d)) :+
        ("invalid" -> None))
    }.flatten
    (0 until n).map { i =>
      val (cls, window) = slots.next()
      val s = r.nextInt(streams.size)
      val base = Seq("streamname" -> streams(s).name) ++
        window.map(d => "duration" -> d.toString)
      def lookup(agent: Boolean, f: Event => Option[Long]): String =
        Iterator.continually(pick(evs(s))).filter(_.agent == agent).flatMap(f).next().toString
      cls match {
        case "contact" => Request(i, cls, base :+ ("contactId" -> lookup(false, e => some(e.id, e.idAlt))))
        case "agent" => Request(i, cls, base :+ ("agentId" -> lookup(true, e => some(e.id, e.idAlt))))
        case "shift" =>
          Request(i, cls, base :+ ("agentShiftId" -> lookup(true, e => some(e.shift, e.shiftAlt))))
        case "tenant" => Request(i, cls, base :+ ("tenantId" -> tenantOf(r).toString))
        case "server" => Request(i, cls, base :+ ("serverName" -> server))
        case "tenant_server" =>
          Request(i, cls, base ++ Seq("tenantId" -> tenantOf(r).toString, "serverName" -> server))
        case "unfiltered" => Request(i, cls, base)
        case _ => r.nextInt(4) match {
          case 0 => Request(i, cls, Seq("duration" -> "10"))
          case 1 => Request(i, cls, base :+ ("tenantId" -> "7x"))
          case 2 => Request(i, cls, base :+ ("shard" -> "0"))
          case _ => Request(i, cls, Seq("streamname" -> "no-such-stream"))
        }
      }
    }
  }

  // ---- the harness's reference answer --------------------------------------

  sealed trait Answer
  final case class Rows(jsons: Seq[String]) extends Answer
  final case class Invalid(body: String) extends Answer
  case object UnknownStream extends Answer

  private val Allowed = Set("duration", "streamname", "contactId", "agentId",
    "serverName", "tenantId", "agentShiftId")
  private val Numeric = Set("duration", "contactId", "agentId", "tenantId", "agentShiftId")

  /** The answer `GET /records` must give, computed from the generated
    * events: validation, the clamped window over frame arrival times,
    * strict dropping of corrupt aggregates, and main-or-alt equality. */
  def reference(params: Map[String, String], streams: Map[String, Stream],
                nowMs: Long): Answer = {
    def arr(xs: Seq[String]) = xs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val missing = if (params.contains("streamname")) Nil else Seq("streamname")
    val invalid = params.keys.filter(k =>
      !Allowed(k) || (Numeric(k) && params(k).toLongOption.isEmpty)).toSeq
    if (missing.nonEmpty || invalid.nonEmpty)
      Invalid(s"""{"badRequest":true,"missingRequiredParams":${arr(missing)},""" +
        s""""invalidParams":${arr(invalid.distinct)}}""")
    else streams.get(params("streamname")) match {
      case None => UnknownStream
      case Some(st) =>
        val minutes = math.min(params.get("duration").map(_.toLong).getOrElse(10L), 960L)
        val start = nowMs - minutes * 60000L
        def eq(v: String, main: Option[Long], alt: Option[Long]) =
          main.contains(v.toLong) || alt.contains(v.toLong)
        val keep = (e: Event) => e.valid || params.keySet.intersect(
          Set("contactId", "agentId", "agentShiftId", "tenantId", "serverName")).isEmpty
        val pass = (e: Event) => keep(e) &&
          params.get("contactId").forall(v => !e.agent && eq(v, e.id, e.idAlt)) &&
          params.get("agentId").forall(v => e.agent && eq(v, e.id, e.idAlt)) &&
          params.get("agentShiftId").forall(v => e.agent && eq(v, e.shift, e.shiftAlt)) &&
          params.get("tenantId").forall(v => eq(v, e.tenant, e.tenantAlt)) &&
          params.get("serverName").forall(v =>
            e.server.exists(_.toLowerCase == v.toLowerCase))
        Rows(st.frames.filter(_.tsMs >= start).flatMap(_.events).filter(pass).map(_.json))
    }
  }

  /** Split a `/records` body (a JSON array of raw payloads, some of which
    * are not JSON) into its elements: commas at depth 0 outside strings. */
  def splitArray(body: String): Seq[String] = {
    require(body.startsWith("[") && body.endsWith("]"), s"not an array: ${body.take(80)}")
    val out = ArrayBuffer.empty[String]
    var depth = 0
    var inStr = false
    var esc = false
    var from = 1
    var i = 1
    while (i < body.length - 1) {
      val c = body.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1
        case ',' if depth == 0 => out += body.substring(from, i); from = i + 1
        case _ =>
      }
      i += 1
    }
    if (body.length > 2) out += body.substring(from, body.length - 1)
    out.toSeq
  }

  /** Whether a response (status, body) is the reference answer. */
  def matches(answer: Answer, status: Int, body: String): Boolean = answer match {
    case Invalid(expected) => status == 400 && body == expected
    case UnknownStream =>
      status == 400 && body.startsWith("""{"badRequest":true,"error":""")
    case Rows(jsons) =>
      status == 200 && splitArray(body).sorted == jsons.sorted
  }
}
