package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.RecordsQuery
import graft.kpl.KplCodec
import graft.sources.KplFileSource

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  import RecordsGen._

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): Path = Files.createTempDirectory("perfbench-spec")

  private def bytesOf(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      dir.relativize(p).toString -> Files.readAllBytes(p).toSeq
    }.toMap finally s.close()
  }

  test("the records generator gives byte-identical inputs for a seed and different ones for another") {
    def written(seed: Long): Map[String, Seq[Byte]] = {
      val d = tmp()
      stream(seed, "s", 300, 3, 40, 1700000000000L).write(d.toString)
      bytesOf(d) ++ requests(seed, Seq(stream(seed, "s", 300, 3, 40, 1700000000000L)), 200)
        .map(r => s"req-${r.id}" -> r.query.getBytes(UTF_8).toSeq)
    }
    assert(written(7) == written(7))
    assert(written(7) != written(8))
  }

  test("the reference filter agrees with RecordsQuery.plan on a hand-written backlog") {
    val now = 1700000000000L
    def ev(seq: Long, agent: Boolean, t: Option[Long], tAlt: Option[Long], server: Option[String],
           id: Option[Long], idAlt: Option[Long], sh: Option[Long] = None,
           shAlt: Option[Long] = None, valid: Boolean = true) =
      Event(seq, agent, valid, t, tAlt, server, id, idAlt, sh, shAlt)
    val contact = ev(1, agent = false, Some(7), None, Some("UsWest2"), Some(100), None)
    val contactAlt = ev(2, agent = false, None, Some(7), Some("uswest2"), None, Some(101))
    val agent = ev(3, agent = true, Some(8), None, Some("EUCENTRAL1"), Some(42), None, Some(99), None)
    val agentAlt = ev(4, agent = true, Some(7), Some(9), None, None, Some(43), None, Some(98))
    val invalid = ev(5, agent = false, Some(7), None, None, Some(100), None, valid = false)
    val bare = ev(6, agent = false, Some(7), None, Some("SaEast1"), Some(102), Some(102))
    val old = ev(7, agent = false, Some(7), None, Some("UsWest2"), Some(100), None)
    def kpl(ts: Long, pk: String, es: Event*) =
      Frame(ts, pk, KplCodec.aggregate(pk, es.map(_.json.getBytes(UTF_8))), es)
    val minute = 60000L
    val backlog = Stream("hand", Seq(
      Seq(kpl(now - 300 * minute, "a", old), kpl(now - 2 * minute, "b", contact, agent),
        Frame(now - minute, "c", corruptAggregate(9), Nil)),
      Seq(kpl(now - 50 * minute, "d", contactAlt, invalid),
        Frame(now - 3 * minute, "e", bare.json.getBytes(UTF_8), Seq(bare)),
        kpl(now - 200 * minute, "f", agentAlt))))
    val dir = tmp().toString
    backlog.write(dir)
    val env = spark.read.format(KplFileSource.ProviderClass).option("path", dir).load()
    val cases = Seq(
      Map("streamname" -> "hand"),
      Map("streamname" -> "hand", "duration" -> "60"),
      Map("streamname" -> "hand", "duration" -> "960"),
      Map("streamname" -> "hand", "duration" -> "5000"),
      Map("streamname" -> "hand", "duration" -> "960", "contactId" -> "100"),
      Map("streamname" -> "hand", "duration" -> "960", "contactId" -> "101"),
      Map("streamname" -> "hand", "duration" -> "960", "contactId" -> "42"),
      Map("streamname" -> "hand", "duration" -> "960", "agentId" -> "43"),
      Map("streamname" -> "hand", "duration" -> "960", "agentShiftId" -> "99"),
      Map("streamname" -> "hand", "duration" -> "960", "agentShiftId" -> "98"),
      Map("streamname" -> "hand", "duration" -> "960", "tenantId" -> "7"),
      Map("streamname" -> "hand", "duration" -> "960", "tenantId" -> "9"),
      Map("streamname" -> "hand", "duration" -> "960", "serverName" -> "USWEST2"),
      Map("streamname" -> "hand", "duration" -> "960", "serverName" -> "eucentral1"),
      Map("streamname" -> "hand", "duration" -> "960", "tenantId" -> "7", "serverName" -> "uswest2"),
      Map("duration" -> "10"),
      Map("streamname" -> "hand", "tenantId" -> "7x"),
      Map("streamname" -> "hand", "shard" -> "0", "agentId" -> "4.2"))
    cases.foreach { params =>
      val got = RecordsQuery.records(env, params, Instant.ofEpochMilli(now)) match {
        case Left(err) => Invalid(err.toJson)
        case Right(df) => Rows(df.select("json").collect().map(_.getString(0)).toSeq.sorted)
      }
      val want = reference(params, Map("hand" -> backlog), now) match {
        case Rows(js) => Rows(js.sorted)
        case other => other
      }
      assert(got == want, s"for $params")
    }
    // The corrupt aggregate is dropped; every other record is in the widest window.
    assert(reference(Map("streamname" -> "hand", "duration" -> "960"), Map("hand" -> backlog), now)
      .asInstanceOf[Rows].jsons.toSet == Set(old, contact, agent, contactAlt, invalid, bare, agentAlt)
      .map(_.json))
  }

  test("a /records body splits into its raw elements") {
    val body = "[" + Seq("""{"a":"x,}"}""", "not-json tenant=7 seq=1", """{"b":[1,2]}""")
      .mkString(",") + "]"
    assert(splitArray(body) == Seq("""{"a":"x,}"}""", "not-json tenant=7 seq=1", """{"b":[1,2]}"""))
    assert(splitArray("[]") == Nil)
  }

  test("the tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 20 to 3000) {
      val p = Stats.tailPercentile(n).get
      assert(Stats.beyond(n, p) >= 10)
      Stats.Ladder.filter(_ > p).foreach(q => assert(Stats.beyond(n, q) < 10))
    }
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 75.0) == 30.0)
    assert(xs.count(_ > Stats.percentile(xs, 75.0)) == 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }
}
