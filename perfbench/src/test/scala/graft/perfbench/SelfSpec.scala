package graft.perfbench

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.salesforce.HttpSfTransport

/** The benchmark's own parts: the fake server spoken to by the product's
  * HTTP transport, the percentile helper, span self time, the reference
  * fold the sync output is checked against, and the table profile.
  */
class SelfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val fields = Seq(SfField("Id", "id"), SfField("Name", "string"),
    SfField("Amount__c", "double"), SfField("SystemModstamp", "datetime"),
    SfField("IsDeleted", "boolean"))
  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val server = new FakeSalesforce(threads = 2, pageSize = 2)
  private val log = new SObjectLog("Acct__c", fields)
  private lazy val http = new HttpSfTransport(server.url, "s", pollIntervalMs = 1)

  override def beforeAll(): Unit = {
    (0 until 5).foreach(i => log.append(Array[Any](f"001$i%015d", s"n \"$i\", x",
      i * 1.5, t0 + i * 500L, i == 4)))
    log.publishAll()
    server.register(log)
    server.start()
  }

  override def afterAll(): Unit = server.stop()

  test("describe maps every field and its type") {
    val d = http.describe("Acct__c")
    assert(d.map(f => (f.name, f.sfType)) == fields.map(f => (f.name, f.sfType)))
    assert(!d.head.nillable)
  }

  test("REST query pages through nextRecordsUrl") {
    val rows = http.query("Acct__c", Seq("Id", "Name"), None, None, includeDeleted = true, None).toSeq
    assert(rows.map(_("Id")) == (0 until 5).map(i => f"001$i%015d"))
    assert(rows(1)("Name") == "n \"1\", x")
    assert(rows.head.keySet == Set("Id", "Name"))
  }

  test("COUNT() answers from the watermark predicate") {
    assert(http.count("Acct__c", None, includeDeleted = true) == 5)
    // only the records stamped 00:00:01.5 and 00:00:02 are newer than 00:00:01
    assert(http.count("Acct__c", Some("SystemModstamp > 2024-01-01T00:00:01Z"),
      includeDeleted = true) == 2)
  }

  test("PK chunking splits the scan into CSV batches") {
    val chunks = http.pkChunks("Acct__c", fields.map(_.name), None, includeDeleted = true, 2)
    assert(chunks.size == 3)
    val rows = chunks.flatMap(c => http.query("Acct__c", Nil, None, None, includeDeleted = true,
      Some(c)).toSeq)
    assert(rows.map(_("Id")) == (0 until 5).map(i => f"001$i%015d"))
    assert(rows(1)("Name") == "n \"1\", x")
    assert(rows(3)("SystemModstamp") == "2024-01-01T00:00:01.500Z")
    assert(rows(4)("IsDeleted") == "true")
  }

  test("an upload batch answers one successful result per record") {
    val job = http.createJob("Acct__c", "update")
    val batch = http.postBatch(job, "\"Id\",\"Amount__c\"\n\"001A\",1.0\n\"001B\",2.0\n")
    http.waitBatch(job, batch)
    val res = http.batchResults(job, batch)
    http.closeJob(job)
    assert(res.map(r => (r.id, r.success)) == Seq(("001A", true), ("001B", true)))
    assert(server.uploads.size == 1 && server.uploads.peek().records == 2)
  }

  test("a percentile needs ten samples beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 90))
    assert(Stats.percentile(xs :+ 100.0, 90) == 90.0)
    assert(Stats.samplesFor(90) == 100)
    assert(Stats.samplesFor(50) == 20)
    assertThrows[IllegalArgumentException](Stats.percentile((1 to 19).map(_.toDouble), 50))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("span self time is duration minus the covered child time") {
    val parent = Span(1, 0, "sync", "op", 0, 100, "r")
    val kids = Seq(
      Span(2, 1, "sink", "a", 10, 30, "r"),
      Span(3, 1, "sink", "b", 20, 40, "r"),   // overlaps a: covered once
      Span(4, 1, "spark", "c", 90, 130, "r"), // runs past the parent: clipped
      Span(5, 2, "sink", "d", 12, 14, "r"))
    val self = Spans.selfTimes(parent +: kids)
    assert(self(1) == 100 - (30 + 10))
    assert(self(2) == 20 - 2)
    assert(self(4) == 40)
    assert(Spans.covered(Seq((0L, 5L), (3L, 9L), (20L, 21L))) == 10)
  }

  test("the reference fold: insert-then-delete, equal timestamps, last version wins") {
    val f = new ReferenceFold(0, 1, 2)
    f(Seq(Array[Any]("a", 10L, false, "v1"), Array[Any]("b", 11L, false, "v1"),
      Array[Any]("b", 12L, true, "gone"),                // inserted, then deleted
      Array[Any]("a", 13L, false, "v2"), Array[Any]("a", 13L, false, "v3"))) // equal stamps
    assert(f.live.keySet == Set("a"))
    assert(f.live("a")(3) == "v3")
    assert(f.maxLiveTs.contains(13L))
    f(Seq(Array[Any]("a", 9L, true, "stale"))) // an older version never wins
    assert(f.live("a")(3) == "v3")
  }

  test("a delta carries every kind of change, in timestamp order") {
    val cs = new ChangeStream(7, 100)
    val snap = cs.snapshot()
    val d = cs.delta(2000)
    val stamps = (snap ++ d).map(_(Orders.TsIdx).asInstanceOf[Long])
    assert(stamps.sliding(2).forall(p => p(0) < p(1)))
    val ids = d.map(_(0).asInstanceOf[String])
    val known = snap.map(_(0)).toSet
    assert(d.exists(r => known(r(0)) && r(Orders.DelIdx) == false))   // updates
    assert(d.exists(r => known(r(0)) && r(Orders.DelIdx) == true))    // soft deletes
    assert(ids.diff(ids.distinct).nonEmpty)                           // an id twice in one delta
    val inserted = ids.filterNot(known).toSet
    assert(inserted.exists(id => d.exists(r => r(0) == id && r(Orders.DelIdx) == true)))
    // the delta starts inside the second the snapshot ended in
    assert(stamps(snap.size) / 1000 == stamps(snap.size - 1) / 1000)
  }

  test("the profile's row rule reproduces the provisioned row counts") {
    import scala.jdk.CollectionConverters._
    Profile.at("rows").properties.asScala.foreach { e =>
      e.getValue.get("observed").properties.asScala.foreach { o =>
        assert(Profile.rows(e.getKey, o.getKey.stripPrefix("sf").toDouble) == o.getValue.asInt,
          s"${e.getKey} at ${o.getKey}")
      }
    }
    assert(Profile.rows("documents", 0.005) == 500)
  }
}
