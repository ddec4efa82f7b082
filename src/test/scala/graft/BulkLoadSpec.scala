package graft

import java.sql.{Connection, DriverManager, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.BeforeAndAfterAll
import graft.sink.DerbyDialect
import graft.sources.salesforce.{BatchInfo, JobInfo}
import graft.sync.{BulkLoad, IncrementalSync, SyncConfig, SyncResult, SyncStateStore}

/** Assembled K2 truncate-and-load + C4 bootstrap against embedded
  * Derby: Completed-only batch filter, empty-job and failed-batch
  * guards, destination truncation, `__sync` registration with the job's
  * systemModstamp, and all-or-nothing rollback.
  */
class BulkLoadSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var conn: Connection = _
  private var state: SyncStateStore = _
  private val dialect = new DerbyDialect

  private def ts(s: String) = Timestamp.valueOf(s)
  private val Modstamp = ts("2024-03-01 09:30:00")
  private val cfg = SyncConfig("k2dest", "pk", "modstamp")

  override def beforeAll(): Unit = {
    super.beforeAll()
    conn = DriverManager.getConnection("jdbc:derby:memory:bulkloadspec;create=true")
    conn.setAutoCommit(false)
    val st = conn.createStatement()
    st.execute("""CREATE TABLE "k2dest" ("pk" BIGINT, "name" VARCHAR(80))""")
    st.execute("""INSERT INTO "k2dest" VALUES (999, 'stale-row')""")
    st.close()
    state = new SyncStateStore(conn)
    state.install()
    conn.commit()
  }

  override def afterAll(): Unit = {
    try conn.close() catch { case _: Throwable => () }
    super.afterAll()
  }

  private def batchDf(ids: Long*) =
    ids.map(i => (i, s"rec-$i")).toDF("pk", "name")

  private def destRows(): Seq[(Long, String)] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery("""SELECT "pk", "name" FROM "k2dest" ORDER BY "pk"""")
      val out = Seq.newBuilder[(Long, String)]
      while (rs.next()) out += ((rs.getLong(1), rs.getString(2)))
      out.result()
    } finally st.close()
  }

  test("loads Completed batches only, truncates, and registers __sync") {
    val job = JobInfo("750K2",
      batches = Seq(
        BatchInfo("b-orig", "NotProcessed"),
        BatchInfo("b1", "Completed", 2),
        BatchInfo("b2", "Completed", 1)),
      numberRecordsProcessed = 3, systemModstamp = Some(Modstamp))
    val n = BulkLoad.bulkLoad(job, cfg, conn, dialect, state, {
      case BatchInfo("b1", _, _) => batchDf(1L, 2L)
      case BatchInfo("b2", _, _) => batchDf(3L)
      case b => fail(s"batch ${b.id} (${b.state}) must not be fetched")
    })
    assert(n == 3)
    assert(destRows() == Seq((1L, "rec-1"), (2L, "rec-2"), (3L, "rec-3")))
    val row = state.get("k2dest").get
    assert(row.syncuntil.contains(Modstamp)) // the job's stamp, not now()
    assert(row.status == "ready")
  }

  test("empty job is refused before touching the destination") {
    val empty = JobInfo("750E", Seq(BatchInfo("b", "Completed", 0)),
      numberRecordsProcessed = 0, systemModstamp = Some(Modstamp))
    val before = destRows()
    intercept[IllegalArgumentException] {
      BulkLoad.bulkLoad(empty, cfg, conn, dialect, state,
        _ => fail("must not fetch"))
    }
    assert(destRows() == before)
  }

  test("a Failed batch aborts the whole load") {
    val bad = JobInfo("750F",
      Seq(BatchInfo("b1", "Completed", 5), BatchInfo("b2", "Failed")),
      numberRecordsProcessed = 5, systemModstamp = Some(Modstamp))
    val before = destRows()
    intercept[IllegalArgumentException] {
      BulkLoad.bulkLoad(bad, cfg, conn, dialect, state, _ => fail("must not fetch"))
    }
    assert(destRows() == before)
  }

  test("COPY FORCE_NULL covers only non-string nullable columns") {
    // empty string vs NULL: FORCE_NULL on a string column would load
    // quoted '' as NULL under COPY while the INSERT fallback stores ''
    // — the two load paths must agree, so strings are excluded
    var recorded = Seq.empty[(Seq[String], Seq[String])]
    val inner = new DerbyDialect
    val recording = new graft.sink.SqlDialect {
      override def quoteIdent(n: String) = inner.quoteIdent(n)
      override def createStagingSql(s: String, d: String) = inner.createStagingSql(s, d)
      override def upsertSql(dest: String, staging: String, cols: Seq[String],
          pk: String, isDeleted: Option[String]) =
        inner.upsertSql(dest, staging, cols, pk, isDeleted)
      override def deleteSql(dest: String, staging: String, pk: String,
          isDeleted: String) = inner.deleteSql(dest, staging, pk, isDeleted)
      override def truncateSql(t: String) = inner.truncateSql(t)
      override def copyInSql(dest: String, cols: Seq[String],
          forceNullCols: Seq[String]) = {
        recorded :+= ((cols, forceNullCols))
        None // no COPY protocol here: falls back to batched INSERTs
      }
    }
    val st = conn.createStatement()
    st.execute("""CREATE TABLE "k2fn" ("pk" BIGINT, "name" VARCHAR(80), "amount" DOUBLE,
      |  "modstamp" TIMESTAMP)""".stripMargin)
    st.close()
    val df = Seq((1L, Option("a"), Option(2.5)), (2L, None: Option[String], None: Option[Double]))
      .toDF("pk", "name", "amount")
    val job = JobInfo("750N", Seq(BatchInfo("b1", "Completed", 2)),
      numberRecordsProcessed = 2, systemModstamp = Some(Modstamp))
    val n = BulkLoad.bulkLoad(job, SyncConfig("k2fn", "pk", "modstamp"),
      conn, recording, state, _ => df)
    assert(n == 2)
    // a sync round's staging load goes through the same loader (the
    // non-nullable modstamp literal is not force-nulled either)
    val r = new IncrementalSync(conn, recording, state).syncTable(
      SyncConfig("k2fn", "pk", "modstamp"), _ => df.withColumn("modstamp", lit(Modstamp)))
    assert(r == SyncResult.Merged(2, Modstamp))
    // nullable string 'name' must NOT be force-nulled; nullable double must
    assert(recorded == Seq(
      (Seq("pk", "name", "amount"), Seq("amount")),
      (Seq("pk", "name", "amount", "modstamp"), Seq("amount"))))
  }

  test("timestamp_ntz columns load into Derby through bulk load and sync staging") {
    // Spark hands timestamp_ntz values over as LocalDateTime, which
    // Derby's setObject rejects (SQLState 22005)
    val st = conn.createStatement()
    st.execute("""CREATE TABLE "k2ntz" ("pk" BIGINT, "at" TIMESTAMP)""")
    st.close()
    def ntz(pk: Long, at: String) =
      Seq((pk, LocalDateTime.parse(at))).toDF("pk", "at")
    assert(ntz(1L, "2024-03-02T10:15:30").schema("at").dataType == TimestampNTZType)
    val ntzCfg = SyncConfig("k2ntz", "pk", "at")
    val job = JobInfo("750T", Seq(BatchInfo("b1", "Completed", 1)),
      numberRecordsProcessed = 1, systemModstamp = Some(Modstamp))
    assert(BulkLoad.bulkLoad(job, ntzCfg, conn, dialect, state,
      _ => ntz(1L, "2024-03-02T10:15:30")) == 1)
    val r = new IncrementalSync(conn, dialect, state).syncTable(ntzCfg,
      _ => ntz(2L, "2024-03-02T11:15:30"))
    assert(r == SyncResult.Merged(1, ts("2024-03-02 11:15:30")))
    val q = conn.createStatement()
    try {
      val rs = q.executeQuery("""SELECT "pk", "at" FROM "k2ntz" ORDER BY "pk"""")
      val out = Seq.newBuilder[(Long, Timestamp)]
      while (rs.next()) out += ((rs.getLong(1), rs.getTimestamp(2)))
      assert(out.result() == Seq(
        1L -> ts("2024-03-02 10:15:30"), 2L -> ts("2024-03-02 11:15:30")))
    } finally q.close()
  }

  test("mid-load failure rolls back truncate, load, and registration") {
    val before = destRows()
    val wmBefore = state.get("k2dest").map(_.syncuntil)
    val job = JobInfo("750R",
      Seq(BatchInfo("b1", "Completed", 2), BatchInfo("b2", "Completed", 2)),
      numberRecordsProcessed = 4,
      systemModstamp = Some(ts("2024-04-01 00:00:00")))
    intercept[RuntimeException] {
      BulkLoad.bulkLoad(job, cfg, conn, dialect, state, {
        case BatchInfo("b1", _, _) => batchDf(10L)
        case _ => throw new RuntimeException("simulated download failure")
      })
    }
    assert(destRows() == before) // truncate + partial load undone
    assert(state.get("k2dest").map(_.syncuntil) == wmBefore) // stamp unchanged
  }
}
