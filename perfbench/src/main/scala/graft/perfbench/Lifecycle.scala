package graft.perfbench

import java.sql.{Connection, Timestamp}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.reverse.BulkUpload
import graft.sink.DerbyDialect
import graft.sources.salesforce.{BatchInfo, JobInfo}
import graft.sync.{BulkLoad, IncrementalSync, SyncConfig, SyncResult, SyncStateStore}

/** The product's extract, load and sync calls, wired the way `graft.cli.Cli`
  * wires them, against the fake server and an in-memory Derby sink.
  */
object Lifecycle {
  val dialect = new DerbyDialect

  /** How many steps a run measures: `perSecond` steps per second of
    * `--seconds`, at least `min`. A fixed count rather than a deadline:
    * step times keep falling for the first minutes of a fresh JVM (JIT,
    * Spark's code caches), so every run must take its median at the same
    * point of that curve, whatever the host's speed.
    */
  def steps(seconds: Int, perSecond: Double, min: Int): Int =
    math.max(min, math.round(seconds * perSecond).toInt)

  def readObject(env: Env, obj: String, chunkSize: Int): DataFrame =
    env.spark.read.format("salesforce")
      .option("object", obj)
      .option("transport", env.transportName)
      .option("includeDeleted", "true")
      .option("chunkSize", chunkSize.toString)
      .load()

  def createTable(conn: Connection, name: String, fields: Seq[SfField]): Unit = {
    val cols = fields.map { f =>
      val t = f.sfType match {
        case "id" => "VARCHAR(18) NOT NULL PRIMARY KEY"
        case "int" => "INT"
        case "double" => "DOUBLE"
        case "datetime" => "TIMESTAMP"
        case "boolean" => "BOOLEAN"
        case _ => "VARCHAR(255)"
      }
      s"${dialect.quoteIdent(f.name)} $t"
    }
    val st = conn.createStatement()
    try st.execute(s"CREATE TABLE ${dialect.quoteIdent(name)} (${cols.mkString(", ")})")
    finally st.close()
    new SyncStateStore(conn).install()
    conn.commit()
  }

  /** `Cli bulkload`: the extract's max modstamp, a one-batch job over
    * the connector frame, truncate-and-load plus `__sync` registration.
    */
  def bulkload(env: Env, conn: Connection, obj: String, chunkSize: Int): (Long, Timestamp) = {
    val df = readObject(env, obj, chunkSize)
    val modstamp = Option(df.agg(max(col("SystemModstamp"))).head().getTimestamp(0))
      .getOrElse(throw new IllegalArgumentException(s"$obj is empty"))
    val n = df.count()
    val job = JobInfo(s"bench-${System.nanoTime()}",
      batches = Seq(BatchInfo("b0", "Completed", n)),
      numberRecordsProcessed = n, systemModstamp = Some(modstamp))
    val state = new SyncStateStore(conn)
    val loaded = BulkLoad.bulkLoad(job, SyncConfig(obj, "Id", "SystemModstamp"), conn,
      dialect, state, _ => df)
    (loaded, modstamp)
  }

  def scalar[A](conn: Connection, sql: String)(get: java.sql.ResultSet => A): Option[A] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      if (rs.next()) Option(get(rs)) else None
    } finally st.close()
  }

  def syncRow(conn: Connection, table: String): Option[(Option[Timestamp], String)] = {
    val ps = conn.prepareStatement("SELECT syncuntil, status FROM \"__sync\" WHERE tablename = ?")
    try {
      ps.setString(1, table)
      val rs = ps.executeQuery()
      if (rs.next()) Some((Option(rs.getTimestamp(1)), rs.getString(2))) else None
    } finally ps.close()
  }

  def stagingTables(conn: Connection): Int =
    scalar(conn, "SELECT COUNT(*) FROM SYS.SYSTABLES WHERE TABLENAME LIKE '__stg_%'")(_.getInt(1))
      .getOrElse(0)

  /** Canonical rows of a sink table, in field order. */
  def tableRows(conn: Connection, table: String, fields: Seq[SfField]): Iterator[String] = {
    val st = conn.createStatement()
    val rs = st.executeQuery(s"SELECT ${fields.map(f => dialect.quoteIdent(f.name)).mkString(", ")}" +
      s" FROM ${dialect.quoteIdent(table)}")
    val out = mutable.ArrayBuffer.empty[String]
    while (rs.next()) out += Canon.row(fields.indices.map { i =>
      fields(i).sfType match {
        case "int" => rs.getInt(i + 1)
        case "double" => rs.getDouble(i + 1)
        case "datetime" => rs.getTimestamp(i + 1)
        case "boolean" => rs.getBoolean(i + 1)
        case _ => rs.getString(i + 1)
      }
    })
    st.close()
    out.iterator
  }
}

/** `sync_steady`: the paper's steady state. The seed snapshot of
  * `Order__c` is bulk-loaded once per set-up; then one client runs, in a
  * closed loop, pairs of a delta round (a fresh delta published) and a
  * round with no new changes: eight untimed, then the timed ones.
  */
final class SyncSteady extends Workload {
  // sizes: see perfbench/manifest.json
  private val Records = 10000
  private val DeltaSize = 2000
  private val ChunkSize = 10000
  private val WarmUpPairs = 8
  private val PairsPerSecond = 1.3
  /** `--max-delta` of the preflight: far above any delta, so it never trips. */
  private val MaxDeltaRows = 100000L
  private var conn: Connection = _
  private var dbName = ""
  private var stream: ChangeStream = _
  private var fold: ReferenceFold = _
  private var log: SObjectLog = _
  private val deltaTimes = mutable.ArrayBuffer.empty[Double]
  private val emptyTimes = mutable.ArrayBuffer.empty[Double]
  private var deltaRows = 0L
  private var fastPaths = 0
  private val cfg = SyncConfig(Orders.Object, "Id", "SystemModstamp", Some("IsDeleted"))
  private val isoZ = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
  // per-round trace figures: (round label, delta rows published)
  private val roundLabels = mutable.ArrayBuffer.empty[(String, Int)]
  private val emptyLabels = mutable.ArrayBuffer.empty[String]

  override def primaryPrefix: String = "round-"
  override def setup(env: Env, rep: Int): Unit = {
    if (conn != null) { conn.close(); env.dropDerby(dbName) }
    dbName = s"sync$rep"
    log = new SObjectLog(Orders.Object, Orders.Fields)
    stream = new ChangeStream(env.seed, Records)
    fold = new ReferenceFold(0, Orders.TsIdx, Orders.DelIdx)
    val snap = stream.snapshot()
    snap.foreach(log.append)
    log.publishAll()
    fold(snap)
    env.server.register(log)
    conn = env.derby(dbName)
    Lifecycle.createTable(conn, Orders.Object, Orders.Fields)
    val (n, _) = Lifecycle.bulkload(env, conn, Orders.Object, ChunkSize)
    require(n == Records, s"seed load landed $n of $Records records")
    env.server.dropJobs()
  }

  /** One round, fetched through the same closure as `Cli sync --max-delta`. */
  private def round(env: Env): SyncResult = {
    val c = env.sink(conn)
    val transport = graft.sources.salesforce.SfTransports.get(env.transportName)
    val countFn = (wm: Option[Timestamp]) => transport.count(Orders.Object,
      wm.map(w => s"SystemModstamp > ${isoZ.format(w.toInstant)}"), includeDeleted = true)
    new IncrementalSync(c, Lifecycle.dialect, new SyncStateStore(c)).syncTable(cfg, {
      wm: Option[Timestamp] =>
        var df = Lifecycle.readObject(env, Orders.Object, ChunkSize)
        wm.foreach(w => df = df.filter(col("SystemModstamp") > lit(w)))
        df
    }, Some(countFn), MaxDeltaRows)
  }

  private var lastWm: Option[Timestamp] = None

  private def roundChecks(env: Env, label: String): Boolean = {
    val row = Lifecycle.syncRow(conn, Orders.Object)
    val wm = row.flatMap(_._1)
    val ok = env.check(row.exists(_._2 == "ready"), s"$label: __sync.status is ${row.map(_._2)}") &&
      env.check(Lifecycle.stagingTables(conn) == 0, s"$label: a __stg_ table was left behind") &&
      env.check(lastWm.forall(p => wm.exists(w => !w.before(p))),
        s"$label: watermark went back from $lastWm to $wm")
    lastWm = wm
    ok
  }

  /** A delta round on a freshly published delta, then a round with no
    * new changes. Only `timed` pairs count towards the figures.
    */
  private def pair(env: Env, r: Int, timed: Boolean): Unit = {
    val delta = stream.delta(DeltaSize)
    delta.foreach(log.append)
    log.publishAll()
    fold(delta)
    val dl = if (timed) s"round-$r" else s"warmup-round-$r"
    env.op("sync", dl)(round(env)).foreach { case (res, dt) =>
      val merged = res.isInstanceOf[SyncResult.Merged]
      if (env.check(merged, s"$dl: expected a merge, got $res") && roundChecks(env, dl) && timed) {
        deltaTimes += dt
        deltaRows += delta.size
        if (env.tracer.enabled) roundLabels += ((dl, delta.size))
      }
    }
    val el = if (timed) s"empty-$r" else s"warmup-empty-$r"
    env.op("sync", el)(round(env)).foreach { case (res, dt) =>
      val ok = res == SyncResult.NoChange || res.isInstanceOf[SyncResult.Merged]
      if (env.check(ok, s"$el: unexpected $res") && roundChecks(env, el) && timed) {
        emptyTimes += dt
        if (res == SyncResult.NoChange) fastPaths += 1
        if (env.tracer.enabled) emptyLabels += el
      }
    }
  }

  override def warmUp(env: Env): Unit = {
    lastWm = Lifecycle.syncRow(conn, Orders.Object).flatMap(_._1)
    (0 until WarmUpPairs).foreach(pair(env, _, timed = false))
  }

  override def measure(env: Env): Unit = {
    (0 until Lifecycle.steps(env.seconds, PairsPerSecond, 5)).foreach { r =>
      // alternate traced and untraced pairs, so the overhead is measured
      if (env.trace) env.useTracing(r % 2 == 1)
      pair(env, r, timed = true)
      if (r % 20 == 19) env.server.dropJobs()
    }
    env.useTracing(false)
  }

  override def verify(env: Env): Unit = {
    env.attempted += 1
    val want = fold.live.valuesIterator.map(v => Canon.row(v.toSeq)).toSeq.sorted
    val got = Lifecycle.tableRows(conn, Orders.Object, Orders.Fields).toSeq.sorted
    env.check(want == got, s"sink table differs from the reference fold: " +
      s"${got.size} rows vs ${want.size}, ${got.diff(want).take(2)} / ${want.diff(got).take(2)}")
    val wm = Lifecycle.syncRow(conn, Orders.Object).flatMap(_._1).map(_.getTime)
    val landed = Lifecycle.scalar(conn, "SELECT MAX(\"SystemModstamp\") FROM \"Order__c\"")(
      _.getTimestamp(1)).map(_.getTime)
    env.check(wm.isDefined && wm == landed && wm == fold.maxLiveTs,
      s"watermark $wm, max landed $landed, reference ${fold.maxLiveTs}")
  }

  override def release(env: Env): Unit = {
    stream = null; fold = null; log = null
    conn.rollback(); conn.close(); env.dropDerby(dbName)
  }

  override def samples: (Int, Int) = (deltaTimes.size, emptyTimes.size)

  override def endToEnd: Seq[Metric] = Seq(
    Metric("primary_op_s", Stats.median(deltaTimes.toSeq), "s"),
    Metric("secondary_op_s", Stats.median(emptyTimes.toSeq), "s"))

  override def perLayer(env: Env): Seq[Metric] = {
    Seq(
      Metric("sync.round_p50_s", Stats.median(deltaTimes.toSeq), "s"),
      Metric("sync.empty_round_p50_s", Stats.median(emptyTimes.toSeq), "s"),
      Metric("sync.empty_round_fast_paths", fastPaths, "count"),
      Metric("sync.rows_per_s", deltaRows / deltaTimes.sum, "rows/s")) ++
      SyncPhases(env, roundLabels.toSeq, emptyLabels.toSeq)
  }
}

/** `bulk_reload`: the full-load path, then the reverse leg. Each step
  * loads the whole `LineItem__c` extract (PK-chunked Bulk V1 CSV, through
  * the connector) into Derby with `__sync` registration, then uploads a
  * change set back twice as update jobs: four untimed steps, then the
  * timed ones.
  */
final class BulkReload extends Workload {
  // sizes: see perfbench/manifest.json
  private val Records = 20000
  private val ChunkSize = 5000
  private val UploadRows = 20000
  private val MaxBatchRecords = 1000
  private val UploadsPerLoad = 2
  private val WarmUpSteps = 4
  private val StepsPerSecond = 0.5
  private var conn: Connection = _
  private var dbName = ""
  private var log: SObjectLog = _
  private var source: (Long, Long) = (0L, 0L)
  private var sourceMaxTs = 0L
  private var changes: DataFrame = _
  private var changeIds: Set[String] = Set.empty
  private val loadTimes = mutable.ArrayBuffer.empty[Double]
  private val uploadTimes = mutable.ArrayBuffer.empty[Double]
  private var rowsLoaded = 0L
  private val loadLabels = mutable.ArrayBuffer.empty[String]
  private val uploadLabels = mutable.ArrayBuffer.empty[String]

  override def primaryPrefix: String = "load-"
  override def setup(env: Env, rep: Int): Unit = {
    if (conn != null) { conn.close(); env.dropDerby(dbName) }
    dbName = s"bulk$rep"
    log = new SObjectLog(LineItems.Object, LineItems.Fields)
    val recs = LineItems.generate(env.seed, Records)
    recs.foreach(log.append)
    log.publishAll()
    env.server.register(log)
    source = Canon.digest(recs.iterator.map(r => Canon.row(r.toSeq)))
    sourceMaxTs = recs.last(LineItems.Fields.indexWhere(_.name == "SystemModstamp")).asInstanceOf[Long]
    conn = env.derby(dbName)
    Lifecycle.createTable(conn, LineItems.Object, LineItems.Fields)
    val r = new java.util.SplittableRandom(env.seed + 1)
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < UploadRows) picked += r.nextInt(Records)
    val rows = picked.toSeq.map(k => Row(LineItems.id(k), (1 + r.nextInt(50)).toDouble,
      r.nextInt(11) / 100.0))
    changeIds = rows.map(_.getString(0)).toSet
    changes = env.spark.createDataFrame(env.spark.sparkContext.parallelize(rows, 4),
      StructType.fromDDL("Id STRING, Quantity__c DOUBLE, Discount__c DOUBLE"))
  }

  /** A load of the whole extract, then uploads of the change set. */
  private def step(env: Env, i: Int, timed: Boolean): Unit = {
    val pre = if (timed) "" else "warmup-"
    val ll = s"${pre}load-$i"
    env.op("sync", ll)(Lifecycle.bulkload(env, env.sink(conn), LineItems.Object, ChunkSize))
      .foreach { case ((n, modstamp), dt) =>
        val got = Canon.digest(Lifecycle.tableRows(conn, LineItems.Object, LineItems.Fields))
        val row = Lifecycle.syncRow(conn, LineItems.Object)
        if (env.check(n == source._1 && got == source,
              s"$ll: loaded $n rows, digest $got, source $source") &&
            env.check(row.exists(r => r._2 == "ready" && r._1.map(_.getTime).contains(modstamp.getTime)) &&
              modstamp.getTime == sourceMaxTs,
              s"$ll: __sync is $row, job modstamp ${modstamp.getTime}, source max $sourceMaxTs") &&
            timed) {
          loadTimes += dt
          rowsLoaded += n
          if (env.tracer.enabled) loadLabels += ll
        }
      }
    (0 until UploadsPerLoad).foreach(k => upload(env, s"${pre}upload-$i-$k", timed))
    env.server.dropJobs()
  }

  private def upload(env: Env, ul: String, timed: Boolean): Unit = {
    env.server.uploads.clear()
    env.op("reverse", ul)(BulkUpload.uploadWithResults(changes, LineItems.Object,
        env.transportName, "update", maxRecords = MaxBatchRecords)._2.collect())
      .foreach { case (results, dt) =>
        val posted = env.server.uploads.toArray(Array.empty[UploadBatch]).toSeq
        val ok = env.check(posted.map(_.records).sum == changeIds.size &&
              posted.map(_.digest).distinct.size == posted.size &&
              posted.forall(_.records <= MaxBatchRecords),
              s"$ul: server saw ${posted.size} batches, ${posted.map(_.records).sum} records") &&
          env.check(results.length == changeIds.size &&
              results.forall(_.getAs[Boolean]("success")) &&
              results.map(_.getAs[String]("id")).toSet == changeIds,
              s"$ul: ${results.length} results, ${results.count(!_.getAs[Boolean]("success"))} failed")
        if (ok && timed) {
          uploadTimes += dt
          if (env.tracer.enabled) uploadLabels += ul
        }
      }
  }

  override def warmUp(env: Env): Unit = (0 until WarmUpSteps).foreach(step(env, _, timed = false))

  override def measure(env: Env): Unit = {
    (0 until Lifecycle.steps(env.seconds, StepsPerSecond, 3)).foreach { i =>
      // alternate traced and untraced steps, so the overhead is measured
      if (env.trace) env.useTracing(i % 2 == 1)
      step(env, i, timed = true)
    }
    env.useTracing(false)
  }

  override def verify(env: Env): Unit = ()

  override def release(env: Env): Unit = {
    log = null; changes = null; changeIds = Set.empty
    conn.rollback(); conn.close(); env.dropDerby(dbName)
  }

  override def samples: (Int, Int) = (loadTimes.size, uploadTimes.size)

  override def endToEnd: Seq[Metric] = Seq(
    Metric("primary_op_s", Stats.median(loadTimes.toSeq), "s"),
    Metric("secondary_op_s", Stats.median(uploadTimes.toSeq), "s"))

  override def perLayer(env: Env): Seq[Metric] = Seq(
    Metric("bulk.load_s", Stats.median(loadTimes.toSeq), "s"),
    Metric("bulk.rows_per_s", rowsLoaded / loadTimes.sum, "rows/s"),
    Metric("upload.upload_s", Stats.median(uploadTimes.toSeq), "s")) ++
    LoadPhases(env, loadLabels.toSeq, uploadLabels.toSeq)
}
