package graft.perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, PreparedStatement, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.reverse.{BulkUpload, UploadResult}
import graft.sources.salesforce.{HttpSfTransport, SfFieldMeta, SfTransport}

/** One timed call into a layer. Times are `System.nanoTime` values;
  * `op` is the round, load or query the call belongs to.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long, op: String) {
  def durNs: Long = endNs - startNs
}

object Spans {
  /** Total length of the union of `[start, end)` intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span: its duration minus the time its children
    * cover, with each child clipped to the parent and overlapping
    * children counted once.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(c => c._2 > c._1)
      s.id -> (s.durNs - covered(cs))
    }.toMap
  }
}

/** Records spans while `enabled`. Driver-side calls nest through a
  * thread-local parent stack; calls made inside Spark tasks take the op
  * from the task's local property and are parented afterwards.
  */
final class Tracer {
  @volatile var enabled = false
  @volatile var currentOp: String = ""
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  /** Offset that maps listener wall-clock milliseconds onto nanoTime. */
  val wallToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def op: String = Option(TaskContext.get())
    .flatMap(tc => Option(tc.getLocalProperty(Tracer.OpKey))).getOrElse(currentOp)

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      val opNow = op
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name, t0, t1, opNow))
      }
    }

  /** A span whose interval is known only after the fact; the caller
    * knows its op was traced.
    */
  def record(layer: String, name: String, startNs: Long, endNs: Long, op: String): Unit =
    spans.add(Span(ids.incrementAndGet(), 0L, layer, name, startNs, endNs, op))

}

object Tracer {
  val OpKey = "graft.bench.op"
}

/** Counters a traced run reads per layer. */
final class Counters {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  def add(k: String, v: Long): Unit = m.computeIfAbsent(k, _ => new LongAdder).add(v)
  def snapshot: Map[String, Long] = m.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

/** Times every call the connector and the uploader make into the
  * product's HTTP transport. Registered under the transport name in
  * place of the bare transport, so the product resolves it unchanged.
  */
final class TracingTransport(inner: HttpSfTransport, tracer: Tracer, c: Counters)
    extends SfTransport with BulkUpload.UploadTransport {

  private def t[A](name: String)(body: => A): A = {
    c.add(s"sf.calls.$name", 1)
    val t0 = System.nanoTime()
    try tracer.span("sources.salesforce", name)(body)
    finally c.add(s"sf.ns.$name", System.nanoTime() - t0)
  }

  override def describe(objectName: String): Seq[SfFieldMeta] = t("describe")(inner.describe(objectName))
  override def fieldIndexes(objectName: String): Map[String, Boolean] =
    t("fieldIndexes")(inner.fieldIndexes(objectName))
  override def count(objectName: String, where: Option[String], includeDeleted: Boolean): Long =
    t("count")(inner.count(objectName, where, includeDeleted))
  override def pkChunks(objectName: String, fields: Seq[String], where: Option[String],
      includeDeleted: Boolean, chunkSize: Int): Seq[(String, String)] =
    t("plan")(inner.pkChunks(objectName, fields, where, includeDeleted, chunkSize))

  /** The returned iterator decodes the wire lazily; time spent inside
    * it is read time, and its rows are counted.
    */
  override def query(objectName: String, fields: Seq[String], where: Option[String],
      limit: Option[Int], includeDeleted: Boolean,
      pkRange: Option[(String, String)]): Iterator[Map[String, Any]] = {
    val opNow = tracer.op
    val first = System.nanoTime()
    val it = t("open")(inner.query(objectName, fields, where, limit, includeDeleted, pkRange))
    new Iterator[Map[String, Any]] {
      private var done = false
      private def timed[A](body: => A): A = {
        val t0 = System.nanoTime()
        try body finally c.add("sf.read_ns", System.nanoTime() - t0)
      }
      override def hasNext: Boolean = {
        val h = timed(it.hasNext)
        if (!h && !done) {
          done = true
          tracer.record("sources.salesforce", "read", first, System.nanoTime(), opNow)
        }
        h
      }
      override def next(): Map[String, Any] = {
        val r = timed(it.next())
        c.add("sf.rows_read", 1)
        r
      }
    }
  }

  override def updatedIds(o: String, s: java.sql.Timestamp, e: java.sql.Timestamp): Seq[String] =
    inner.updatedIds(o, s, e)
  override def deletedIds(o: String, s: java.sql.Timestamp,
      e: java.sql.Timestamp): Seq[(String, java.sql.Timestamp)] = inner.deletedIds(o, s, e)
  override def search(sosl: String): Seq[Map[String, Any]] = inner.search(sosl)
  override def recordGet(o: String, id: String): Map[String, Any] = inner.recordGet(o, id)
  override def recordGetByExternalId(o: String, f: String, v: String): Map[String, Any] =
    inner.recordGetByExternalId(o, f, v)
  override def recordCreate(o: String, d: Map[String, Any]): String = inner.recordCreate(o, d)
  override def recordUpdate(o: String, id: String, d: Map[String, Any]): Int =
    inner.recordUpdate(o, id, d)
  override def recordUpsertByExternalId(o: String, f: String, v: String,
      d: Map[String, Any]): Int = inner.recordUpsertByExternalId(o, f, v, d)
  override def recordDelete(o: String, id: String): Int = inner.recordDelete(o, id)

  // ---- reverse ETL
  override def createJob(objectName: String, operation: String,
      externalIdField: Option[String], contentType: String): String =
    tracer.span("reverse", "createJob")(inner.createJob(objectName, operation, externalIdField, contentType))
  override def postBatch(jobId: String, chunkCsv: String): String = {
    c.add("upload.batches", 1)
    c.add("upload.bytes_out", chunkCsv.getBytes("UTF-8").length)
    val t0 = System.nanoTime()
    try tracer.span("reverse", "postBatch")(inner.postBatch(jobId, chunkCsv))
    finally c.add("upload.post_ns", System.nanoTime() - t0)
  }
  override def waitBatch(jobId: String, batchId: String): Unit = {
    val t0 = System.nanoTime()
    try tracer.span("reverse", "waitBatch")(inner.waitBatch(jobId, batchId))
    finally c.add("upload.wait_ns", System.nanoTime() - t0)
  }
  override def batchResults(jobId: String, batchId: String): Seq[UploadResult] = {
    val t0 = System.nanoTime()
    try tracer.span("reverse", "batchResults")(inner.batchResults(jobId, batchId))
    finally c.add("upload.results_ns", System.nanoTime() - t0)
  }
  override def closeJob(jobId: String): Unit =
    tracer.span("reverse", "closeJob")(inner.closeJob(jobId))
}

/** A `java.lang.reflect.Proxy` over the sink connection: every statement
  * the product runs becomes a span named by its phase, and batched
  * inserts are counted.
  */
object JdbcTrace {

  /** The sync or load phase a statement belongs to, from its text. */
  def phase(sql: String): String = {
    val s = sql.trim.replaceAll("\\s+", " ").toUpperCase
    if (s.contains("\"__SYNC\"")) {
      if (s.startsWith("UPDATE") && s.contains("STATUS = 'RUNNING'")) "lock" else "state"
    } else if (s.contains("\"__STG_")) {
      if (s.startsWith("MERGE")) "merge"
      else if (s.startsWith("DELETE") && s.contains(" IN (SELECT")) "delete"
      else "stage"
    } else if (s.startsWith("SELECT MAX(")) "watermark"
    else if (s.startsWith("DELETE")) "truncate"
    else if (s.startsWith("INSERT")) "insert"
    else "other"
  }

  def wrap(conn: Connection, tracer: Tracer, c: Counters): Connection =
    proxy(classOf[Connection], conn, new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "createStatement" =>
          statement(call(conn, m, args).asInstanceOf[Statement], None, tracer, c)
        case "prepareStatement" =>
          statement(call(conn, m, args).asInstanceOf[PreparedStatement],
            Some(args(0).asInstanceOf[String]), tracer, c)
        case "commit" => timed("commit", tracer, c)(call(conn, m, args))
        case "rollback" => timed("rollback", tracer, c)(call(conn, m, args))
        case _ => call(conn, m, args)
      }
    })

  private def timed[A](ph: String, tracer: Tracer, c: Counters)(body: => A): A = {
    c.add("sink.statements", 1)
    c.add(s"sink.calls.$ph", 1)
    val t0 = System.nanoTime()
    try tracer.span("sink", ph)(body)
    finally c.add(s"sink.ns.$ph", System.nanoTime() - t0)
  }

  private def statement[S <: Statement](st: S, preparedSql: Option[String], tracer: Tracer,
      c: Counters): S = {
    val iface: Class[_] = if (preparedSql.isDefined) classOf[PreparedStatement] else classOf[Statement]
    var pendingRows = 0L
    proxy(iface, st, new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "addBatch" => pendingRows += 1; call(st, m, args)
        case "executeBatch" =>
          val ph = phase(preparedSql.getOrElse(""))
          c.add("sink.insert_batches", 1)
          c.add(s"sink.rows.$ph", pendingRows)
          pendingRows = 0
          timed(ph, tracer, c)(call(st, m, args))
        case "execute" | "executeQuery" | "executeUpdate" | "executeLargeUpdate" =>
          val sql = if (args != null && args.nonEmpty) args(0).toString else preparedSql.getOrElse("")
          timed(phase(sql), tracer, c)(call(st, m, args))
        case _ => call(st, m, args)
      }
    }).asInstanceOf[S]
  }

  private def proxy[T](iface: Class[_], target: AnyRef, h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface), h).asInstanceOf[T]

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
}

/** Spark's own view, from its job and query-execution listeners: jobs
  * become spans of their op; stage and task metrics are summed; query
  * executions are counted.
  */
final class SparkTrace(tracer: Tracer, c: Counters, traced: String => Boolean)
    extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private def tracedStage(id: Int): Boolean = Option(stageOp.get(id)).exists(traced)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey))).getOrElse("")
    if (traced(op)) {
      jobStart.put(e.jobId, (e.time, op))
      e.stageIds.foreach(stageOp.put(_, op))
      c.add("spark.jobs", 1)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null)
      tracer.record("spark", "job", s._1 * 1000000L + tracer.wallToNano,
        e.time * 1000000L + tracer.wallToNano, s._2)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (tracedStage(e.stageInfo.stageId)) c.add("spark.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (tracedStage(e.stageId) && e.taskMetrics != null) {
    val m = e.taskMetrics
    c.add("spark.tasks", 1)
    c.add("spark.task_run_ms", m.executorRunTime)
    c.add("spark.task_cpu_ns", m.executorCpuTime)
    c.add("spark.gc_ms", m.jvmGCTime)
    c.add("spark.shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
    c.add("spark.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
    c.add("spark.spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tracer.enabled) c.add("spark.sql_actions", 1)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

/** Groups spans into the per-layer table of a traced run. */
object LayerTable {
  /** Self seconds and span counts per layer, with task-side spans
    * parented to the Spark job of their op that contains them.
    */
  def apply(all: Seq[Span]): Map[String, (Double, Long)] = {
    val jobsByOp = all.filter(s => s.layer == "spark").groupBy(_.op)
    val rootsByOp = all.filter(_.name == "op").groupBy(_.op)
    val linked = all.map { s =>
      if (s.parent != 0 || s.name == "op") s
      else {
        val host = if (s.layer == "spark") None
          else jobsByOp.getOrElse(s.op, Nil).find(j => j.startNs <= s.startNs && s.startNs < j.endNs)
        host.orElse(rootsByOp.getOrElse(s.op, Nil).headOption)
          .map(h => s.copy(parent = h.id)).getOrElse(s)
      }
    }
    val self = Spans.selfTimes(linked)
    linked.groupBy(_.layer).map { case (layer, ss) =>
      layer -> (ss.map(s => self(s.id)).sum / 1e9, ss.size.toLong)
    }
  }
}
