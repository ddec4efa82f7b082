package graft.perfbench

import java.io.File
import java.sql.{Connection, DriverManager}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.reverse.UploadTransports
import graft.sources.salesforce.{HttpSfTransport, SfTransports}

/** What one run shares across its workload: the Spark session, the fake
  * server and the transport registered in front of it, the tracer, and
  * the operation tally the result reports.
  */
final class Env(val spark: SparkSession, val work: File, val seed: Long,
    val seconds: Int, val trace: Boolean) {
  val tracer = new Tracer
  val counters = new Counters
  val server = new FakeSalesforce()
  val url: String = server.start()
  val http = new HttpSfTransport(url, "00Dbench!session", pollIntervalMs = 10,
    pollTimeoutMs = 60000)
  val transportName = "perfbench"
  private val traced = new TracingTransport(http, tracer, counters)
  /** Ops run with tracing on; Spark events of other ops are ignored. */
  val tracedOps: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val sparkTrace = new SparkTrace(tracer, counters, tracedOps.contains)
  if (trace) {
    spark.sparkContext.addSparkListener(sparkTrace)
    spark.listenerManager.register(sparkTrace.queryListener)
  }
  useTracing(false)

  /** Routes the product through the timing wrappers, or around them. */
  def useTracing(on: Boolean): Unit = {
    val t = if (on) traced else http
    SfTransports.register(transportName, t)
    UploadTransports.register(transportName, t)
    tracer.enabled = on
  }

  /** The sink connection as the product should see it this op. */
  def sink(raw: Connection): Connection =
    if (tracer.enabled) JdbcTrace.wrap(raw, tracer, counters) else raw

  def derby(name: String): Connection = {
    val c = DriverManager.getConnection(s"jdbc:derby:memory:$name;create=true")
    c.setAutoCommit(false)
    c
  }

  def dropDerby(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Runs one operation under its own id: Spark jobs inherit it through
    * the local property, spans carry it. Returns the result and its wall
    * seconds; a throw counts the op as failed.
    */
  def op[A](layer: String, label: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    val traced = tracer.enabled
    if (traced) tracedOps.add(label)
    val before = if (trace) snapshot() else Map.empty[String, Long]
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpKey, label)
    tracer.currentOp = label
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(layer, "op")(body)
      val dt = (System.nanoTime() - t0) / 1e9
      opLog += ((label, traced, dt))
      System.err.println(f"[perfbench] $label%-34s $dt%8.3f s")
      Some((r, dt))
    } catch {
      case e: Throwable =>
        fail(s"$label: $e")
        e.printStackTrace(System.err)
        None
    } finally {
      sc.setLocalProperty(Tracer.OpKey, null)
      tracer.currentOp = ""
      if (trace) {
        drainListeners()
        val after = snapshot()
        opStats(label) = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
          .filter(_._2 != 0) + ("wall_ns" -> (System.nanoTime() - t0))
      }
    }
  }

  /** (label, traced, seconds) of every op that completed. */
  val opLog = mutable.ArrayBuffer.empty[(String, Boolean, Double)]

  /** Per-op counter deltas of a traced run, by op label. */
  val opStats = mutable.LinkedHashMap.empty[String, Map[String, Long]]

  private def snapshot(): Map[String, Long] = counters.snapshot ++ Map(
    "server.requests" -> server.requests.get, "server.bytes_out" -> server.bytesOut.get,
    "server.busy_ns" -> server.busyNs.get, "server.bulk_jobs" -> server.bulkJobs.get,
    "server.count_calls" -> server.countCalls.get)

  /** An output check; a failed one marks its op failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(what)
    ok
  }

  private def fail(what: String): Unit = {
    failed += 1
    failures += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  /** Waits until Spark's listener bus has delivered every event. */
  def drainListeners(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Live heap in MB after a full collection. The second collection
    * comes after Spark's cleaner has had time to drop what the first one
    * released (unpersisted blocks, broadcasts).
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The live heap at the end of the run, with and without what the
    * harness holds: the stand-ins for outside systems (the fake server's
    * rendered records, the in-memory Derby sink), the workload's
    * reference data and the tracer's spans. Returns (program, harness) MB.
    */
  def heapShares(wl: Workload): (Double, Double) = {
    val all = settledHeapMb()
    wl.release(this)
    server.clear()
    tracer.spans.clear()
    opStats.clear()
    val program = settledHeapMb()
    (program, all - program)
  }

  /** The live heap once Spark's cleaner has nothing left to release: two
    * readings in a row within 1 MB, or the fifth.
    */
  private def settledHeapMb(): Double = {
    var prev = liveHeapMb()
    var cur = liveHeapMb()
    var n = 2
    while (math.abs(cur - prev) > 1.0 && n < 5) { prev = cur; cur = liveHeapMb(); n += 1 }
    cur
  }

  def close(): Unit = server.stop()
}

/** One measured workload. */
trait Workload {
  /** Set-up repetitions; the last one's state is what gets measured. */
  def setup(env: Env, rep: Int): Unit
  def setupReps: Int = 3
  /** One-off cost (JIT warm-up), part of set-up time; it runs after the
    * set-ups.
    */
  def warmUp(env: Env): Unit = ()
  def measure(env: Env): Unit
  /** Untimed checks of the final state. */
  def verify(env: Env): Unit
  /** Drops the harness's own data (reference fold, generated records,
    * the sink database) once the checks have run.
    */
  def release(env: Env): Unit = ()
  def endToEnd: Seq[Metric]
  def perLayer(env: Env): Seq[Metric]
  /** Label prefix of the op whose traced and untraced times give the
    * tracing overhead.
    */
  def primaryPrefix: String

  /** How many samples the primary and secondary medians are taken over. */
  def samples: (Int, Int)

  /** Traced minus untraced median of the primary op, in seconds. */
  def tracingOverhead(env: Env): Double = {
    def med(traced: Boolean) = {
      val xs = env.opLog.collect { case (l, t, dt) if t == traced && l.startsWith(primaryPrefix) => dt }
      if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    }
    med(true) - med(false)
  }
}

final case class Metric(name: String, value: Double, unit: String)
