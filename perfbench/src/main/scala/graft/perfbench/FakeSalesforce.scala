package graft.perfbench

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One field of a fake SObject: its name and Salesforce describe type. */
final case class SfField(name: String, sfType: String)

/** An SObject as the fake server holds it: an append-only log of record
  * versions in `SystemModstamp` order. Every value is rendered once, when
  * the record is appended, as a CSV field and as a JSON member, so a
  * request only concatenates pre-rendered bytes. A query sees the
  * published prefix of the log; the benchmark publishes one delta per
  * sync round.
  */
final class SObjectLog(val name: String, val fields: Seq[SfField]) {
  private val tsIdx = fields.indexWhere(_.name == "SystemModstamp")
  require(tsIdx >= 0, s"$name needs a SystemModstamp field")
  private val stamps = ArrayBuffer.empty[Long]
  private val csv = ArrayBuffer.empty[Array[String]]
  private val json = ArrayBuffer.empty[Array[String]]
  @volatile private var visible = 0

  /** Appends one record version; `values` follow `fields`, timestamps as
    * epoch milliseconds. Versions must arrive in timestamp order.
    */
  def append(values: Array[Any]): Unit = synchronized {
    val ts = values(tsIdx).asInstanceOf[Long]
    require(stamps.isEmpty || ts >= stamps.last, s"$name: out-of-order SystemModstamp")
    stamps += ts
    csv += values.map(Wire.csvField)
    json += fields.indices.map(i =>
      Wire.jsonString(fields(i).name) + ":" + Wire.jsonValue(values(i))).toArray
  }

  /** Makes every appended version visible to queries. */
  def publishAll(): Unit = synchronized { visible = stamps.size }

  /** Published versions with `SystemModstamp > afterMs` (all when None)
    * as a half-open index range.
    */
  def range(afterMs: Option[Long]): (Int, Int) = synchronized {
    val hi = visible
    val lo = afterMs match {
      case None => 0
      case Some(t) =>
        var a = 0; var b = hi
        while (a < b) { val m = (a + b) >>> 1; if (stamps(m) > t) b = m else a = m + 1 }
        a
    }
    (lo, hi)
  }

  def fieldIndexes(names: Seq[String]): Array[Int] = {
    val want = if (names.isEmpty) fields.map(_.name) else names
    want.map { n =>
      val i = fields.indexWhere(_.name == n)
      require(i >= 0, s"$name has no field $n")
      i
    }.toArray
  }

  def csvBody(lo: Int, hi: Int, cols: Array[Int]): Array[Byte] = {
    val sb = new java.lang.StringBuilder((hi - lo + 1) * cols.length * 12)
    sb.append(cols.map(i => Wire.csvField(fields(i).name)).mkString(",")).append('\n')
    val rows = synchronized((lo until hi).map(csv))
    rows.foreach { r =>
      var k = 0
      while (k < cols.length) {
        if (k > 0) sb.append(',')
        sb.append(r(cols(k)))
        k += 1
      }
      sb.append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  def jsonRecords(lo: Int, hi: Int, cols: Array[Int]): String = {
    val rows = synchronized((lo until hi).map(json))
    rows.map(r => s"""{"attributes":{"type":"$name"},""" +
      cols.map(r).mkString(",") + "}").mkString(",")
  }

  def describeJson: String =
    s"""{"name":"$name","fields":[""" + fields.map { f =>
      val nillable = f.name != "Id"
      s"""{"name":"${f.name}","type":"${f.sfType}","length":${if (f.sfType == "id") 18 else 255},""" +
        s""""nillable":$nillable,"calculated":false,"compoundFieldName":null}"""
    }.mkString(",") + "]}"
}

/** CSV and JSON value rendering in the shapes Salesforce serves. */
object Wire {
  private val Iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  def isoMillis(ms: Long): String = Iso.format(java.time.Instant.ofEpochMilli(ms))

  def csvField(v: Any): String = v match {
    case null => ""
    case s: String => "\"" + s.replace("\"", "\"\"") + "\""
    case ts: Long => "\"" + isoMillis(ts) + "\""
    case b: Boolean => "\"" + b + "\""
    case d: Double => "\"" + d + "\""
    case i: Int => "\"" + i + "\""
    case other => "\"" + other + "\""
  }

  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => jsonString(s)
    case ts: Long => jsonString(isoMillis(ts))
    case b: Boolean => b.toString
    case d: Double => d.toString
    case i: Int => i.toString
    case other => jsonString(other.toString)
  }
}

/** A record posted to the fake server in an upload batch. */
final case class UploadBatch(records: Int, digest: String)

/** Salesforce REST + Bulk V1 played by a JDK `HttpServer` on localhost,
  * in the wire shapes the product's HTTP transport speaks: describe,
  * FieldDefinition, paginated `query`/`queryAll` with `nextRecordsUrl`,
  * `COUNT()`, PK-chunked Bulk V1 query jobs with CSV results, and
  * update jobs whose batches answer per-record CSV results. No request
  * waits: every batch is Completed when first polled.
  *
  * The only predicate the server evaluates is `SystemModstamp > <iso>`,
  * the one the sync round pushes down; it answers from a binary search
  * over the log.
  */
object FakeSalesforce {
  private final case class Job(id: String, obj: String, operation: String,
      chunkSize: Int, batches: Seq[(String, Int, Int)], cols: Array[Int])
  private final case class Soql(fields: Seq[String], obj: String,
      afterMs: Option[Long], limit: Option[Int], count: Boolean)
}

final class FakeSalesforce(threads: Int = 4, pageSize: Int = 2000) {
  import FakeSalesforce._
  // small responses must not wait out Nagle's algorithm against the
  // client's delayed ACK; read once, when the first server is created
  System.setProperty("sun.net.httpserver.nodelay", "true")
  val apiVersion = "52.0"
  private val objects = new ConcurrentHashMap[String, SObjectLog]()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "fake-salesforce"); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  // counters read by the benchmark
  val requests = new AtomicLong
  val bytesOut = new AtomicLong
  val busyNs = new AtomicLong
  val bulkJobs = new AtomicLong
  val countCalls = new AtomicLong
  val uploads = new java.util.concurrent.ConcurrentLinkedQueue[UploadBatch]()

  private val jobs = new ConcurrentHashMap[String, Job]()
  private val uploadResults = new ConcurrentHashMap[String, Array[Byte]]()
  private val cursors = new ConcurrentHashMap[String, (String, Int, Int, Array[Int])]()
  private val ids = new AtomicInteger

  def start(): String = { server.start(); url }
  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  def register(log: SObjectLog): Unit = objects.put(log.name, log)
  def obj(name: String): SObjectLog = {
    val o = objects.get(name)
    require(o != null, s"unknown object $name")
    o
  }

  /** Forget finished jobs and cursors, so a long run holds no garbage. */
  def dropJobs(): Unit = { jobs.clear(); cursors.clear(); uploadResults.clear() }

  /** Forget every object too: the run is over and only the program's
    * own state should stay on the heap.
    */
  def clear(): Unit = { dropJobs(); objects.clear(); uploads.clear() }

  private def nextId(prefix: String): String = f"$prefix${ids.incrementAndGet()}%012d"

  private val JobNs = "http://www.force.com/2009/06/asyncapi/dataload"
  private def jobXml(id: String, state: String = "Open"): String =
    s"""<?xml version="1.0" encoding="UTF-8"?><jobInfo xmlns="$JobNs">""" +
      s"<id>$id</id><state>$state</state><numberBatchesQueued>0</numberBatchesQueued>" +
      "<numberBatchesInProgress>0</numberBatchesInProgress></jobInfo>"
  private def batchXml(id: String, state: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?><batchInfo xmlns="$JobNs">""" +
      s"<id>$id</id><state>$state</state></batchInfo>"

  private def respond(ex: HttpExchange, body: Array[Byte], ctype: String,
      status: Int = 200): Unit = {
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) {
      val os: OutputStream = ex.getResponseBody
      os.write(body)
      os.close()
    }
    ex.close()
    bytesOut.addAndGet(body.length)
  }
  private def respondXml(ex: HttpExchange, s: String): Unit =
    respond(ex, s.getBytes(UTF_8), "application/xml")
  private def respondJson(ex: HttpExchange, s: String): Unit =
    respond(ex, s.getBytes(UTF_8), "application/json")

  private val Select = """(?is)SELECT\s+(.*?)\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*?))?(?:\s+LIMIT\s+(\d+))?\s*""".r
  private val After = """(?i)SystemModstamp\s*>\s*'?([0-9T:\-.Z]+)'?""".r
  private val OperationTag = """<operation>(\w+)</operation>""".r.unanchored
  private val ObjectTag = """<object>(\w+)</object>""".r.unanchored

  private def parseSoql(q: String): Soql = q.trim match {
    case Select(f, o, where, lim) =>
      val afterMs = Option(where).map {
        case After(iso) => java.time.Instant.parse(iso).toEpochMilli
        case w => throw new IllegalArgumentException(s"unsupported WHERE: $w")
      }
      val fs = f.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val isCount = fs == Seq("COUNT()")
      Soql(if (isCount) Nil else fs, o, afterMs, Option(lim).map(_.toInt), isCount)
    case other => throw new IllegalArgumentException(s"unsupported SOQL: $other")
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    try route(ex)
    catch {
      case e: Throwable =>
        val msg = String.valueOf(e.getMessage).getBytes(UTF_8)
        try respond(ex, msg, "text/plain", 500) catch { case _: Throwable => ex.close() }
    } finally busyNs.addAndGet(System.nanoTime() - t0)
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    val rest = s"/services/data/v$apiVersion/"
    val bulk = s"/services/async/$apiVersion/job"
    if (path.startsWith(rest)) {
      val tail = path.stripPrefix(rest)
      val q = Option(ex.getRequestURI.getRawQuery)
        .map(s => URLDecoder.decode(s.stripPrefix("q="), "UTF-8")).getOrElse("")
      tail.split("/").toSeq match {
        case Seq("sobjects", o, "describe") => respondJson(ex, obj(o).describeJson)
        case Seq(ep) if (ep == "query" || ep == "queryAll") && q.nonEmpty => restQuery(ex, q)
        case Seq("query", cursor) => restPage(ex, cursor)
        case _ => respond(ex, s"no route $method $path".getBytes(UTF_8), "text/plain", 404)
      }
    } else if (path.startsWith(bulk)) {
      val parts = path.stripPrefix(bulk).split("/").filter(_.nonEmpty).toSeq
      (method, parts) match {
        case ("POST", Seq()) => createJob(ex)
        case ("POST", Seq(j)) =>
          readBody(ex)
          respondXml(ex, jobXml(j, "Closed"))
        case ("GET", Seq(j)) => respondXml(ex, jobXml(j))
        case ("POST", Seq(j, "batch")) => postBatch(ex, job(j))
        case ("GET", Seq(j, "batch")) =>
          val jb = job(j)
          respondXml(ex, s"""<?xml version="1.0" encoding="UTF-8"?><batchInfoList xmlns="$JobNs">""" +
            jb.batches.map { case (b, lo, hi) =>
              val st = if (lo < 0) "NotProcessed" else "Completed"
              s"<batchInfo><id>$b</id><state>$st</state></batchInfo>"
            }.mkString + "</batchInfoList>")
        case ("GET", Seq(j, "batch", b)) =>
          job(j)
          respondXml(ex, batchXml(b, "Completed"))
        case ("GET", Seq(j, "batch", b, "result")) =>
          val jb = job(j)
          if (jb.operation == "query" || jb.operation == "queryAll")
            respondXml(ex, s"""<?xml version="1.0" encoding="UTF-8"?><result-list xmlns="$JobNs">""" +
              s"<result>${b}R</result></result-list>")
          else respond(ex, uploadResults.get(b), "text/csv")
        case ("GET", Seq(j, "batch", b, "result", _)) =>
          val jb = job(j)
          val (_, lo, hi) = jb.batches.find(_._1 == b).get
          respond(ex, obj(jb.obj).csvBody(lo, hi, jb.cols), "text/csv")
        case _ => respond(ex, s"no route $method $path".getBytes(UTF_8), "text/plain", 404)
      }
    } else respond(ex, s"no route $method $path".getBytes(UTF_8), "text/plain", 404)
  }

  private def job(id: String): Job = {
    val j = jobs.get(id)
    require(j != null, s"unknown job $id")
    j
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def createJob(ex: HttpExchange): Unit = {
    val doc = readBody(ex)
    val op = doc match { case OperationTag(o) => o; case _ => "query" }
    val o = doc match { case ObjectTag(n) => n; case _ => "" }
    val chunk = Option(ex.getRequestHeaders.getFirst("Sforce-Enable-PKChunking"))
      .map(_.stripPrefix("chunkSize=").stripSuffix(";").toInt).getOrElse(Int.MaxValue)
    val id = nextId("750")
    jobs.put(id, Job(id, o, op, chunk, Nil, Array.empty))
    bulkJobs.incrementAndGet()
    respondXml(ex, jobXml(id))
  }

  /** A query job's one batch carries the SOQL; under PK chunking the
    * server splits it into chunk batches and marks the original
    * NotProcessed. An upload batch is recorded with its digest and
    * answered with one successful result row per record.
    */
  private def postBatch(ex: HttpExchange, jb: Job): Unit = {
    val body = readBody(ex)
    if (jb.operation == "query" || jb.operation == "queryAll") {
      val s = parseSoql(body)
      val log = obj(s.obj)
      val (lo, hi) = log.range(s.afterMs)
      val orig = nextId("751")
      val chunks = ArrayBuffer[(String, Int, Int)]((orig, -1, -1))
      var a = lo
      do {
        val b = math.min(hi, a + jb.chunkSize)
        chunks += ((nextId("751"), a, b))
        a = b
      } while (a < hi)
      jobs.put(jb.id, jb.copy(batches = chunks.toSeq, cols = log.fieldIndexes(s.fields)))
      respondXml(ex, batchXml(orig, "Queued"))
    } else {
      val bid = nextId("751")
      val lines = body.split("\n").iterator.drop(1).filter(_.nonEmpty).toArray
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val digest = md.digest(body.getBytes(UTF_8)).map("%02x".format(_)).mkString
      uploads.add(UploadBatch(lines.length, digest))
      val res = new java.lang.StringBuilder("\"Id\",\"Success\",\"Created\",\"Error\"\n")
      lines.foreach { l =>
        val id = l.takeWhile(_ != ',')
        res.append(id).append(",\"true\",\"false\",\"\"\n")
      }
      uploadResults.put(bid, res.toString.getBytes(UTF_8))
      respondXml(ex, batchXml(bid, "Queued"))
    }
  }

  private def restQuery(ex: HttpExchange, q: String): Unit = {
    if (q.contains("FROM FieldDefinition")) {
      respondJson(ex, """{"totalSize":0,"done":true,"records":[]}""")
    } else {
      val s = parseSoql(q)
      val log = obj(s.obj)
      val (lo, hi0) = log.range(s.afterMs)
      if (s.count) {
        countCalls.incrementAndGet()
        respondJson(ex, s"""{"totalSize":${hi0 - lo},"done":true,"records":[]}""")
      } else {
        val hi = s.limit.fold(hi0)(n => math.min(hi0, lo + n))
        page(ex, s.obj, lo, hi, log.fieldIndexes(s.fields))
      }
    }
  }

  private def restPage(ex: HttpExchange, cursor: String): Unit = {
    val (o, lo, hi, cols) = cursors.remove(cursor)
    require(o != null, s"unknown cursor $cursor")
    page(ex, o, lo, hi, cols)
  }

  private def page(ex: HttpExchange, o: String, lo: Int, hi: Int, cols: Array[Int]): Unit = {
    val end = math.min(hi, lo + pageSize)
    val next =
      if (end < hi) {
        val c = nextId("01g")
        cursors.put(c, (o, end, hi, cols))
        s""","nextRecordsUrl":"/services/data/v$apiVersion/query/$c""""
      } else ""
    respondJson(ex, s"""{"totalSize":${hi - lo},"done":${end >= hi}$next,"records":[""" +
      obj(o).jsonRecords(lo, end, cols) + "]}")
  }
}
