package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload:
  *
  * {{{
  * Main --workload sync_steady|bulk_reload|registry_fulleval --seed N
  *      --seconds S --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * Writes `FILE` as one JSON object: the op tally, the failures, and the
  * metrics (end-to-end with `--trace 0`, per layer with `--trace 1`). A
  * traced run also writes its spans and per-layer table under
  * `DIR/trace/`.
  */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "sync_steady" -> (() => new SyncSteady),
    "bulk_reload" -> (() => new BulkReload),
    "registry_fulleval" -> (() => new RegistryFullEval))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.getOrElse(opts("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))()
    val work = new File(opts("work"))
    val trace = opts("trace") == "1"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val env = new Env(spark, work, opts("seed").toLong, opts("seconds").toInt, trace)
    try {
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
      val setups = (0 until wl.setupReps).map { rep =>
        val t0 = System.nanoTime()
        wl.setup(env, rep)
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      wl.warmUp(env)
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + warmS + Stats.median(setups)
      System.err.println(f"[perfbench] session $sessionS%.2f s, warm-up $warmS%.2f s, " +
        s"set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s")
      val m0 = System.nanoTime()
      wl.measure(env)
      System.err.println(f"[perfbench] measured ${(System.nanoTime() - m0) / 1e9}%.1f s, " +
        s"${env.attempted} ops")
      wl.verify(env)
      val metrics =
        try {
          if (!trace) Seq(Metric("setup_s", setupS, "s")) ++ wl.endToEnd
          else {
            val layer = wl.perLayer(env) ++ Seq(
              Metric("trace.overhead_s", wl.tracingOverhead(env), "s"),
              Metric("ops.primary_samples", wl.samples._1, "count"),
              Metric("ops.secondary_samples", wl.samples._2, "count"),
              Metric("ops.failed_ratio", env.failed.toDouble / math.max(env.attempted, 1), "ratio"))
            writeTrace(env, layer)
            layer
          }
        } catch {
          // every sample of some op failed its checks: the failures are
          // the result, and there is no figure to report
          case e: IllegalArgumentException if env.failed > 0 =>
            System.err.println(s"[perfbench] no figures: $e")
            Seq.empty
        }
      val (programMb, harnessMb) = env.heapShares(wl)
      System.err.println(f"[perfbench] live heap $programMb%.1f MB, harness $harnessMb%.1f MB")
      val heap =
        if (!trace) Seq(Metric("heap_live_peak_mb", programMb, "MB"))
        else Seq(Metric("heap.program_mb", programMb, "MB"), Metric("heap.harness_mb", harnessMb, "MB"))
      writeResult(new File(opts("out")), env, metrics ++ heap)
    } finally {
      env.close()
      spark.stop()
    }
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def writeResult(f: File, env: Env, metrics: Seq[Metric]): Unit = {
    val ms = metrics.map(m => s"${Wire.jsonString(m.name)}:{" +
      s""""value":${num(m.value)},"unit":${Wire.jsonString(m.unit)}}""").mkString(",")
    val fails = env.failures.take(20).map(Wire.jsonString).mkString(",")
    Files.writeString(f.toPath, s"""{"attempted":${env.attempted},"failed":${env.failed},""" +
      s""""failures":[$fails],"metrics":{$ms}}""")
  }

  /** The traced-run artifact: every span, and the per-layer table. */
  private def writeTrace(env: Env, metrics: Seq[Metric]): Unit = {
    val dir = new File(env.work, "trace")
    dir.mkdirs()
    val spans = env.tracer.spans.asScala.toSeq.sortBy(_.startNs)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    Files.write(new File(dir, "spans.jsonl").toPath, spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Wire.jsonString(s.layer)},""" +
        s""""name":${Wire.jsonString(s.name)},"op":${Wire.jsonString(s.op)},""" +
        s""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
    }.asJava)
    val layers = LayerTable(spans).toSeq.sortBy(_._1).map { case (l, (self, n)) =>
      s"""${Wire.jsonString(l)}:{"self_s":${num(self)},"spans":$n}"""
    }.mkString(",")
    val ms = metrics.map(m => s"""${Wire.jsonString(m.name)}:${num(m.value)}""").mkString(",")
    Files.writeString(new File(dir, "layers.json").toPath,
      s"""{"layers":{$layers},"metrics":{$ms}}""")
  }
}
