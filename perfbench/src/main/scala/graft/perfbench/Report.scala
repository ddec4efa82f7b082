package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run, averaged per op over the traced
  * ops of one kind.
  */
object Report {
  private val Mb = 1024.0 * 1024.0

  def spansOf(env: Env, labels: Set[String]): Seq[Span] =
    env.tracer.spans.asScala.iterator.filter(s => labels(s.op)).toSeq

  def sum(env: Env, labels: Seq[String], key: String): Double =
    labels.map(l => env.opStats.getOrElse(l, Map.empty).getOrElse(key, 0L).toDouble).sum

  def avg(env: Env, labels: Seq[String], key: String): Double =
    if (labels.isEmpty) 0.0 else sum(env, labels, key) / labels.size

  /** Wire, sink, Spark, server and per-layer self-time figures shared by
    * every workload, per op over `labels`.
    */
  def common(env: Env, labels: Seq[String]): Seq[Metric] = {
    def a(k: String) = avg(env, labels, k)
    val wall = sum(env, labels, "wall_ns")
    val insertRows = sum(env, labels, "sink.rows.insert") + sum(env, labels, "sink.rows.stage")
    val insertNs = sum(env, labels, "sink.ns.insert") + sum(env, labels, "sink.ns.stage")
    val spans = spansOf(env, labels.toSet)
    val n = math.max(labels.size, 1)
    val layers = LayerTable(spans)
    val gaps = labels.map { l =>
      val ss = spans.filter(_.op == l)
      val root = ss.find(_.name == "op")
      root.map(r => r.durNs - Spans.covered(ss.filter(_.layer == "spark")
        .map(j => (math.max(j.startNs, r.startNs), math.min(j.endNs, r.endNs)))
        .filter(j => j._2 > j._1))).getOrElse(0L)
    }
    Seq(
      Metric("sf.requests", a("server.requests"), "count"),
      Metric("sf.bulk_jobs", a("server.bulk_jobs"), "count"),
      Metric("sf.count_calls", a("server.count_calls"), "count"),
      Metric("spark.driver_gap_s", gaps.sum / 1e9 / n, "s"),
      Metric("sf.read_s", a("sf.read_ns") / 1e9, "s"),
      Metric("sf.rows_read", a("sf.rows_read"), "count"),
      Metric("sf.bytes_in_mb", a("server.bytes_out") / Mb, "MB"),
      Metric("sf.plan_s", a("sf.ns.plan") / 1e9, "s"),
      Metric("sf.server_busy_s", a("server.busy_ns") / 1e9, "s"),
      Metric("sf.server_busy_share", if (wall > 0) sum(env, labels, "server.busy_ns") / wall else 0, "ratio"),
      Metric("sink.statements", a("sink.statements"), "count"),
      Metric("sink.insert_batches", a("sink.insert_batches"), "count"),
      Metric("sink.rows_inserted", insertRows / n, "count"),
      Metric("sink.insert_s", insertNs / 1e9 / n, "s"),
      Metric("sink.truncate_s", a("sink.ns.truncate") / 1e9, "s"),
      Metric("sink.insert_rows_per_s", if (insertNs > 0) insertRows / (insertNs / 1e9) else 0, "rows/s"),
      Metric("spark.jobs", a("spark.jobs"), "count"),
      Metric("spark.stages", a("spark.stages"), "count"),
      Metric("spark.tasks", a("spark.tasks"), "count"),
      Metric("spark.task_run_s", a("spark.task_run_ms") / 1e3, "s"),
      Metric("spark.task_cpu_s", a("spark.task_cpu_ns") / 1e9, "s"),
      Metric("spark.gc_s", a("spark.gc_ms") / 1e3, "s"),
      Metric("spark.shuffle_read_mb", a("spark.shuffle_read_b") / Mb, "MB"),
      Metric("spark.shuffle_write_mb", a("spark.shuffle_write_b") / Mb, "MB"),
      Metric("spark.spill_mb", a("spark.spill_b") / Mb, "MB"),
      Metric("spark.sql_actions", a("spark.sql_actions"), "count")) ++
      Seq("sources.salesforce", "sync", "sink", "reverse", "spark", "registry").map { l =>
        Metric(s"layer.$l.self_s", layers.get(l).map(_._1).getOrElse(0.0) / n, "s")
      }
  }
}

/** Phase times of traced sync rounds, told apart by the statements the
  * product sends to the sink (see `JdbcTrace.phase`).
  */
object SyncPhases {
  def apply(env: Env, rounds: Seq[(String, Int)], empties: Seq[String]): Seq[Metric] = {
    val labels = rounds.map(_._1)
    val all = labels ++ empties
    val spans = Report.spansOf(env, all.toSet)
    def phaseSum(ls: Seq[String], ph: String): Double =
      spans.filter(s => ls.contains(s.op) && s.layer == "sink" && s.name == ph).map(_.durNs).sum / 1e9
    def perRound(ls: Seq[String], ph: String): Double = if (ls.isEmpty) 0 else phaseSum(ls, ph) / ls.size
    // fetch: from the end of the state read to the first staging
    // statement; stage: from there to the merge, plus the staging
    // statements after it (the drop)
    val (fetch, stage) = labels.map { l =>
      val sink = spans.filter(s => s.op == l && s.layer == "sink").sortBy(_.startNs)
      val stateRead = sink.find(_.name == "state")
      val firstStage = sink.find(_.name == "stage")
      val merge = sink.find(_.name == "merge")
      val f = for (s <- stateRead; e <- firstStage) yield e.startNs - s.endNs
      val g = for (s <- firstStage; m <- merge) yield
        (m.startNs - s.startNs) + sink.filter(x => x.name == "stage" && x.startNs > m.startNs).map(_.durNs).sum
      (f.getOrElse(0L) / 1e9, g.getOrElse(0L) / 1e9)
    }.unzip
    val n = math.max(labels.size, 1)
    val fetched = Report.sum(env, labels, "sf.rows_read")
    val served = rounds.map(_._2).sum.toDouble
    Report.common(env, labels) ++ Seq(
      Metric("sync.spark_jobs_per_round", Report.avg(env, labels, "spark.jobs"), "count"),
      Metric("sf.fetch_passes_per_round", if (served > 0) fetched / served else 0, "ratio"),
      Metric("sync.lock_s", perRound(all, "lock"), "s"),
      Metric("sync.state_s", perRound(all, "state"), "s"),
      Metric("sync.fetch_s", fetch.sum / n, "s"),
      Metric("sync.stage_s", stage.sum / n, "s"),
      Metric("sync.merge_s", perRound(labels, "merge"), "s"),
      Metric("sync.delete_s", perRound(labels, "delete"), "s"),
      Metric("sync.watermark_s", perRound(labels, "watermark"), "s"),
      Metric("sync.commit_s", perRound(all, "commit"), "s"),
      Metric("sync.rows_staged_per_fetched",
        if (fetched > 0) Report.sum(env, labels, "sink.rows.stage") / fetched else 0, "ratio"))
  }
}

/** Figures of traced bulk loads and uploads. */
object LoadPhases {
  def apply(env: Env, loads: Seq[String], uploads: Seq[String]): Seq[Metric] = {
    def u(k: String) = Report.avg(env, uploads, k)
    Report.common(env, loads) ++ Seq(
      Metric("upload.batches", u("upload.batches"), "count"),
      Metric("upload.bytes_out_mb", u("upload.bytes_out") / (1024.0 * 1024.0), "MB"),
      Metric("upload.post_s", u("upload.post_ns") / 1e9, "s"),
      Metric("upload.wait_s", u("upload.wait_ns") / 1e9, "s"),
      Metric("upload.results_s", u("upload.results_ns") / 1e9, "s"))
  }
}
