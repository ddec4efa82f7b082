package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** `registry_fulleval`: one query per registry module, every output
  * column evaluated through the `noop` sink. After a warm-up that builds
  * the shared caches afresh, the run repeats a fixed number of cycles (at
  * least two, more with `--seconds`) of a shared-cache reset, a cold pass
  * and a warm pass. Figures are sums over the subset of per-query medians.
  */
final class RegistryFullEval extends Workload {
  /** Module → queries, in the order they run. */
  val subset: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q7_nation_volume"),
    "asof" -> Seq("asof_join"),
    "dedup" -> Seq("dedup_triangles"),
    "graph" -> Seq("graph_bfs_ball"),
    "sim" -> Seq("sim_hubness"),
    "text" -> Seq("text_tfidf"),
    "pipe" -> Seq("pipe_build_corpus"))
  val queries: Seq[String] = subset.flatMap(_._2)
  private val moduleOf = subset.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
  /** Modules whose cold-minus-warm time is the shared-cache build. */
  private val cacheModules = Set("dedup", "graph", "sim")
  /** The subset queries that read a cache `SparkEntry.resetSharedCaches`
    * clears (the near-dup pair graph, the basket pair graph). Any other
    * query runs the same plan cold or warm, so the cold pass runs only
    * these and counts the rest at their warm time.
    */
  val readsSharedCache = Set("dedup_triangles", "graph_bfs_ball")

  // sizes: see perfbench/manifest.json
  private val ScaleMilli = 5
  private val CyclesPerSecond = 0.08
  override def primaryPrefix: String = "warm-"

  /** Per query, traced minus untraced median warm time, summed. */
  override def tracingOverhead(env: Env): Double = queries.map { q =>
    def med(traced: Boolean) = {
      val xs = env.opLog.collect {
        case (l, t, dt) if t == traced && l.startsWith("warm-") && l.endsWith(s"-$q") => dt
      }
      if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    }
    med(true) - med(false)
  }.sum
  override def setupReps: Int = 2
  private def dataDir(env: Env) = new File(env.work, "data").getPath
  private lazy val fns = SparkEntry.queries

  private val cold = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val warm = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val countTimes = mutable.Map.empty[String, Double]
  private val tracedLabels = mutable.ArrayBuffer.empty[String]

  /** First executions compile and JIT every plan, so they run four at a
    * time, with the shared caches built afresh. Their outputs go to
    * parquet, for the DuckDB oracle check the launcher runs after the JVM
    * exits (see `verify`). One untimed cycle follows: query times still
    * fall by a fifth to a third from the first sequential cycle to the
    * second, and the measured cycles should all sit past that drop.
    */
  override def warmUp(env: Env): Unit = {
    val d = dataDir(env)
    val out = new File(env.work, "registry_out/build")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      queries.map { q =>
        val task: java.util.concurrent.Callable[Unit] = () =>
          fns(q)(env.spark, d).write.mode("overwrite").parquet(new File(out, q).getPath)
        pool.submit(task)
      }.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
    SparkEntry.resetSharedCaches()
    (queries.filter(readsSharedCache) ++ queries).foreach(q => noop(fns(q)(env.spark, d)))
  }

  /** The set-up unit: generating the scale's input tables. */
  override def setup(env: Env, rep: Int): Unit =
    TpchData.write(env.spark, dataDir(env), ScaleMilli / 1000.0, env.seed)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def pass(env: Env, kind: String, times: mutable.Map[String, mutable.ArrayBuffer[Double]],
      n: Int, only: String => Boolean = _ => true): Unit = {
    val d = dataDir(env)
    queries.zipWithIndex.filter(qi => only(qi._1)).foreach { case (q, i) =>
      // each query is traced in every other cycle, half of them in the
      // first: the traced-minus-untraced overhead then nets out the
      // first cycle's extra warming
      if (env.trace) env.useTracing((n + i) % 2 == 1)
      val label = s"$kind-$n-$q"
      env.op("registry", label)(noop(fns(q)(env.spark, d))).foreach { case (_, dt) =>
        times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += dt
        if (env.tracer.enabled) tracedLabels += label
      }
    }
  }

  override def measure(env: Env): Unit = {
    (0 until Lifecycle.steps(env.seconds, CyclesPerSecond, 2)).foreach { n =>
      SparkEntry.resetSharedCaches()
      pass(env, "cold", cold, n, readsSharedCache)
      pass(env, "warm", warm, n)
    }
    env.useTracing(false)
    if (env.trace) {
      // the same tree under `.count()`, for the count/noop gap
      val d = dataDir(env)
      queries.foreach { q =>
        val t0 = System.nanoTime()
        fns(q)(env.spark, d).count()
        countTimes(q) = (System.nanoTime() - t0) / 1e9
      }
    }
  }

  /** Untimed: the queries that read a shared cache once more on the
    * measured tables, with the caches the measured passes left warm, so
    * the launcher checks the cache-reuse path beside the warm-up's
    * cache-build path (every other query runs one plan either way). Both
    * go to parquet, with the oracle SQL of each query and the tables.
    */
  override def verify(env: Env): Unit = {
    val out = new File(env.work, "registry_out")
    queries.filter(readsSharedCache).foreach { q =>
      fns(q)(env.spark, dataDir(env)).write.mode("overwrite").parquet(new File(out, s"reuse/$q").getPath)
    }
    val oracle = queries.map(q => Wire.jsonString(q) + ":" + Wire.jsonString(SparkEntry.oracleSql(q)))
    java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath,
      oracle.mkString("{", ",", "}"))
    java.nio.file.Files.writeString(new File(out, "data_dir.txt").toPath, dataDir(env))
  }

  private def med(m: mutable.Map[String, mutable.ArrayBuffer[Double]], q: String): Double =
    m.get(q).filter(_.nonEmpty).map(b => Stats.median(b.toSeq)).getOrElse(0.0)

  override def samples: (Int, Int) = (
    queries.map(q => warm.get(q).map(_.size).getOrElse(0)).min,
    readsSharedCache.toSeq.map(q => cold.get(q).map(_.size).getOrElse(0)).min)

  private def coldMed(q: String): Double =
    if (readsSharedCache(q)) med(cold, q) else med(warm, q)

  /** A pass figure: the sum over the subset of each query's median. */
  private def warmPass: Double = queries.map(med(warm, _)).sum
  private def coldPass: Double = queries.map(coldMed).sum

  override def endToEnd: Seq[Metric] = Seq(
    Metric("primary_op_s", warmPass, "s"),
    Metric("secondary_op_s", coldPass, "s"))

  override def perLayer(env: Env): Seq[Metric] = {
    val modules = subset.flatMap { case (m, qs) =>
      Seq(Metric(s"registry.${m}_cold_s", qs.map(coldMed).sum, "s"),
        Metric(s"registry.${m}_warm_s", qs.map(med(warm, _)).sum, "s"))
    }
    val perQuery = queries.flatMap(q => Seq(
      Metric(s"query.$q.cold_s", coldMed(q), "s"),
      Metric(s"query.$q.warm_s", med(warm, q), "s")))
    val cacheBuild = queries.filter(q => cacheModules(moduleOf(q))).map(q => coldMed(q) - med(warm, q)).sum
    Seq(Metric("registry.cold_s", coldPass, "s"),
      Metric("registry.warm_s", warmPass, "s"),
      Metric("registry.count_pass_s", countTimes.values.sum, "s"),
      Metric("registry.noop_pass_s", warmPass, "s"),
      Metric("cache.build_s", cacheBuild, "s")) ++ modules ++ perQuery ++
      Report.common(env, tracedLabels.toSeq)
  }
}
