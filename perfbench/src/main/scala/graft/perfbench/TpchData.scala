package graft.perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The profile of the provisioned test tables (TESTDATA.md) that
  * `perfbench/profile/profile.py measure` writes: row-count scaling, and
  * the family and parameters of every generated column.
  */
object Profile {
  lazy val root: JsonNode = {
    val in = getClass.getResourceAsStream("/graft/perfbench/tpch_profile.json")
    try new ObjectMapper().readTree(in) finally in.close()
  }

  def at(path: String): JsonNode =
    path.split('.').foldLeft(root)((n, k) => n.get(k)).ensuring(_ != null, s"profile has no $path")
  def num(path: String): Double = at(path).asDouble
  def int(path: String): Int = at(path).asInt
  def range(path: String): (Double, Double) = (at(path).get(0).asDouble, at(path).get(1).asDouble)
  def strings(path: String): Array[String] = at(path).asScala.map(_.asText).toArray
  /** Keys and cumulative weights of a `{value: share}` object. */
  def weights(path: String): (Array[String], Array[Double]) = {
    val kv = at(path).properties.asScala.map(e => e.getKey -> e.getValue.asDouble).toArray
    (kv.map(_._1), kv.map(_._2).scanLeft(0.0)(_ + _).tail)
  }

  /** Rows of a table at a scale factor: max(min, per_sf x sf). */
  def rows(table: String, sf: Double): Int =
    math.max(int(s"rows.$table.min"), math.round(num(s"rows.$table.per_sf") * sf).toInt)

  def pick(r: SplittableRandom, cum: Array[Double]): Int = {
    val u = r.nextDouble() * cum.last
    val i = java.util.Arrays.binarySearch(cum, u)
    math.min(if (i >= 0) i + 1 else -i - 1, cum.length - 1)
  }
}

/** Writes the registry's input tables (`region` … `embeddings`, one
  * parquet each, the layout `graft.Tables` reads) at a scale factor, from
  * a seed. Row counts and column distributions follow the profile of the
  * provisioned tables (see [[Profile]]):
  *
  * {{{
  * TpchData DIR SF SEED    writes the tables, for profile.py compare
  * }}}
  */
object TpchData {
  import Profile._

  private val Day = 86400000L

  private def uniform(r: SplittableRandom, lohi: (Double, Double)): Double =
    lohi._1 + r.nextDouble() * (lohi._2 - lohi._1)
  private def cents(d: Double): Double = math.round(d * 100) / 100.0
  private def intIn(r: SplittableRandom, lohi: (Double, Double)): Int =
    lohi._1.toInt + r.nextInt(lohi._2.toInt - lohi._1.toInt + 1)
  private def oneOf(r: SplittableRandom, xs: Array[String]): String = xs(r.nextInt(xs.length))

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val r = new SplittableRandom(seed)
    val nCust = rows("customer", sf)
    val nSupp = rows("supplier", sf)
    val nPart = rows("part", sf)
    val nOrd = rows("orders", sf)
    val nEv = rows("events", sf)
    val nDoc = rows("documents", sf)
    val nVec = rows("embeddings", sf)
    val nNation = int("customer.nations")
    def day(d: Int) = new java.sql.Timestamp(d * Day)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", StructType.fromDDL("r_regionkey INT, r_name STRING"),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map {
        case (n, i) => Row(i, n)
      })
    save("nation", StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
      (0 until nNation).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = strings("customer.segments")
    save("customer", StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"),
      (0 until nCust).map(k => Row(k.toLong, f"Customer#$k%09d", r.nextInt(nNation),
        cents(uniform(r, range("customer.acctbal"))), oneOf(r, segments))))
    save("supplier", StructType.fromDDL(
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
      (0 until nSupp).map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(nNation),
        cents(uniform(r, range("supplier.acctbal"))))))
    val (adjs, nouns, types) = (strings("part.adjectives"), strings("part.nouns"), strings("part.types"))
    save("part", StructType.fromDDL("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
        "p_type STRING, p_size INT, p_retailprice DOUBLE"),
      (0 until nPart).map(k => Row(k.toLong, s"${oneOf(r, adjs)} ${oneOf(r, nouns)}",
        s"Brand#${1 + r.nextInt(int("part.brands"))}", oneOf(r, types),
        intIn(r, range("part.size")), 900.0 + (k % 1000) / 10.0)))
    val (statuses, priorities) = (strings("orders.statuses"), strings("orders.priorities"))
    save("orders", StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
      (0 until nOrd).map(k => Row(k.toLong, r.nextInt(nCust).toLong, oneOf(r, statuses),
        cents(uniform(r, range("orders.total_price"))), day(intIn(r, range("orders.date_days"))),
        oneOf(r, priorities))))
    val (flags, lineStatus) = (strings("lineitem.flags"), strings("lineitem.line_statuses"))
    val (disc, tax) = (range("lineitem.discount"), range("lineitem.tax"))
    save("lineitem", StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, " +
        "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
        "l_shipdate TIMESTAMP"),
      (0 until math.round(num("lineitem.per_order") * nOrd).toInt).map { _ =>
        Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
          intIn(r, range("lineitem.line_number")), intIn(r, range("lineitem.quantity")).toDouble,
          cents(uniform(r, range("lineitem.extended_price"))),
          r.nextInt(math.round(disc._2 * 100).toInt + 1) / 100.0,
          r.nextInt(math.round(tax._2 * 100).toInt + 1) / 100.0,
          oneOf(r, flags), oneOf(r, lineStatus), day(intIn(r, range("lineitem.ship_date_days"))))
      })

    // events: exponential gaps over the span, so ts rises with event_id
    val (evTypes, evCum) = weights("events.types")
    val nUsers = math.max(1, math.round(num("events.users_per_sf") * sf).toInt)
    val meanGapUs = num("events.span_days") * Day * 1000.0 / nEv
    val valueMean = num("events.value_mean")
    val props = range("events.props_k")
    var us = java.time.LocalDate.parse(at("events.start").asText).toEpochDay * Day * 1000
    save("events", StructType.fromDDL("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING"),
      (0 until nEv).map { k =>
        us += math.round(r.nextExponential() * meanGapUs)
        val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
        ts.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
        Row(k.toLong, ts, r.nextInt(nUsers).toLong, evTypes(pick(r, evCum)),
          cents(r.nextExponential() * valueMean), s"""{"k": ${intIn(r, props)}}""")
      })

    // documents: base texts, then a share of them replaced, one after
    // another, by another document's text plus the marker word
    val words = strings("documents.words")
    val wordCum = at("documents.word_weights").asScala.map(_.asDouble).toArray
      .scanLeft(0.0)(_ + _).tail
    val len = range("documents.length")
    val texts = Array.fill(nDoc)(Seq.fill(intIn(r, len))(words(pick(r, wordCum))).mkString(" "))
    val marker = at("documents.near_dup_marker").asText
    val nDup = math.round(num("documents.near_dup_share") * nDoc).toInt
    val dupIdx = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (dupIdx.size < nDup) dupIdx += r.nextInt(nDoc)
    dupIdx.foreach { i =>
      val j = (i + 1 + r.nextInt(nDoc - 1)) % nDoc
      texts(i) = s"${texts(j)} $marker"
    }
    val (langs, langCum) = weights("documents.langs")
    val nSources = int("documents.sources")
    save("documents", StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
      (0 until nDoc).map(k => Row(k.toLong, texts(k), langs(pick(r, langCum)),
        s"src${k % nSources}", texts(k).length.toLong)))

    // embeddings: isotropic normal vectors at unit length, labels independent
    val dim = int("embeddings.dim")
    val labels = int("embeddings.labels")
    save("embeddings", StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"),
      (0 until nVec).map { k =>
        val v = Array.fill(dim)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(k.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(labels))
      })
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("tpchdata")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try write(spark, args(0), args(1).toDouble, args(2).toLong)
    finally spark.stop()
  }
}
