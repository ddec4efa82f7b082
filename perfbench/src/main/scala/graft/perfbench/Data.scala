package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** The `Order__c` SObject the sync workload replicates, shaped like the
  * TPC-H `orders` table, and its change stream.
  */
object Orders {
  val Object = "Order__c"
  val Fields: Seq[SfField] = Seq(
    SfField("Id", "id"), SfField("CustKey__c", "int"), SfField("Status__c", "picklist"),
    SfField("TotalPrice__c", "double"), SfField("OrderDate__c", "datetime"),
    SfField("Priority__c", "picklist"), SfField("SystemModstamp", "datetime"),
    SfField("IsDeleted", "boolean"))
  val TsIdx = 6
  val DelIdx = 7
  /** 2024-01-01T00:00:00Z: the initial extract's records end here. */
  val T0: Long = 1704067200000L
  private val Day = 86400000L
  // payload values as in the provisioned sf0.1 orders (see Profile)
  private val Customers = Profile.rows("customer", 0.1)
  private val Statuses = Profile.strings("orders.statuses")
  private val Priorities = Profile.strings("orders.priorities")
  private val (price0, price1) = Profile.range("orders.total_price")
  private val (day0, day1) = Profile.range("orders.date_days")

  def id(k: Long): String = f"801$k%015d"

  def record(r: SplittableRandom, k: Long, ts: Long, deleted: Boolean): Array[Any] = Array(
    id(k), r.nextInt(Customers), Statuses(r.nextInt(Statuses.length)),
    math.round(r.nextDouble(price0, price1) * 100) / 100.0,
    (day0.toLong + r.nextInt((day1 - day0).toInt + 1)) * Day,
    Priorities(r.nextInt(Priorities.length)), ts, deleted)
}

/** Generates the seed snapshot and, per round, a delta of changes:
  * updates with advanced timestamps (60%), new ids (20%), soft deletes
  * (10%), a second version of an id already in the same delta (5%), and
  * insert-then-delete pairs (5%). The shares are assumed, not measured:
  * no recorded change traffic exists to take them from (see the
  * manifest). Timestamps rise by 1-3 ms per change, so each delta starts
  * inside the second its predecessor ended in.
  */
final class ChangeStream(seed: Long, initial: Int) {
  private val r = new SplittableRandom(seed)
  private val live = mutable.ArrayBuffer.empty[Long]
  private val livePos = mutable.HashMap.empty[Long, Int]
  private var nextKey = 0L
  private var ts = Orders.T0 - initial.toLong * 20

  private def addLive(k: Long): Unit = { livePos(k) = live.size; live += k }
  private def removeLive(k: Long): Unit = {
    val i = livePos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; livePos(last) = i }
  }
  private def tick(): Long = { ts += 1 + r.nextInt(3); ts }

  def snapshot(): Seq[Array[Any]] = (0 until initial).map { _ =>
    val k = nextKey; nextKey += 1
    addLive(k)
    ts += 20
    Orders.record(r, k, ts, deleted = false)
  }

  def delta(n: Int): Seq[Array[Any]] = {
    val out = mutable.ArrayBuffer.empty[Array[Any]]
    val touched = mutable.ArrayBuffer.empty[Long]
    while (out.size < n) {
      val roll = r.nextInt(100)
      if (roll < 60 && live.nonEmpty) {                         // update
        val k = live(r.nextInt(live.size))
        out += Orders.record(r, k, tick(), deleted = false); touched += k
      } else if (roll < 80) {                                     // new id
        val k = nextKey; nextKey += 1
        addLive(k)
        out += Orders.record(r, k, tick(), deleted = false); touched += k
      } else if (roll < 90 && live.size > 1) {                    // soft delete
        val k = live(r.nextInt(live.size))
        removeLive(k)
        out += Orders.record(r, k, tick(), deleted = true)
      } else if (roll < 95 && touched.nonEmpty) {                 // second version in one delta
        val k = touched(r.nextInt(touched.size))
        if (livePos.contains(k)) out += Orders.record(r, k, tick(), deleted = false)
      } else if (out.size + 2 <= n) {                             // insert, then delete
        val k = nextKey; nextKey += 1
        out += Orders.record(r, k, tick(), deleted = false)
        out += Orders.record(r, k, tick(), deleted = true)
      }
    }
    out.toSeq
  }
}

/** The reference the sync output is checked against: an independent
  * fold of every published change, last version per `Id` winning and
  * soft-deleted ids removed.
  */
final class ReferenceFold(idIdx: Int, tsIdx: Int, delIdx: Int) {
  private val state = mutable.HashMap.empty[String, Array[Any]]
  def apply(changes: Iterable[Array[Any]]): Unit = changes.foreach { c =>
    val id = c(idIdx).asInstanceOf[String]
    val newer = state.get(id).forall(p => p(tsIdx).asInstanceOf[Long] <= c(tsIdx).asInstanceOf[Long])
    if (newer) state(id) = c
  }
  /** Surviving records: the last version of each id, unless deleted. */
  def live: Map[String, Array[Any]] =
    state.iterator.filterNot(_._2(delIdx) == true).toMap
  def maxLiveTs: Option[Long] =
    live.valuesIterator.map(_(tsIdx).asInstanceOf[Long]).maxOption
}

/** The `LineItem__c` SObject the bulk workload extracts, shaped like the
  * TPC-H `lineitem` table.
  */
object LineItems {
  val Object = "LineItem__c"
  val Fields: Seq[SfField] = Seq(
    SfField("Id", "id"), SfField("OrderKey__c", "int"), SfField("PartKey__c", "int"),
    SfField("SuppKey__c", "int"), SfField("LineNumber__c", "int"),
    SfField("Quantity__c", "double"), SfField("ExtendedPrice__c", "double"),
    SfField("Discount__c", "double"), SfField("Tax__c", "double"),
    SfField("ReturnFlag__c", "picklist"), SfField("LineStatus__c", "picklist"),
    SfField("ShipDate__c", "datetime"), SfField("SystemModstamp", "datetime"),
    SfField("IsDeleted", "boolean"))
  // payload values as in the provisioned sf0.1 lineitem (see Profile)
  private val Parts = Profile.rows("part", 0.1)
  private val Suppliers = Profile.rows("supplier", 0.1)
  private val PerOrder = Profile.num("lineitem.per_order")
  private val Flags = Profile.strings("lineitem.flags")
  private val Status = Profile.strings("lineitem.line_statuses")
  private val (price0, price1) = Profile.range("lineitem.extended_price")
  private val (day0, day1) = Profile.range("lineitem.ship_date_days")

  def id(k: Long): String = f"802$k%015d"

  def generate(seed: Long, n: Int): Seq[Array[Any]] = {
    val r = new SplittableRandom(seed)
    val orders = math.max(1, math.round(n / PerOrder).toInt)
    var ts = Orders.T0 - n.toLong * 5
    (0 until n).map { k =>
      ts += 1 + r.nextInt(8)
      Array[Any](id(k), r.nextInt(orders), r.nextInt(Parts), r.nextInt(Suppliers),
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        math.round(r.nextDouble(price0, price1) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Flags(r.nextInt(Flags.length)),
        Status(r.nextInt(Status.length)),
        (day0.toLong + r.nextInt((day1 - day0).toInt + 1)) * 86400000L, ts, false)
    }
  }
}

/** Row canonicalisation shared by the output checks. */
object Canon {
  def row(values: Seq[Any]): String = values.map {
    case null => "\u0001"
    case d: Double => java.lang.Double.toString(d)
    case ts: java.sql.Timestamp => ts.getTime.toString
    case other => other.toString
  }.mkString("\u0000")

  /** Order-insensitive digest: the sum of per-row 64-bit hashes. */
  def digest(rows: Iterator[String]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { s =>
      val b = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      h += java.nio.ByteBuffer.wrap(b).getLong
      n += 1
    }
    (n, h)
  }
}
