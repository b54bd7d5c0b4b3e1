package graft.perfbench

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.sql.{Date, Timestamp}
import java.time.LocalDate
import java.util.{SplittableRandom, UUID}

/** The benchmark's own seeded generator. Every value is a pure function
  * of (seed, field tag, row index, row version), so the driver can
  * recompute any expected row without reading the tables, and a change
  * to the program's own fixture generator cannot move the workload.
  *
  * The shapes follow the reference's customers/orders tables. Customer
  * name, email and state never change across versions, so the gold join
  * stays an exact function of the silver tables while customers are
  * updated; every version moves `created_at` / `order_date` forward one
  * day, so an update always wins the precombine.
  */
object Gen {
  val States: Vector[String] =
    Vector("CA", "NY", "TX", "WA", "FL", "IL", "MA", "OR", "CO", "GA")
  val Priorities: Vector[String] = Vector("LOW", "MEDIUM", "HIGH")
  val EpochMillis = 1704067200000L
  val EpochDay: Long = EpochMillis / 86400000L

  val customersSchema: StructType = StructType(Seq(
    StructField("customer_id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("state", StringType),
    StructField("city", StringType),
    StructField("email", StringType),
    StructField("created_at", TimestampType),
    StructField("address", StringType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("order_id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("order_value", DecimalType(12, 2)),
    StructField("priority", StringType),
    StructField("order_date", DateType),
    StructField("customer_id", StringType, nullable = false)))

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, tag: Int, k: Long, v: Int): Long =
    mix(mix(mix(seed * 1000003L + tag) ^ k) ^ v.toLong)

  private def mod(x: Long, m: Int): Int = java.lang.Math.floorMod(x, m.toLong).toInt

  def customerId(seed: Long, c: Int): String =
    new UUID(h(seed, 1, c, 0), h(seed, 2, c, 0)).toString

  def orderId(seed: Long, k: Long): String =
    new UUID(h(seed, 3, k, 0), h(seed, 4, k, 0)).toString

  def customerName(seed: Long, c: Int): String =
    s"name_${mod(h(seed, 5, c, 0), 100000)}"

  def customer(seed: Long, c: Int, v: Int): Row = Row(
    customerId(seed, c),
    customerName(seed, c),
    States(mod(h(seed, 6, c, 0), States.size)),
    s"city_${mod(h(seed, 7, c, v), 1000)}",
    s"user$c@example.com",
    new Timestamp(EpochMillis + c + v * 86400000L),
    s"${mod(h(seed, 8, c, v), 9999)} Main St")

  def orderCustomer(seed: Long, nCust: Int, k: Long, v: Int): Int =
    mod(h(seed, 9, k, v), nCust)

  def orderCents(seed: Long, k: Long, v: Int): Long =
    1000L + mod(h(seed, 10, k, v), 99100)

  def order(seed: Long, nCust: Int, k: Long, v: Int): Row = Row(
    orderId(seed, k),
    s"order text ${mod(h(seed, 11, k, v), 1000)}",
    java.math.BigDecimal.valueOf(orderCents(seed, k, v), 2),
    Priorities(mod(h(seed, 12, k, v), Priorities.size)),
    Date.valueOf(LocalDate.ofEpochDay(EpochDay - 30 + mod(h(seed, 13, k, 0), 30) + v)),
    customerId(seed, orderCustomer(seed, nCust, k, v)))

  /** Canonical text of a row: the form every output check compares. */
  def text(r: Row): String = (0 until r.length).map { i =>
    r.get(i) match {
      case d: java.math.BigDecimal => d.setScale(2).toPlainString
      case x => String.valueOf(x)
    }
  }.mkString("|")

  def rowHash(r: Row): Long = mix(text(r).hashCode.toLong)

  /** Row count and order-independent hash of a generated frame, computed
    * by Spark over the rows the program receives.
    */
  def fingerprint(df: DataFrame): (Long, Long) =
    df.rdd.map(r => (1L, rowHash(r))).fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

  def ordersFrame(spark: SparkSession, seed: Long, nCust: Int,
      keys: Array[Long], vers: Array[Int]): DataFrame = {
    val rows = spark.sparkContext.parallelize(keys.zip(vers).toSeq, 4)
      .map { case (k, v) => order(seed, nCust, k, v) }
    spark.createDataFrame(rows, ordersSchema)
  }

  def customersFrame(spark: SparkSession, seed: Long, idx: Array[Int],
      vers: Array[Int]): DataFrame = {
    val rows = spark.sparkContext.parallelize(idx.zip(vers).toSeq, 4)
      .map { case (c, v) => customer(seed, c, v) }
    spark.createDataFrame(rows, customersSchema)
  }

  /** First versions of orders [0, n): generated on the executors. */
  def seedOrders(spark: SparkSession, seed: Long, nCust: Int, n: Long): DataFrame = {
    val slices = math.max(4, (n / 150000L).toInt)
    spark.createDataFrame(spark.sparkContext.range(0L, n, 1L, slices)
      .map(k => order(seed, nCust, k, 0)), ordersSchema)
  }

  def seedCustomers(spark: SparkSession, seed: Long, n: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(0L, n.toLong, 1L, 4)
      .map(c => customer(seed, c.toInt, 0)), customersSchema)

  /** `n` distinct ints from [0, bound), drawn from `rng`. */
  def sample(rng: SplittableRandom, bound: Int, n: Int): Array[Int] = {
    require(n <= bound, s"cannot draw $n distinct keys from $bound")
    val seen = new java.util.HashSet[Integer]()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val x = rng.nextInt(bound)
      if (seen.add(x)) { out(i) = x; i += 1 }
    }
    out
  }
}

/** The driver's model of the live tables: the current version of every
  * customer and order, and per-customer order totals for the gold
  * aggregate. Updated only after the matching write returned.
  */
final class Model(val seed: Long, val nCust: Int) {
  val custVer = new Array[Int](nCust)
  private var ordVer = new Array[Int](1 << 16)
  private var ordCommit = new Array[Int](1 << 16)
  private val commitTs = scala.collection.mutable.ArrayBuffer[String]()
  var nOrders = 0
  val totalCents = new Array[Long](nCust)
  val orderCount = new Array[Long](nCust)

  def orderVersion(k: Long): Int = ordVer(k.toInt)

  /** An orders increment: `nNew` fresh keys plus `nUpd` distinct existing
    * keys at their next version.
    */
  def ordersIncrement(rng: SplittableRandom, nNew: Int, nUpd: Int): (Array[Long], Array[Int]) = {
    val upd = Gen.sample(rng, nOrders, nUpd)
    val keys = (0 until nNew).map(i => (nOrders + i).toLong).toArray ++ upd.map(_.toLong)
    val vers = Array.fill(nNew)(0) ++ upd.map(k => ordVer(k) + 1)
    (keys, vers)
  }

  def customersUpdate(rng: SplittableRandom, n: Int): (Array[Int], Array[Int]) = {
    val idx = Gen.sample(rng, nCust, n)
    (idx, idx.map(c => custVer(c) + 1))
  }

  /** Record a landed orders write: `ts` is its commit. */
  def applyOrders(keys: Array[Long], vers: Array[Int], ts: String): Unit = {
    commitTs += ts
    keys.indices.foreach { i =>
      val k = keys(i).toInt
      if (k >= ordVer.length) {
        val n = math.max(ordVer.length * 2, k + 1)
        ordVer = java.util.Arrays.copyOf(ordVer, n)
        ordCommit = java.util.Arrays.copyOf(ordCommit, n)
      }
      if (k < nOrders) account(k, ordVer(k), -1)
      ordVer(k) = vers(i)
      ordCommit(k) = commitTs.size - 1
      nOrders = math.max(nOrders, k + 1)
      account(k, vers(i), +1)
    }
  }

  /** Keys whose current version was written by a commit in (begin, end]. */
  def ordersIn(begin: String, end: String): Seq[Long] =
    (0 until nOrders).filter { k =>
      val ts = commitTs(ordCommit(k))
      ts > begin && ts <= end
    }.map(_.toLong)

  private def account(k: Int, v: Int, sign: Int): Unit = {
    val c = Gen.orderCustomer(seed, nCust, k.toLong, v)
    totalCents(c) += sign * Gen.orderCents(seed, k.toLong, v)
    orderCount(c) += sign
  }

  def applyCustomers(idx: Array[Int], vers: Array[Int]): Unit =
    idx.indices.foreach(i => custVer(idx(i)) = vers(i))

  def orderText(k: Long): String = Gen.text(Gen.order(seed, nCust, k, orderVersion(k)))

  /** Expected rows of the gold top-customers query. */
  def topCustomers(n: Int): Seq[String] = {
    val ids = (0 until nCust).filter(orderCount(_) > 0)
      .map(c => (c, Gen.customerId(seed, c)))
    ids.sortBy { case (c, id) => (-totalCents(c), id) }.take(n).map { case (c, id) =>
      Seq(id, Gen.customerName(seed, c),
        java.math.BigDecimal.valueOf(totalCents(c), 2).toPlainString,
        orderCount(c).toString).mkString("|")
    }
  }
}
