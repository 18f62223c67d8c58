package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded benchmark inputs.
  *
  * The base tables are a deterministic TPC-H-shaped star (customer, orders,
  * lineitem) generated from fixed hash salts, so every run sees the same
  * rows. The workload seed only picks a bijective affine relabelling of
  * `orderkey` and `custkey`, applied to every table that carries the key.
  * Relabelling moves rows between batches and changes arrival order, but
  * keeps every event count and per-batch count fixed, so seeds differ in
  * which rows meet, not in how much work there is.
  */
object Inputs {

  final case class Tables(cu: DataFrame, or: DataFrame, li: DataFrame)

  /** `(a, b)` for `k -> ((a·(k−1) + b) mod n) + 1`, with `gcd(a, n) = 1`. */
  final case class Affine(a: Long, b: Long, n: Long) {
    def apply(k: Column): Column = pmod(lit(a) * (k - lit(1L)) + lit(b), lit(n)) + lit(1L)
  }

  private def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)

  def affine(seed: Long, salt: Long, n: Long): Affine = {
    val rnd = new scala.util.Random(seed * 1000003L + salt)
    var a = 1L + (rnd.nextLong() & Long.MaxValue) % math.max(1L, n - 1)
    while (gcd(a, n) != 1L) a += 1
    Affine(a, (rnd.nextLong() & Long.MaxValue) % n, n)
  }

  private def h(c: Column, salt: Int, mod: Long): Column =
    pmod(xxhash64(c, lit(salt)), lit(mod))

  private def pick(c: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (h(c, salt, xs.size.toLong) + 1).cast("int"))

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Base tables at scale `sf` (customers = 150 000 · sf, 10 orders per
    * customer, 1–7 lines per order), relabelled by `seed`.
    */
  def tables(spark: SparkSession, sf: Double, seed: Long): Tables = {
    val nC = math.max(10L, math.round(150000 * sf))
    val nO = nC * 10
    val ck = affine(seed, 1, nC)
    val ok = affine(seed, 2, nO)
    val parts = spark.sparkContext.defaultParallelism
    val id = col("id")
    val cu = spark.range(1, nC + 1, 1, parts).select(
      ck(id).as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      h(id, 11, 25).cast("int").as("c_nationkey"),
      ((h(id, 12, 1100000L) - 100000L) / 100.0).as("c_acctbal"),
      pick(id, 13, segments).as("c_mktsegment"))
    val orderdate = date_add(lit(java.sql.Date.valueOf("1992-01-01")),
      h(id, 22, 2406L).cast("int"))
    val ordersBase = spark.range(1, nO + 1, 1, parts).select(
      id.as("k"),
      ck(h(id, 21, nC) + 1).as("o_custkey"),
      orderdate.as("o_orderdate"),
      pick(id, 23, Seq("F", "O", "P")).as("o_orderstatus"),
      ((h(id, 24, 50000000L) + 100000L) / 100.0).as("o_totalprice"),
      pick(id, 25, priorities).as("o_orderpriority"))
    val or = ordersBase.select(ok(col("k")).as("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))
    val line = col("l")
    val li = ordersBase
      .select(col("k"), col("o_orderdate"),
        explode(sequence(lit(1L), h(col("k"), 31, 7L) + 1)).as("l"))
      .select(
        ok(col("k")).as("l_orderkey"),
        (h(col("k") * 8 + line, 32, 200000L) + 1).as("l_partkey"),
        (h(col("k") * 8 + line, 33, 10000L) + 1).as("l_suppkey"),
        line.cast("int").as("l_linenumber"),
        (h(col("k") * 8 + line, 34, 50L) + 1).cast("double").as("l_quantity"),
        ((h(col("k") * 8 + line, 35, 10000000L) + 90000L) / 100.0).as("l_extendedprice"),
        (h(col("k") * 8 + line, 36, 11L) / 100.0).as("l_discount"),
        (h(col("k") * 8 + line, 37, 9L) / 100.0).as("l_tax"),
        pick(col("k") * 8 + line, 38, Seq("A", "N", "R")).as("l_returnflag"),
        pick(col("k") * 8 + line, 39, Seq("F", "O")).as("l_linestatus"),
        date_add(col("o_orderdate"), (h(col("k") * 8 + line, 40, 121L) + 1).cast("int"))
          .as("l_shipdate"))
    Tables(cu, or, li)
  }

  /** Order-independent fingerprint of a changelog: the XOR of per-event
    * hashes over position and text (events are distinct), so any change
    * to an event or to its place in the total order changes it.
    */
  def fingerprint(events: DataFrame): String = {
    val r = events.agg(count(lit(1)), bit_xor(xxhash64(col("t"), col("sub"), col("idx"), col("line"))))
      .head()
    f"${r.getLong(0)}%d:${if (r.isNullAt(1)) 0L else r.getLong(1)}%016x"
  }

  /** TPC-H Q3 top-20 as plain Spark SQL over the same tables (the oracle:
    * no graft code), as comparable tuples.
    */
  def oracleTop20(spark: SparkSession, t: Tables): Seq[(Long, String, String, Double)] = {
    t.cu.createOrReplaceTempView("pb_customer")
    t.or.createOrReplaceTempView("pb_orders")
    t.li.createOrReplaceTempView("pb_lineitem")
    rows(spark.sql(
      """SELECT l_orderkey, CAST(o_orderdate AS STRING) AS o_orderdate, o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM pb_customer, pb_orders, pb_lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < DATE '1995-03-15'
        |  AND l_shipdate > DATE '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin))
  }

  /** `(orderkey, orderdate, priority, revenue)` rows of a top-20 frame. */
  def rows(df: DataFrame): Seq[(Long, String, String, Double)] =
    df.select(col("l_orderkey").cast("long"), col("o_orderdate").cast("string"),
        col("o_orderpriority"), col("revenue").cast("double"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
}
