package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** Skew mitigation utilities (SURVEY.md §2.5 / north-star scale notes).
  *
  * AQE's skew-join handling (on by default in Spark 4) covers sort-merge
  * joins; explicit salting remains the tool for aggregations and for joins
  * where one side must be replicated. The salt here is DETERMINISTIC —
  * derived by hashing a caller-named unique column — so results are
  * replayable and oracle-checkable, unlike `rand()`-based salting.
  */
object Skew {

  /** Deterministic salt in [0, buckets) from a row-unique column. */
  def saltCol(unique: Column, buckets: Int): Column =
    pmod(hash(unique), lit(buckets))

  /** Salted equi-join: the big (skewed) side gets a deterministic salt,
    * the small side is replicated `buckets` times, and the join runs on
    * (key, salt) — splitting each hot key's rows across `buckets`
    * partitions. Result equals the plain inner join on `key` (asserted by
    * SkewSpec).
    *
    * @param bigUnique a row-unique column of `big` used to derive the salt
    */
  def saltedJoin(
      big: DataFrame, small: DataFrame, key: String,
      bigUnique: String, buckets: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt", saltCol(col(bigUnique), buckets))
    val replicated = small
      .withColumn("__salt", explode(lit((0 until buckets).toArray)))
    saltedBig.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-phase (salted partial -> final) aggregation for skewed group
    * keys: sums/counts accumulate per (key, salt) first, then combine.
    * Use when one group key dominates and a single reducer would bottleneck
    * (the map-side partial aggregation Spark already does usually suffices;
    * this adds an extra fan-out level for extreme skew).
    */
  def saltedSum(
      df: DataFrame, key: String, value: String,
      bigUnique: String, buckets: Int): DataFrame =
    df.withColumn("__salt", saltCol(col(bigUnique), buckets))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(value)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(s"sum_$value"))

  /** Oracle-gated demonstration: the salted two-phase aggregation over the
    * 3-hot-key `l_returnflag` equals the plain group-by — the salt only
    * reshapes the shuffle. Quantities are integer-valued, so the extra
    * combine level cannot drift in float (sum is exact); rounding is belt
    * and braces per the repo convention.
    */
  def saltedSumQuery(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("lid"))
    saltedSum(l, "l_returnflag", "l_quantity", "lid", 16)
      .select(col("l_returnflag"), round(col("sum_l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Oracle-gated demonstration: the salted replicate-join equals the plain
    * customer⋈orders join (aggregated to per-segment totals; 2-decimal
    * inputs keep the rounded sum stable under reordering).
    */
  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
    val c = t(spark, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    saltedJoin(o, c, "o_custkey", "o_orderkey", 8)
      .groupBy("c_mktsegment")
      .agg(round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy("c_mktsegment")
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("skew1_salted_sum", saltedSumQuery,
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("skew2_salted_join", saltedJoinQuery,
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
