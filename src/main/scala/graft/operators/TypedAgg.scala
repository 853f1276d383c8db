package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** Typed `Aggregator[IN, BUF, OUT]` surface (SURVEY.md §2.5 UDAF): a
  * bounded top-k aggregator over `Dataset[OrderRow]`.
  *
  * The buffer holds AT MOST k elements at every step (insert + trim), so
  * partial aggregation ships k rows per partition per key — the property
  * that makes distributed top-k cheap: the shuffle carries O(keys x k),
  * never the fact table. Comparator (price desc, orderkey asc) matches the
  * window-function formulation exactly, so the DuckDB oracle is the
  * row_number form.
  *
  * This operator exists to exercise the TYPED Aggregator surface; even
  * with the primitive-array buffer it pays encoder round-trips the untyped
  * engine skips, so the window twin (`w1_top_orders_per_customer`,
  * Relational.scala) is the production path for this query shape.
  */
object TypedAgg {

  final case class OrderRow(o_custkey: Long, o_orderkey: Long, o_totalprice: Double)
  final case class TopOrder(o_orderkey: Long, o_totalprice: Double)

  /** Aggregation buffer: the current top-k as two PARALLEL PRIMITIVE
    * arrays, kept sorted best-first. A typed Aggregator pays the buffer
    * encoder on every update/merge, and `Array[Long]`/`Array[Double]`
    * fields take the primitive `UnsafeArrayData` fast path — unlike the
    * previous `List[TopOrder]` buffer, which serialized a Product per
    * element per row (the dominant cost of the whole aggregate).
    */
  final case class TopBuf(orderkeys: Array[Long], prices: Array[Double])

  /** Keep the k best (totalprice desc, orderkey asc) orders. */
  final class TopKOrders(k: Int) extends Aggregator[OrderRow, TopBuf, Seq[TopOrder]] {
    // strict "better than": price desc, orderkey asc
    private def better(pa: Double, ka: Long, pb: Double, kb: Long): Boolean =
      pa > pb || (pa == pb && ka < kb)

    /** Merge two sorted buffers into the best k (merge-sort step). */
    private def merged(a: TopBuf, b: TopBuf): TopBuf = {
      val n = math.min(k, a.orderkeys.length + b.orderkeys.length)
      val ks = new Array[Long](n)
      val ps = new Array[Double](n)
      var i = 0; var j = 0; var o = 0
      while (o < n) {
        val takeA = j >= b.orderkeys.length ||
          (i < a.orderkeys.length &&
            better(a.prices(i), a.orderkeys(i), b.prices(j), b.orderkeys(j)))
        if (takeA) { ks(o) = a.orderkeys(i); ps(o) = a.prices(i); i += 1 }
        else { ks(o) = b.orderkeys(j); ps(o) = b.prices(j); j += 1 }
        o += 1
      }
      TopBuf(ks, ps)
    }

    override def zero: TopBuf = TopBuf(Array.emptyLongArray, Array.emptyDoubleArray)
    override def reduce(buf: TopBuf, row: OrderRow): TopBuf =
      merged(buf, TopBuf(Array(row.o_orderkey), Array(row.o_totalprice)))
    override def merge(a: TopBuf, b: TopBuf): TopBuf = merged(a, b)
    override def finish(r: TopBuf): Seq[TopOrder] =
      r.orderkeys.indices.map(i => TopOrder(r.orderkeys(i), r.prices(i)))
    override def bufferEncoder: Encoder[TopBuf] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[TopOrder]] = ExpressionEncoder()
  }

  /** Top-3 orders per customer through the typed Aggregator (same result
    * as the window formulation `w1_top_orders_per_customer`).
    */
  def topOrdersTyped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[OrderRow]
      .groupByKey(_.o_custkey)
      .agg(new TopKOrders(3).toColumn.name("top"))
      .toDF("o_custkey", "top")
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col.o_orderkey").as("o_orderkey"),
        col("col.o_totalprice").as("o_totalprice"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("o_custkey", "rn")
  }

  final case class LineW(l_returnflag: String, l_extendedprice: Double,
      l_quantity: Double)

  /** Constant-size algebraic buffer: `(Σ w·ln x, Σ w, n)`. */
  final case class GMeanBuf(swlx: Double, sw: Double, n: Long)

  /** Quantity-weighted geometric mean of line prices — the
    * log-domain-algebraic complement to [[TopKOrders]]'s bounded-
    * collection buffer: this Aggregator's partial state is THREE
    * scalars regardless of group size, the ideal mergeable shape
    * (map-side combine ships 24 bytes per key per partition). Geometric
    * means are the right average for multiplicative quantities (price
    * ratios, growth factors) where an arithmetic mean over-weights
    * spikes.
    */
  object WeightedGMean extends Aggregator[LineW, GMeanBuf, Double] {
    override def zero: GMeanBuf = GMeanBuf(0.0, 0.0, 0L)
    override def reduce(b: GMeanBuf, r: LineW): GMeanBuf =
      GMeanBuf(b.swlx + r.l_quantity * math.log(r.l_extendedprice),
        b.sw + r.l_quantity, b.n + 1)
    override def merge(a: GMeanBuf, b: GMeanBuf): GMeanBuf =
      GMeanBuf(a.swlx + b.swlx, a.sw + b.sw, a.n + b.n)
    override def finish(r: GMeanBuf): Double =
      if (r.sw == 0.0) 0.0 else math.exp(r.swlx / r.sw)
    override def bufferEncoder: Encoder[GMeanBuf] = ExpressionEncoder()
    override def outputEncoder: Encoder[Double] =
      ExpressionEncoder()
  }

  /** agg2 — quantity-weighted geometric mean price per return flag via
    * the typed algebraic Aggregator. Result rounds to cents: the
    * log-domain sum's last-ulp accumulation-order difference between
    * engines is ~1e-12 relative, far inside the 2-decimal grain at
    * price magnitudes (a 6-decimal gate WOULD graze it — the same
    * magnitude argument as ev19's mean).
    */
  def weightedGMeanTyped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .as[LineW]
      .groupByKey(_.l_returnflag)
      .agg(WeightedGMean.toColumn.name("g"))
      .toDF("l_returnflag", "g")
      .select(col("l_returnflag"), round(col("g"), 2).as("w_gmean_price"))
      .orderBy("l_returnflag")
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("agg2_wgmean_typed", weightedGMeanTyped,
      """SELECT l_returnflag,
        |  round(exp(sum(l_quantity * ln(l_extendedprice))
        |    / sum(l_quantity)), 2) AS w_gmean_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    QueryDef("agg1_topk_typed", topOrdersTyped,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin)
  )
}
