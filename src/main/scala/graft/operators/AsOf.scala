package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** As-of join over the event stream (SURVEY.md §2.5 "range/as-of joins for
  * events"): for every purchase, the most recent prior click by the same
  * user.
  *
  * Implementation is the union-and-carry form — both sides share one
  * partition-by-user, order-by-time window and the click attributes are
  * carried forward with `last(..., ignoreNulls)` — which costs exactly ONE
  * shuffle on the user key, instead of a per-row range join (BNLJ) or an
  * interval cross join. This is the shape that survives 100 TB: it scales
  * as a single sort within user partitions. "Prior" is defined on the
  * total order (ts, event_id), so same-timestamp events resolve
  * deterministically.
  */
object AsOf {

  def purchaseAfterClick(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isClick = col("event_type") === "click"
    t(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        last(when(isClick, col("event_id")), ignoreNulls = true).over(w).as("click_id"),
        last(when(isClick, unix_millis(col("ts"))), ignoreNulls = true).over(w).as("click_ts_ms"))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_millis(col("ts")).as("purchase_ts_ms"),
        col("click_id"), col("click_ts_ms"),
        (unix_millis(col("ts")) - col("click_ts_ms")).as("gap_ms"))
      .orderBy("purchase_id")
  }

  /** Interval (range) join: every click by the same user in the 10 minutes
    * before a purchase. The equi-key (user_id) carries the join through a
    * single shuffle; the time window is a post-join range filter — the
    * batch twin of the watermarked stream-stream join in
    * [[graft.streaming.Streams.clickPurchaseJoin]].
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
    purchases.join(clicks,
        col("user_id") === col("cu") &&
          col("cts") >= col("ts") - expr("INTERVAL 10 MINUTE") &&
          col("cts") < col("ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        unix_millis(col("ts")).as("purchase_ts_ms"),
        unix_millis(col("cts")).as("click_ts_ms"),
        (unix_millis(col("ts")) - unix_millis(col("cts"))).as("gap_ms"))
      .orderBy("purchase_id", "click_id")
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("ev4_asof_join", purchaseAfterClick,
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        | carried AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts_ms
        |  FROM e)
        |SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS purchase_ts_ms,
        |  click_id, click_ts_ms, epoch_ms(ts) - click_ts_ms AS gap_ms
        |FROM carried
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin),
    QueryDef("ev5_interval_join", intervalJoin,
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase'))
        |SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        |  epoch_ms(p.ts) AS purchase_ts_ms, epoch_ms(c.ts) AS click_ts_ms,
        |  epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
        |FROM e p JOIN e c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
        |ORDER BY purchase_id, click_id""".stripMargin)
  )
}
