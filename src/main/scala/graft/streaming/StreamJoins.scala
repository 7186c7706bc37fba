package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream joins (reference §2.6), the Structured Streaming way:
  * watermark both sides, bound the state with a window-equality or a time
  * range on the join condition — the engine then knows when a row can no
  * longer match and evicts it from the join state.
  *
  *  - window join (reference java/.../window/TumblingWindowJoinDemo
  *    .java:55-64): equi-key AND same tumbling window.
  *  - interval join (reference java/.../transformation/IntervalJoinDemo
  *    .java:58-68): equi-key AND right.ts in [left.ts+lower, left.ts+upper),
  *    the demo's between(-1s, 1s).upperBoundExclusive().
  *  - left-outer window join (reference java/.../window/
  *    TumblingWindowLeftJoinDemo.java:56-84 coGroup): unmatched left rows
  *    emit null right columns once the watermark closes the window.
  *
  * Scale: both sides shuffle on the join key; state per side is bounded by
  * the watermark delay + window/interval width. Skewed keys behave like
  * any keyed shuffle (salt or AQE skew handling).
  *
  * Callers pass sides with disjoint column names (Spark's stream-stream
  * join cannot disambiguate self-referencing columns).
  */
object StreamJoins {

  /** Inner equi-key join within the same tumbling event-time window.
    * The raw ts columns are dropped after the window derivation: the
    * window column inherits the event-time tag, and Spark rejects a
    * stream carrying two event-time columns. The joined window survives
    * as `window` (struct start/end).
    */
  def windowJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, leftKey: String, rightKey: String,
      size: String, wmDelay: String): DataFrame =
    sameWindowJoin(left, right, leftTs, rightTs, leftKey, rightKey, size,
      wmDelay, "inner").withColumnRenamed("__wl", "window").drop("__wr")

  /** Inner equi-key interval join: right.ts in [left.ts + lower,
    * left.ts + upper), upper exclusive (the reference demo's
    * upperBoundExclusive). `lower`/`upper` are SQL interval strings, e.g.
    * "INTERVAL 1 SECOND".
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, leftKey: String, rightKey: String,
      lower: String, upper: String, wmDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, wmDelay)
    val r = right.withWatermark(rightTs, wmDelay)
    l.join(r, col(leftKey) === col(rightKey) &&
      col(rightTs) >= col(leftTs) - expr(lower) &&
      col(rightTs) < col(leftTs) + expr(upper))
  }

  /** Left-outer equi-key join within the same tumbling window: left rows
    * with no match emit null right columns when the watermark closes the
    * window (Spark requires watermark + the window equality for outer
    * emission — same condition that bounds the state).
    */
  def windowLeftJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, leftKey: String, rightKey: String,
      size: String, wmDelay: String): DataFrame =
    sameWindowJoin(left, right, leftTs, rightTs, leftKey, rightKey, size,
      wmDelay, "left_outer").withColumnRenamed("__wl", "window").drop("__wr")

  /** Full-outer equi-key join within the same tumbling window — the
    * streaming transaction-match shape (reference
    * scala/.../demo/orderpaydetect/TxMatch.scala:43-113): matched pairs
    * inner-join; unmatched rows from EITHER side surface with the other
    * side null once the watermark closes their window — the join-native
    * replacement for the reference's two unmatched side outputs.
    */
  def windowFullJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, leftKey: String, rightKey: String,
      size: String, wmDelay: String): DataFrame =
    sameWindowJoin(left, right, leftTs, rightTs, leftKey, rightKey, size,
        wmDelay, "full_outer")
      .withColumn("window", coalesce(col("__wl"), col("__wr")))
      .drop("__wl", "__wr")

  /** The three window joins' shared body: each side's ts replaced by its
    * window (`__wl`, `__wr`), joined on key and window with `joinType`.
    */
  private def sameWindowJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, leftKey: String, rightKey: String,
      size: String, wmDelay: String, joinType: String): DataFrame = {
    val l = left.withWatermark(leftTs, wmDelay)
      .withColumn("__wl", window(col(leftTs), size)).drop(leftTs)
    val r = right.withWatermark(rightTs, wmDelay)
      .withColumn("__wr", window(col(rightTs), size)).drop(rightTs)
    l.join(r, col(leftKey) === col(rightKey) && col("__wl") === col("__wr"),
      joinType)
  }
}
