package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Checkpoints.{readStore, replaceStore}

/** Daily-count anomaly detection (q177's operator form + its streaming
  * twin).
  *
  * Lambda decomposition (the [[Retention]] discipline): the streaming
  * half maintains only the (event_type, day_num) → count store, and the
  * z-test is a batch finisher re-derived over the store on demand. The
  * store merge is pure ADDITION — counts are commutative and
  * order-independent, so unlike the retention dedup store there is no
  * watermark and no lateness window at all: an arbitrarily late event
  * simply adds to its day's cell and the next finisher run sees it.
  * (Freezing flags into append-mode streaming output would be wrong the
  * same way frozen cohort days are: a late event can flip yesterday's
  * verdict, which append mode cannot retract.)
  *
  * Scale: the store is ≤ |types|·|days| rows whatever the event volume;
  * each micro-batch pays one map-side-combined count aggregate plus a
  * cells-sized merge; the finisher's window runs over store rows only.
  */
object Anomaly {

  /** The (event_type, day_num, n) daily rollup — day = days since epoch
    * of the event's date (the q166/q172 convention the DuckDB oracle
    * shares).
    */
  def dailyCounts(events: DataFrame, typeCol: String, tsCol: String)
      : DataFrame =
    events.select(col(typeCol).as("event_type"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day_num"))
      .groupBy(col("event_type"), col("day_num"))
      .agg(count(lit(1)).as("n"))

  /** The z-test finisher over a daily-count table (batch-built or the
    * maintained store): today's count vs the TRAILING 7 calendar days
    * (RANGE -7..-1 — gap-correct, never self-including), flagged when
    * |n − mean| > 2σ via the single integer inequality
    * (7n − Σx)² > 4(7Σx² − (Σx)²) — no float σ anywhere, so the flag is
    * engine-exact. Fewer than 7 trailing days → null verdict.
    */
  def anomalyFlags(daily: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day_num"))
      .rangeBetween(-7, -1)
    daily
      .withColumn("d7", count(lit(1)).over(w))
      .withColumn("s7", sum(col("n")).over(w))
      .withColumn("q7", sum(col("n") * col("n")).over(w))
      .withColumn("is_anomaly", when(col("d7") === 7L,
        (lit(7L) * col("n") - col("s7")) * (lit(7L) * col("n") - col("s7")) >
          lit(4L) * (lit(7L) * col("q7") - col("s7") * col("s7"))))
      .select(col("event_type"), col("day_num"), col("n"), col("d7"),
        col("s7"), col("q7"), col("is_anomaly"))
  }

  /** One micro-batch of count-store maintenance: the batch's own daily
    * rollup merged ADDITIVELY into the parquet store (read-merge-
    * overwrite over ≤ |types|·|days| rows — the
    * [[Sketches.mergeBatchIntoStore]] shape with sum in place of HLL
    * union), rewritten through [[Checkpoints.replaceStore]].
    */
  def mergeCountsIntoStore(batch: DataFrame, typeCol: String,
      tsCol: String, storePath: String): Unit = {
    val newCounts = dailyCounts(batch, typeCol, tsCol)
    replaceStore(readStore(batch.sparkSession, storePath).fold(newCounts)(
      _.unionByName(newCounts)
        .groupBy(col("event_type"), col("day_num"))
        .agg(sum(col("n")).as("n"))), storePath)()
  }

  /** Streaming maintenance of the daily-count store under the
    * exactly-once batch ledger (counts are NOT idempotent — a replayed
    * batch would double-add without it). Run [[anomalyFlags]] over the
    * store on demand; no watermark parameter because the additive merge
    * admits unbounded lateness by construction.
    */
  def maintainDailyCounts(events: DataFrame, typeCol: String,
      tsCol: String, storePath: String, ledgerDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.io.Sinks.idempotentForeachBatch(events, ledgerDir) { (b, _) =>
      mergeCountsIntoStore(b, typeCol, tsCol, storePath)
    }
}
