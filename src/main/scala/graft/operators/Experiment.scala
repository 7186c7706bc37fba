package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Checkpoints.{readStore, replaceStore}

/** A/B experiment reporting (q176's operator form + its streaming
  * twin).
  *
  * Lambda decomposition (the [[Retention]]/[[Anomaly]] discipline): the
  * streaming half maintains one |users|-bounded store of per-user CRDT
  * aggregates — the MIN first-signup record and the MAX purchase time —
  * and the report is a batch finisher over the store. Min and max are
  * commutative and late-event-proof: a late EARLIER signup re-bases the
  * user's assignment (variant and s_ts both change), which frozen
  * append-mode assignment state could never retract but a min-merge
  * store absorbs by construction; a late purchase can only raise p_max,
  * and `converted = p_max > s_ts` is exactly "some purchase strictly
  * after the first signup" without storing any purchase list.
  *
  * Scale: the store is ≤ |users| rows whatever the event volume; each
  * micro-batch pays one map-side-combined user aggregate plus a
  * store-sized min/max merge; the finisher reduces store rows to
  * |variants| rows.
  */
object Experiment {

  /** Per-user CRDT aggregates from a raw event set: `f` = the user's
    * minimum (ts, event_id, props) signup struct — event_id is unique,
    * so the props tail never decides the min — and `p_ts` = the
    * maximum purchase time. Either side may be null; rows with neither
    * never form (both-null users are filtered, they carry no evidence).
    */
  def userAggregates(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, propsCol: String): DataFrame =
    events
      .filter(col(typeCol).isin("signup", "purchase"))
      .groupBy(col(userCol).as("user_id"))
      .agg(
        min(when(col(typeCol) === "signup",
          struct(col(tsCol).as("ts"), col(idCol).as("event_id"),
            col(propsCol).as("props")))).as("f"),
        max(when(col(typeCol) === "purchase", col(tsCol))).as("p_ts"))

  /** Merge two per-user aggregate tables (the stored state + a new
    * batch's own aggregates): min of the signup structs, max of the
    * purchase times — both null-skipping, so one-sided users merge
    * correctly.
    */
  def mergeUserAggregates(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("user_id"), col("f"), col("p_ts"))
      .unionByName(b.select(col("user_id"), col("f"), col("p_ts")))
      .groupBy(col("user_id"))
      .agg(min(col("f")).as("f"), max(col("p_ts")).as("p_ts"))

  /** The report finisher over a per-user aggregate table (batch-built
    * or the maintained store): variant = parity of the numeric prop on
    * the first signup; converted = some purchase strictly after it;
    * per variant, users / conversions / the exact micro-unit rate
    * (BIGINT floor division — Column `/` is double division).
    */
  def abReport(userAgg: DataFrame): DataFrame = {
    val a = col("n_converted") * 1000000L
    userAgg.filter(col("f").isNotNull)
      .select(
        (regexp_extract(col("f.props"), "([0-9]+)", 1).cast("long") % 2)
          .as("variant"),
        when(col("p_ts").isNotNull && col("p_ts") > col("f.ts"), 1L)
          .otherwise(0L).as("converted"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
      .withColumn("conv_micro",
        floor((a - pmod(a, col("n_users"))).cast("double") /
          col("n_users").cast("double") + 0.5).cast("long"))
      .orderBy(col("variant"))
  }

  /** Two-proportion z-test verdict over the [[abReport]] (the q177
    * integer-inequality discipline extended to two samples): pooled
    * z² > 1.96² is equivalent to
    * `625·(c0·n1 − c1·n0)²·N > 2401·n0·n1·C·(N−C)` with N = n0+n1,
    * C = c0+c1 — 1.96² = 9604/2500 = 2401/625 is exactly rational, so
    * the whole test is one integer inequality with no float SE
    * anywhere. Intermediates reach ~(c·n)²·N·625 (≈10^27 at 10^5-user
    * scale), past BIGINT but far inside DECIMAL(38,0), which Spark
    * evaluates exactly and a 128-bit engine (DuckDB HUGEINT) replays
    * bit for bit. Null verdict when either arm is empty or the pooled
    * rate is 0 or 1 — SE = 0 makes the test undefined, not
    * "significant". One row out: both arms' counts, the micro-unit
    * rate difference, and the flag.
    */
  def significance(report: DataFrame): DataFrame = {
    def arm(v: Int, c: String) =
      max(when(col("variant") === v, col(c)))
    val one = report.agg(
      coalesce(arm(0, "n_users"), lit(0L)).as("n0"),
      coalesce(arm(0, "n_converted"), lit(0L)).as("c0"),
      coalesce(arm(0, "conv_micro"), lit(0L)).as("r0"),
      coalesce(arm(1, "n_users"), lit(0L)).as("n1"),
      coalesce(arm(1, "n_converted"), lit(0L)).as("c1"),
      coalesce(arm(1, "conv_micro"), lit(0L)).as("r1"))
    def d(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val bigN = col("n0") + col("n1")
    val bigC = col("c0") + col("c1")
    val diff = d(col("c0")) * d(col("n1")) - d(col("c1")) * d(col("n0"))
    val num = d(lit(625L)) * diff * diff * d(bigN)
    val den = d(lit(2401L)) * d(col("n0")) * d(col("n1")) *
      d(bigC) * d(bigN - bigC)
    one.select(col("n0"), col("c0"), col("n1"), col("c1"),
      (col("r0") - col("r1")).as("rate_diff_micro"),
      when(col("n0") > 0L && col("n1") > 0L &&
        bigC > 0L && bigC < bigN, num > den).as("significant"))
  }

  /** One micro-batch of assignment/conversion-store maintenance: the
    * batch's own per-user aggregates merged into the parquet store
    * (read-merge-overwrite over ≤ |users| rows, through
    * [[Checkpoints.replaceStore]]).
    */
  def mergeAggregatesIntoStore(batch: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, propsCol: String,
      storePath: String): Unit = {
    val newAgg = userAggregates(batch, userCol, typeCol, tsCol, idCol,
      propsCol)
    replaceStore(readStore(batch.sparkSession, storePath)
      .fold(newAgg)(mergeUserAggregates(_, newAgg)), storePath)()
  }

  /** Streaming maintenance of the per-user experiment store under the
    * exactly-once batch ledger (min/max merges are naturally
    * idempotent, but the ledger keeps replay semantics uniform across
    * every maintained store and shields a future non-idempotent column).
    * Run [[abReport]] over the store on demand. No watermark parameter:
    * min/max merges admit unbounded lateness by construction.
    */
  def maintainUserAggregates(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, propsCol: String,
      storePath: String, ledgerDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.io.Sinks.idempotentForeachBatch(events, ledgerDir) { (b, _) =>
      mergeAggregatesIntoStore(b, userCol, typeCol, tsCol, idCol,
        propsCol, storePath)
    }
}
