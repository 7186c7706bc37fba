package graft.queries

import graft.operators.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A bundle of named queries plus their DuckDB oracle SQL.
  *
  * Contract (driver gate): for every key in [[queries]] that also appears in
  * [[oracles]], the DataFrame result must hash-match the DuckDB result —
  * same column names, same values. Keys absent from [[oracles]] get a
  * weaker rows-only check.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

/** One bigram-LM scoring pass per (session, sf dir), shared by the LM
  * family gates (q134 / q137 / q141) — the q116/q120/q127 shared-BM25
  * discipline: the three gates compose the SAME deterministic add-1
  * bigram chain (counts, history totals, exact-distinct vocab, LM join,
  * per-doc exact-integer sums), and three identical rebuilds dominated
  * the family's bench cost (q141 additionally consumed the chain twice —
  * threshold construction + scored plan). The scored frame is
  * pinned ([[Checkpoints.pin]]) so every consumer reads materialized
  * partitions.
  * Keyed by session ([[SharedFrames]]), so a stopped session's dead
  * checkpoint blocks are never reused.
  */
object SharedLm {
  /** (doc_id, n_bigrams, lp_micro, avg_lp) — `Quality.bigramLogprob`
    * over the documents table, materialized once per session+dir.
    */
  def scored(s: SparkSession, dir: String): DataFrame =
    SharedFrames.get(s, "lm", dir)(
      graft.operators.Quality.bigramLogprob(
        graft.Tables.documents(s, dir), "doc_id", "text"))
}

/** One DSIR importance table per (session, sf dir), shared by the q136
  * scoring gate and the q139 selection gate — the SharedLm discipline:
  * both gates compose the SAME labeled-table construction (the fused
  * feature-distribution aggregate over the whole corpus), and each
  * rebuilding it from scratch doubled the family's construction cost.
  * The table is ≤ `buckets` rows, so the checkpoint is bounded
  * planning metadata.
  */
object SharedDsir {
  val buckets = 64
  def table(s: SparkSession, dir: String): DataFrame =
    SharedFrames.get(s, "dsir", dir)(
      graft.operators.Selection.dsirTableLabeled(
        graft.Tables.documents(s, dir)
          .withColumn("is_tgt", col("lang") === "en"),
        "text", "is_tgt", buckets))
}

/** Bounded per-session materialization cache behind the Shared* frame
  * families (LM scoring, span dedup): an access-ordered LRU capped at
  * [[maxEntries]], so a long-lived session sweeping many dirs does not
  * pin one frame per dir forever. Eviction drops the reference ONLY and
  * must NOT call release()/[[Checkpoints.free]]: another thread may still
  * be mid-query over the evicted pin, whose lineage is truncated, so
  * removing its blocks fails that query unrecoverably. The ContextCleaner
  * frees the blocks once every in-flight consumer is done; a later
  * request simply recomputes.
  */
object SharedFrames {
  // sized for the round-19 table-plan memo (graft.Tables: 10 lazy plans
  // per dir) next to the materialized Shared* families: a one-dir
  // session holds ~13 entries, a multi-dir sweep cycles without
  // thrashing the checkpointed families. Table entries are lazy plans —
  // no pinned blocks, eviction is reference-drop either way.
  private val maxEntries = 64
  private final case class Entry(value: Any)
  // SparkSession has reference equality, so sibling sessions from
  // newSession() (one SparkContext, different confs) get their own keys
  private final case class Key(session: SparkSession, tag: String,
      dir: String)
  private val cache = new java.util.LinkedHashMap[Key, Entry](
    32, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Key, Entry]): Boolean = size() > maxEntries
  }

  /** The cached value for (this session, tag, dir), built from `mk` on
    * first request. Keyed by the session object: a frame is bound to
    * the session that built it (its conf and its SparkContext, which
    * never changes), so no other session — and no session built after
    * a stop — is handed its frames or their dead blocks. The build runs
    * OUTSIDE the lock (it launches Spark jobs and must not serialize
    * unrelated families); a lost build race is settled by releasing the
    * LOSER (safe — it was never handed to any caller) and returning the
    * winner. Eviction, by contrast, never releases — see the class doc.
    */
  def cached[V](s: SparkSession, tag: String, dir: String)(
      mk: => V)(release: V => Unit): V = {
    val key = Key(s, tag, dir)
    val hit = cache.synchronized(Option(cache.get(key)))
    hit.map(_.value.asInstanceOf[V]).getOrElse {
      val built = mk
      cache.synchronized {
        Option(cache.get(key)) match {
          case Some(winner) =>
            scala.util.Try(release(built)); winner.value.asInstanceOf[V]
          case None =>
            cache.put(key, Entry(built)); built
        }
      }
    }
  }

  /** Pinned-DataFrame convenience form of [[cached]]. */
  def get(s: SparkSession, tag: String, dir: String)(
      mk: => DataFrame): DataFrame =
    cached(s, tag, dir)(Checkpoints.pin(mk))(Checkpoints.free)
}

/** One corpus-wide exact-substring span dedup per (session, sf dir) —
  * the same discipline for the ExactSubstr family: q142 gates the
  * rebuilt corpus directly and q146 consumes it as the chain head, and
  * the dedup (anchor shuffle + anti join + rebuild) dominated both
  * queries' bench cost when each rebuilt it from scratch.
  */
object SharedSpanDedup {
  /** (doc_id, text, n_tokens, n_removed) — `Dedup.dedupSpansKeepFirst`
    * (n = 8) over the documents table, materialized once per
    * session+dir.
    */
  def deduped(s: SparkSession, dir: String): DataFrame =
    SharedFrames.get(s, "spandedup", dir)(
      graft.operators.Dedup.dedupSpansKeepFirst(
        graft.Tables.documents(s, dir), "doc_id", "text", n = 8))
}

/** Cross-engine determinism helpers.
  *
  * Double sums are order-dependent, so any aggregate over a money-like
  * double goes through an exact decimal: cast each row value (or each fully
  * parenthesized row-level product, which is deterministic IEEE arithmetic
  * in both engines) to DECIMAL(18,2), sum exactly, then cast the total back
  * to double. Averages divide that exact double by the row count.
  */
object Q {
  /** Row-level money value → exact decimal. Scale rule: a raw 2dp column
    * uses scale 2; a product of two 2dp values has an exact 4-decimal
    * value, so it must round at scale 4 (scale 6 for three factors) —
    * rounding a 4dp-exact product at 2dp lands on exact half-cent ties,
    * which Spark (HALF_UP) and DuckDB (binary) resolve differently.
    */
  def dec2(c: Column): Column = c.cast("decimal(18,2)")
  def dec4(c: Column): Column = c.cast("decimal(18,4)")
  def dec6(c: Column): Column = c.cast("decimal(18,6)")

  /** Order-insensitive exact sum of a money-like double expression. */
  def dsum(c: Column): Column = sum(dec2(c)).cast("double")
  def dsum4(c: Column): Column = sum(dec4(c)).cast("double")
  def dsum6(c: Column): Column = sum(dec6(c)).cast("double")

  /** Order-insensitive exact average. */
  def davg(c: Column): Column = sum(dec2(c)).cast("double") / count(lit(1))

  /** Oracle-side equivalents (DuckDB SQL fragments). */
  def oSum(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE)"
  def oSum4(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE)"
  def oSum6(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(18,6))) AS DOUBLE)"
  def oAvg(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)"

  /** Timestamp column → epoch seconds (floor), identical in both engines. */
  def epochS(c: Column): Column = c.cast("long")

  /** DuckDB: `ev` = events with ts normalized to µs TIMESTAMP so both
    * engines see the same event times, whatever the parquet stores
    * (ns: DuckDB truncates here exactly as Tables floors Spark-side;
    * timestamp[us]: a no-op — see Tables.normalizeTs for the Spark
    * mirror). Oracle SQL over events must read FROM ev.
    */
  val eventsUs: String =
    "ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"
}
