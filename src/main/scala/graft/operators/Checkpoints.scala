package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.util.control.NonFatal

/** The one materialization call in graft, and its release discipline.
  *
  *  1. Materialize only through [[pin]] (or [[advance]] in a loop).
  *  2. Pin eagerly before overwriting a path the plan reads: Spark
  *     cannot lazily read a path it is replacing ([[replaceStore]]).
  *  3. Release only through [[free]]: the checkpoint lives in a
  *     LogicalRDD leaf, and `Dataset.unpersist` does not reach it (the
  *     blocks stay pinned until the frame is GC'd and the ContextCleaner
  *     runs).
  *  4. Free in `finally` where the pin is local to one call, so a failed
  *     action does not leave its blocks behind.
  *
  * Callers:
  *  - the iterative loops step with [[advance]] ([[Clusters]]' round 0
  *    and jump-only rounds, [[Bpe]], [[Graphs]]' pageRank); HITS, CC's
  *    concurrent live round and `graft.streaming.Changelog` [[pin]] and
  *    keep their own release rule;
  *  - the multi-consumer intermediates [[pin]] once: [[Dedup]],
  *    [[Quality]], [[Selection]], [[Similarity]], [[Freq]],
  *    [[Cooccurrence]], [[Retrieval]], `graft.multimodal.Multimodal`
  *    and queries q92 and q146;
  *  - the session caches (`graft.queries.SharedFrames.get`) [[pin]] each
  *    build and [[free]] the loser of a build race;
  *  - the parquet-store rewrites ([[Sketches]], [[Freq]], [[Scd]],
  *    [[Anomaly]], [[Experiment]]) go through [[readStore]] and
  *    [[replaceStore]].
  * Pins the returned plan still reads ([[Dedup.pairJaccard]]'s candidate
  * set, the last round of a loop) are the caller's to [[free]] after
  * consuming the result, or the ContextCleaner's.
  */
object Checkpoints {

  /** `ds` materialized now, as an eager local checkpoint: one Spark job
    * runs here, and every consumer reads the computed blocks (a
    * LogicalRDD leaf) instead of re-running `ds`'s plan; a loop's lineage
    * stops growing.
    *
    * Not `persist`: it registers the plan in the session CacheManager,
    * which leaks blocks in a long-lived session and canonically matches
    * the same query built later, so benchmark reruns silently read
    * warm-cache results. Not a lazy checkpoint: concurrent consumers (a
    * broadcast-exchange thread and the main join thread) race to
    * materialize it, two full executions fighting for cores (measured
    * 189 s vs 68 s for `Dedup.pairJaccard` at the 20x scale smoke). The
    * blocks are invisible to plan matching; [[free]] releases them, or
    * the ContextCleaner once the frame is GC'd.
    */
  def pin[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(eager = true)

  /** One step of an iterative loop: pins `next`, then frees `old`, then
    * returns the pin. If building or pinning `next` throws, `old` is not
    * freed and the exception propagates, so the caller's `finally` still
    * owns `old`. `old` may be null (the first pin frees nothing). `next`
    * may read `old`: the pin has materialized before `old` is freed.
    */
  def advance(old: DataFrame)(next: => DataFrame): DataFrame = {
    val pinned = pin(next)
    if (old != null) free(old)
    pinned
  }

  /** Unpersist the checkpointed RDD(s) backing `df` (best-effort).
    * Safe on frames with no checkpoint — a no-op. After the call the
    * frame must not be re-used (its backing blocks are gone).
    *
    * SHARED-LEAF HAZARD: the unpersist hits the LogicalRDD leaf, and
    * DERIVED frames share it — `free(a)` also guts `a.filter(...)`,
    * `a.join(b)`, or any other frame built FROM `a` before the call
    * (localCheckpoint truncates lineage, so the dead blocks cannot be
    * recomputed: downstream actions throw, they don't silently recompute).
    * Only call it when every consumer of the checkpointed frame — not
    * just `df` itself — is finished. `Changelog.iterateBatch` is the
    * case that frees nothing: its lazily built output union still reads
    * every earlier round's pin. Only non-fatal errors are swallowed: an
    * interrupt or an out-of-memory error propagates.
    */
  def free(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case NonFatal(_) => () }

  /** The parquet store at `path`, or `None` before its first write. */
  def readStore(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(path))
    else None
  }

  /** Overwrite the store at `path` with `next`, which may read `path`
    * itself (the read-merge-overwrite step): `next` is pinned eagerly,
    * `write` runs over the pinned frame, and the pin is freed whether
    * or not the write succeeds.
    */
  def replaceStore(next: DataFrame, path: String)(
      write: DataFrame => Unit = _.write.mode("overwrite").parquet(path))
      : Unit = {
    val pinned = pin(next)
    try write(pinned) finally free(pinned)
  }
}
