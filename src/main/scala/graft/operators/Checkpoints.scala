package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The one pin-and-release discipline for `localCheckpoint`'d frames.
  *
  *  1. Pin eagerly before overwriting a path the plan reads: Spark
  *     cannot lazily read a path it is replacing ([[replaceStore]]).
  *  2. Release only through [[free]]: the checkpoint lives in a
  *     LogicalRDD leaf, and `Dataset.unpersist` does not reach it (the
  *     blocks stay pinned until the frame is GC'd and the ContextCleaner
  *     runs).
  *  3. Free in `finally` where the pin is local to one call, so a failed
  *     action does not leave its blocks behind.
  *
  * Callers:
  *  - the parquet-store rewrites ([[Sketches]], [[Freq]], [[Scd]],
  *    [[Anomaly]], [[Experiment]]) go through [[readStore]] and
  *    [[replaceStore]];
  *  - the iterative loops ([[Clusters]], [[Graphs]], [[Bpe]]) [[free]]
  *    each pin once the round that superseded it is materialized;
  *  - the session caches (`graft.queries.SharedFrames`) [[free]] the
  *    loser of a build race.
  * Pins the returned plan still reads ([[Dedup.pairJaccard]]'s candidate
  * set, the last round of a loop) are the caller's to [[free]] after
  * consuming the result, or the ContextCleaner's.
  */
object Checkpoints {

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
    * just `df` itself — is finished. Only non-fatal errors are
    * swallowed: an interrupt or an out-of-memory error propagates.
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
    val pinned = next.localCheckpoint(true)
    try write(pinned) finally free(pinned)
  }
}
