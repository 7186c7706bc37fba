package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Changelog semantics — the reference's Table↔stream dualities that
  * Spark's output modes don't expose directly (SURVEY §7 hard parts a/b):
  *
  *  - true retract pairs (reference toRetractStream,
  *    cn/ngt/day10/_02_StreamToTable_Agg.java:48,55-64: a re-aggregated
  *    key emits `(false, old)` then `(true, new)`),
  *  - first/update emission tagging for re-fired windows under
  *    allowedLateness (reference _08_lateReadingsOutput.scala:118-135).
  *
  * Both are built on foreachBatch diffing against the previous snapshot of
  * the aggregate — the snapshot is keyed state the engine already shuffles
  * by the group key, so the diff join is co-partitioned. The snapshot is
  * a versioned parquet table (see [[snapshotStep]]), so it survives a
  * restart from checkpoint and stays off the driver heap.
  */
object Changelog {

  /** Attach a retract-pair consumer to an update-mode aggregate stream.
    * `keyCol`/`valueCol` name the group key and aggregate value. The
    * previous-aggregate snapshot persists under `stateDir`
    * ([[snapshotStep]]), so it survives query restarts from checkpoint;
    * a replayed micro-batch diffs against the same prior snapshot and
    * re-emits identical changes (idempotent). The diff is a distributed
    * join on the group key — nothing is collected to the driver, state
    * scales with the cluster, not the driver heap.
    *
    * `sink` receives a changes DataFrame (add BOOLEAN, key STRING,
    * value BIGINT, batchId BIGINT) per micro-batch: add=true is an
    * insert/new value, add=false a retraction of the previous value (the
    * reference's Tuple2[Boolean, Row]).
    */
  def retractStreamPersisted(updates: DataFrame, keyCol: String, valueCol: String,
      stateDir: String, sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    updates.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, id: Long) =>
        val cur = batch
          .select(col(keyCol).cast("string").as("k"), col(valueCol).cast("long").as("v"))
          .dropDuplicates("k").persist()
        try snapshotStep(batch.sparkSession, stateDir, id) { snapshot =>
          val prev = snapshot.getOrElse(cur.filter(lit(false)))
            .select(col("k"), col("v").as("old"))
          val diff = cur.join(prev, Seq("k"), "left_outer")
            .filter(col("old").isNull || col("old") =!= col("v")).persist()
          val changes = diff.filter(col("old").isNotNull)
            .select(lit(false).as("add"), col("k").as("key"),
              col("old").as("value"), lit(id).as("batchId"))
            .unionByName(diff.select(lit(true).as("add"), col("k").as("key"),
              col("v").as("value"), lit(id).as("batchId")))
          try sink(changes, id) finally diff.unpersist()
          // upsert: previous snapshot minus updated keys, plus this batch
          prev.join(cur, Seq("k"), "left_anti")
            .select(col("k"), col("old").as("v")).unionByName(cur)
        } finally cur.unpersist()
        ()
    }
  }

  /** Tag each emitted window row "first" or "update" (late re-fires) —
    * the reference's allowedLateness tagging. Works on any update-mode
    * aggregate whose key is `keyCols`. The seen-keys set persists under
    * `stateDir` ([[snapshotStep]] with value-less state), so a query
    * restarted from checkpoint keeps tagging previously-seen keys
    * "update" instead of amnesiac "first", and a replayed micro-batch
    * re-tags against the same prior snapshot (idempotent). The
    * first/update classification is a distributed left-outer join on the
    * key — nothing is collected to the driver.
    *
    * `sink` receives a DataFrame (key STRING, value BIGINT, tag STRING,
    * batchId BIGINT) per micro-batch.
    */
  def tagEmissionsPersisted(updates: DataFrame, keyCols: Seq[String],
      valueCol: String, stateDir: String, sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    updates.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, id: Long) =>
        val cur = batch.select(
          concat_ws("|", keyCols.map(c => col(c).cast("string")): _*).as("k"),
          col(valueCol).cast("long").as("v"))
          .dropDuplicates("k").persist()
        try snapshotStep(batch.sparkSession, stateDir, id) { snapshot =>
          val prev = snapshot.getOrElse(cur.filter(lit(false))).select(col("k"))
          val tagged = cur.join(prev.withColumn("__seen", lit(true)),
              Seq("k"), "left_outer")
            .select(col("k").as("key"), col("v").as("value"),
              when(col("__seen").isNotNull, "update").otherwise("first").as("tag"),
              lit(id).as("batchId"))
          sink(tagged, id)
          prev.unionByName(cur.select("k")).distinct()
        } finally cur.unpersist()
        ()
    }
  }

  /** One micro-batch of a versioned snapshot under `stateDir`: reads the
    * newest version `v<n>` with n < `id` (None before the first), passes
    * it to `step`, writes the snapshot `step` returns as `v<id>`, then
    * deletes every version older than the one read. The one read stays
    * for a replay of batch `id` after a restart.
    */
  private def snapshotStep(spark: SparkSession, stateDir: String, id: Long)(
      step: Option[DataFrame] => DataFrame): Unit = {
    val base = new org.apache.hadoop.fs.Path(stateDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions =
      if (fs.exists(base))
        fs.listStatus(base).map(_.getPath.getName)
          .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
          .filter(_ < id).sorted
      else Array.empty[Long]
    step(versions.lastOption.map(v => spark.read.parquet(s"$stateDir/v$v")))
      .write.mode("overwrite").parquet(s"$stateDir/v$id")
    versions.dropRight(1).foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/v$v"), true))
  }

  /** Bounded iteration (reference iterate/closeWith,
    * java/.../transformation/IterateDemo.java:22-50): streaming feedback
    * loops don't exist in Structured Streaming, so iteration is a driver
    * loop over batch Datasets — `step` advances, `continueCond` selects
    * rows that feed back; rows leaving the loop accumulate in the result.
    */
  def iterateBatch[T](ds: Dataset[T], step: Dataset[T] => Dataset[T],
      continueCond: Dataset[T] => (Dataset[T], Dataset[T]),
      maxIter: Int): Dataset[T] = {
    var current = ds
    var out: Option[Dataset[T]] = None
    var i = 0
    while (i < maxIter && !current.isEmpty) {
      val stepped = step(current)
      val (feedback, emitted) = continueCond(stepped)
      out = Some(out.map(_.union(emitted)).getOrElse(emitted))
      // truncate the growing lineage; never freed, `out` reads every pin
      current = graft.operators.Checkpoints.pin(feedback)
      i += 1
    }
    out.getOrElse(ds.sparkSession.emptyDataset(ds.encoder))
  }
}
