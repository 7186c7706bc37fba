package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical table layout for 100 TB fact tables — the two levers that
  * remove whole stages from hot queries:
  *
  *  - **Bucketing**: persist both sides of a recurring equi-join
  *    pre-hash-partitioned on the join key (`bucketBy`). Joins between
  *    tables bucketed the same way need NO Exchange — at 100 TB that
  *    deletes the dominant cost of a fact-fact join. (The reference's
  *    keyBy-before-join does this per-job; bucketing bakes it into the
  *    storage layout once.)
  *  - **Date partitioning**: `partitionBy(day)` so time-range predicates
  *    prune entire directories (PartitionFilters at the scan) instead of
  *    filtering rows.
  *
  * Bucketed tables must go through the catalog (`saveAsTable`) — plain
  * parquet paths carry no bucketing metadata.
  */
object Layout {

  /** Persist `df` bucketed by `keyCol` into the session catalog. */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)

  /** Join two same-bucketed catalog tables on their bucket key —
    * exchange-free when bucket counts match.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      keyLeft: String, keyRight: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(keyLeft) === r(keyRight))
  }

  /** Persist `df` date-partitioned (one directory per `partCol` value). */
  def writeDatePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Compact `df` into parquet files of ~`targetBytes` each — the lake
    * maintenance pass that fixes the small-files problem (a 100 TB table
    * accreted from streaming micro-batches or fine-grained partitions
    * ends up with millions of KB-sized files, and scan planning +
    * footer reads dominate cost; the standard cure is periodic
    * compaction to ~128 MB-1 GB files).
    *
    * Bytes-per-row is measured, not guessed: a bounded sample is
    * written as parquet once and its on-disk size read back — the only
    * estimator that sees the actual encoder + compression. The corpus
    * then makes exactly one round-robin repartition to
    * ceil(totalBytes / targetBytes) writers. Returns the file count.
    */
  def compactToFileSize(df: DataFrame, path: String, targetBytes: Long,
      sampleRows: Int = 10000): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    require(sampleRows > 0, s"sampleRows must be positive: $sampleRows")
    val spark = df.sparkSession
    val n = df.count()
    require(n > 0, "nothing to compact")
    // the probe writes through the TARGET's filesystem (a driver-local
    // temp dir would be unreadable from the driver on a real cluster,
    // where the sample task writes an executor's local disk)
    val probeDir = s"${path.stripSuffix("/")}_compact_probe"
    val probePath = new org.apache.hadoop.fs.Path(probeDir)
    val fs = probePath.getFileSystem(spark.sessionState.newHadoopConf())
    val sampleN = math.min(n, sampleRows.toLong)
    try {
      df.limit(sampleN.toInt).coalesce(1)
        .write.mode("overwrite").parquet(probeDir)
      val sampleBytes = fs.listStatus(probePath)
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      require(sampleBytes > 0, "sample probe wrote no parquet bytes")
      // ceil-divide twice: bytes/row rounds UP so tiny rows can't
      // estimate to zero, and files rounds UP so the last file is never
      // oversized
      val bytesPerRow = math.max(1L, (sampleBytes + sampleN - 1) / sampleN)
      val files = math.max(1L,
        (n * bytesPerRow + targetBytes - 1) / targetBytes).toInt
      // Write to a sibling staging dir, then swap into place: `df` is
      // still lazy here, so a direct overwrite of `path` while `df`
      // reads FROM `path` (the normal compact-in-place maintenance
      // call) either throws Spark's overwrite-while-reading check or —
      // worse, on plans that slip past it — deletes source files mid
      // read. The staging write fully materializes before anything at
      // `path` is touched; the swap is two metadata ops on the same
      // filesystem.
      val stageDir = s"${path.stripSuffix("/")}_compact_stage"
      val stagePath = new org.apache.hadoop.fs.Path(stageDir)
      try {
        df.repartition(files).write.mode("overwrite").parquet(stageDir)
        val target = new org.apache.hadoop.fs.Path(path)
        fs.delete(target, true)
        require(fs.rename(stagePath, target),
          s"rename $stageDir -> $path failed")
      } finally {
        fs.delete(stagePath, true)
        ()
      }
      files
    } finally {
      fs.delete(probePath, true)
      ()
    }
  }

  /** Morton (Z-order) value over pre-bucketed dimension columns: each
    * input must already be an integer in [0, 2^bits); the result
    * interleaves their bits (col 0 owns the least-significant position).
    * Pure integer column arithmetic — identical on any engine, so it is
    * oracle-checkable — and codegen-friendly (shifts + masks, no UDF).
    *
    * Why it matters at 100 TB: sorting a fact table by z(value) makes
    * row groups cluster in ALL interleaved dimensions at once, so
    * parquet min/max stats prune multi-dimensional predicates — a
    * single-column sort only prunes its own column. `bits` x #cols must
    * stay <= 63 (long).
    */
  def zorderValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zorderValue needs at least one column")
    require(bits >= 1, s"bits must be >= 1, got $bits")
    require(bits * cols.size <= 63, s"bits=$bits x ${cols.size} cols > 63")
    val n = cols.size
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(
      shiftrightunsigned(c.cast("long"), i).bitwiseAND(lit(1L)),
      i * n + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Rewrite `df` z-ordered on the given pre-bucketed dimension columns
    * (repartitionByRange on the z-value, then in-partition sort): row
    * groups become multi-dimensionally clustered so min/max stats prune
    * every interleaved dimension.
    */
  def writeZOrdered(df: DataFrame, path: String, dims: Seq[String],
      bits: Int, partitions: Int): Unit = {
    val z = zorderValue(dims.map(col), bits)
    df.withColumn("__z", z)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Snapshot diff between two corpus versions — the ingestion audit
    * every recurring crawl/refresh pipeline runs before accepting a new
    * drop: per row id, classify `added` (only in `next`), `removed`
    * (only in `prev`), `changed` (both, content digest differs), `same`.
    * Content compare is by md5 digest, never by carrying both full
    * texts through the join — at 100 TB the join payload is
    * (id, 32-byte digest, length) regardless of document size.
    *
    * Output: one row per (status) with doc and char totals (chars of
    * the NEXT version for added/changed/same, of the PREV for removed —
    * "what the new snapshot costs / what the old one loses").
    * Scale shape: one digest map pass per side + a single full-outer
    * hash join on the id (uniform key) + a 4-group aggregate.
    */
  def corpusDiff(prev: DataFrame, next: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // Join on the RAW id column — casting it (e.g. to long) would turn
    // string ids (URLs, UUIDs) into nulls, and null keys never match in a
    // full-outer join, so every such row would double-report as one
    // 'added' + one 'removed': a silently wrong audit. Presence on a side
    // is an EXPLICIT lit(true) flag, not that side's id copy — a present
    // row whose id is itself NULL also never matches in the join, and an
    // id-based presence test would then classify the prev-side half
    // 'added' instead of 'removed'. Digest nullity can't stand in either:
    // a present row with a NULL text digests to the "" sentinel (md5 can
    // never return ""), so null-text rows still diff correctly against
    // each other and against real texts.
    def digested(df: DataFrame, id: String, pres: String, d: String, n: String) =
      df.select(col(idCol).as(id), lit(true).as(pres),
        coalesce(md5(col(textCol).cast("string")), lit("")).as(d),
        coalesce(length(col(textCol).cast("string")).cast("long"), lit(0L)).as(n))
    val p = digested(prev, "__ip", "__pp", "__dp", "__np")
    val q = digested(next, "__in", "__pn", "__dn", "__nn")
    p.join(q, p("__ip") === q("__in"), "full_outer")
      .select(
        when(col("__pp").isNull, "added")
          .when(col("__pn").isNull, "removed")
          .when(col("__dp") =!= col("__dn"), "changed")
          .otherwise("same").as("status"),
        coalesce(col("__nn"), col("__np")).as("n_chars"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
  }
}
