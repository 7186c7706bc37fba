package graft.operators

import graft.io.FooterSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Checkpoints.{readStore, replaceStore}

/** Slowly-changing-dimension (type 2) versioning — the
  * dimension-maintenance half of a corpus pipeline: document metadata,
  * user attributes, and license/source labels all change over time, and
  * joins against them must be AS-OF correct ([[Relational.asOfJoin]]
  * probes exactly the version table built here).
  *
  * A change record is (keys, attrs, ts, tie); a VERSION row is the same
  * plus `[valid_from, valid_to)` — half-open, `valid_to` NULL on the
  * current version. `(keys, ts, tie)` must uniquely identify a change
  * (an event id as the tie column does it); exact duplicate redeliveries
  * are dropped on that identity.
  *
  * Scale shape: [[fromHistory]] is ONE key-partitioned window (the
  * windows are per key — no global sort); [[applyBatch]] re-versions
  * ONLY the keys present in the batch (a broadcast-semi split of the
  * store) and unions the untouched majority back unread — incremental
  * COMPUTE is proportional to the CHANGED keys' version counts, never
  * to the stored dimension (the plain-parquet maintenance path still
  * rewrites the store's files each batch — see
  * [[mergeBatchIntoScdStore]]'s I/O caveat), and out-of-order (late)
  * changes are handled
  * exactly because affected keys re-derive from their full change set
  * rather than trusting append order. The maintenance I/O tiers split
  * the same way: [[mergeBatchIntoScdStore]] (flat store, whole-file
  * rewrite — bounded dimensions) vs [[mergeBatchIntoBucketedScdStore]]
  * (hash-bucket-partitioned + dynamic partition overwrite — unbounded
  * dimensions at trickle change rates).
  */
object Scd {

  /** Version table from a full change history: per key ordered by
    * (tsCol, tieCol), `valid_from` = the change's ts and `valid_to` =
    * the NEXT change's ts (NULL on the last = current version).
    *
    * NULL-keyed changes are DROPPED: a null key names no entity, and
    * keeping them would silently corrupt [[applyBatch]] — its
    * anti/semi split uses SQL equality, which never matches nulls, so
    * stored null-key versions would be passed through AND re-derived,
    * leaving overlapping "current" rows.
    */
  def fromHistory(changes: DataFrame, keyCols: Seq[String], tsCol: String,
      tieCol: String): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column required")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    changes
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .dropDuplicates(keyCols :+ tsCol :+ tieCol)
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
  }

  /** Incrementally apply a change batch to a stored version table:
    * keys untouched by the batch pass through UNREAD (broadcast
    * anti-semi split on the batch's key set — bounded, batch-sized);
    * affected keys re-derive from (their stored changes ∪ the batch),
    * which makes late and out-of-order changes exact, not approximated.
    * Law (spec-pinned): folding applyBatch over any batch split of a
    * history == [[fromHistory]] of the whole.
    */
  def applyBatch(store: DataFrame, batch: DataFrame, keyCols: Seq[String],
      tsCol: String, tieCol: String): DataFrame = {
    val keys = batch.select(keyCols.map(col): _*).distinct()
    val untouched = store.join(broadcast(keys), keyCols, "left_anti")
    val affectedChanges = store.join(broadcast(keys), keyCols, "left_semi")
      .drop("valid_from", "valid_to")
    fromHistory(affectedChanges.unionByName(batch), keyCols, tsCol, tieCol)
      .unionByName(untouched)
  }

  /** One micro-batch of version-store maintenance ([[applyBatch]] +
    * read-merge-overwrite through [[Checkpoints.replaceStore]]). Exposed
    * separately from [[maintainScd2]] so restart/replay semantics are
    * directly testable — a replayed batch is ALREADY a no-op by the
    * dedup identity (its changes are in the store, dropDuplicates
    * absorbs them), but the ledger still skips the wasted rewrite.
    *
    * I/O caveat: the COMPUTE is proportional to the changed keys, but
    * this plain-parquet maintenance path rewrites the WHOLE store file
    * set each batch — fine for a bounded dimension, wrong for an
    * unbounded one with a trickle of changes. That regime is
    * [[mergeBatchIntoBucketedScdStore]]: key-hash-bucket-partitioned
    * store + dynamic partition overwrite, read AND rewrite proportional
    * to affected buckets.
    */
  def mergeBatchIntoScdStore(batch: DataFrame, keyCols: Seq[String],
      tsCol: String, tieCol: String, storePath: String): Unit =
    replaceStore(readStore(batch.sparkSession, storePath)
      .fold(fromHistory(batch, keyCols, tsCol, tieCol))(
        applyBatch(_, batch, keyCols, tsCol, tieCol)), storePath)()

  /** Streaming SCD2 maintenance: every micro-batch of change records is
    * applied to the parquet version store under the exactly-once batch
    * ledger. The live store serves [[Relational.asOfJoin]] probes and
    * `valid_to IS NULL` current-dimension reads at any time.
    */
  def maintainScd2(stream: DataFrame, keyCols: Seq[String], tsCol: String,
      tieCol: String, storePath: String, ledgerDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    graft.io.Sinks.idempotentForeachBatch(stream, ledgerDir) { (b, _) =>
      mergeBatchIntoScdStore(b, keyCols, tsCol, tieCol, storePath)
    }

  /** The version store's partition column. Internal — [[readScdStore]]
    * strips it; version semantics never depend on it.
    */
  val BucketCol = "__scd_bucket"

  /** Records-per-file cap on both bucketed-store writes: the
    * bucket-keyed repartition makes each bucket a single writer task,
    * and without a cap a rebuild-shaped batch would emit one multi-GB
    * file per bucket. 10⁷ matches the sizing rule's target bucket
    * (~10⁷ versions ≈ a few GB of parquet), so a trickle bucket stays
    * at one file and only oversized buckets split.
    */
  val MaxRecordsPerStoreFile = 10000000L

  /** Distinct-key threshold above which the self-heal's ambiguity
    * check REFUSES instead of warn-and-pin: at K keys a genuine
    * nBuckets store coincides with the 2x layout with probability
    * 2^-K, so below this threshold a refusal would mostly false-brick
    * genuine crash-recovery replays (K=1: ~2 in 3), while at ≥ 16 keys
    * the false-refusal probability is ≤ 2^-16 + 3^-16 ≈ 1.6e-5 and
    * larger-layout consistency is overwhelming evidence.
    */
  val AmbiguityMinKeys = 16L

  /** Key → hash-bucket assignment for the bucketed store. Keys are
    * cast to STRING before hashing so the assignment is DTYPE-stable:
    * a later batch that carries the same key as int where the store
    * was built with long still lands in the same bucket (xxhash64 on
    * raw columns would not — the [[Relational.bloomPrefilteredJoin]]
    * lesson applied at design time).
    */
  def bucketOf(keyCols: Seq[String], nBuckets: Int): org.apache.spark.sql.Column =
    bucketOfMod(keyCols, nBuckets.toLong)

  /** Long-modulus form — used by the self-heal ambiguity probe, whose
    * 2·nBuckets check must not overflow Int.
    */
  private def bucketOfMod(keyCols: Seq[String],
      m: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(keyCols.map(k => col(k).cast("string")): _*), lit(m))

  /** Read a version store written by either maintenance path, with the
    * internal bucket column (if any) stripped.
    */
  def readScdStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String): DataFrame = {
    val df = FooterSchema.read(spark, storePath)
    if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
  }

  /** [[mergeBatchIntoScdStore]] with the store hash-bucket-partitioned
    * on the keys — the 100 TB maintenance path. The plain path's
    * honest caveat was I/O: compute is changed-keys-proportional but a
    * flat parquet store is rewritten WHOLE every batch. Here the store
    * is partitioned by [[bucketOf]] and each batch
    *
    *   1. computes the batch's AFFECTED bucket set (≤ min(|batch keys|,
    *      nBuckets) values — bounded driver metadata),
    *   2. reads ONLY those buckets (partition-pruned scan),
    *   3. re-derives them through [[applyBatch]], and
    *   4. overwrites ONLY them (dynamic partition overwrite — a
    *      per-write option, no session-conf mutation).
    *
    * Untouched buckets are never read and never rewritten, so both I/O
    * directions scale with the CHANGED key set: a trickle batch against
    * a billion-key dimension touches ~|batch| buckets of ~|dim|/nBuckets
    * keys each. Every affected bucket is guaranteed non-empty in the
    * merged output (applyBatch never drops a key — untouched keys pass
    * through, affected keys re-derive to ≥1 version), so dynamic
    * overwrite cannot leave a stale bucket behind.
    *
    * Sizing rule of thumb: pick nBuckets ≈ |dimension keys| / (target
    * keys per bucket), where a target bucket is one you are happy to
    * rewrite whole — a few GB of parquet, i.e. ~10⁷ versions. Prefer
    * the FLAT store ([[mergeBatchIntoScdStore]]) whenever a typical
    * batch's |distinct keys| ≳ nBuckets: then every bucket is affected
    * every batch, pruning saves nothing, and the bucketed path only
    * adds per-directory write overhead (measured at ~1/3 the flat
    * path's throughput in STREAMBENCH's full-spread worst case). The
    * crossover is |batch keys| ≈ nBuckets — trickle changes against a
    * large dimension sit far below it; rebuild-shaped batches sit above.
    *
    * `nBuckets` is pinned at store creation (bucket membership is
    * positional, exactly like the histogram grids) and PERSISTED in a
    * `_graft_scd_nbuckets` marker file inside the store: every merge
    * requires exact equality, because a differing nBuckets re-buckets
    * keys — the affected-bucket read would miss a key's existing
    * versions and dynamic overwrite would leave its stale rows behind
    * in the old bucket (silent duplicate version intervals). A
    * directory-count check could not catch this (8 existing dirs pass
    * a `<= 16` test; a sparse store passes a smaller nBuckets too).
    *
    * Replay semantics are unchanged from the plain path: a replayed
    * batch re-derives its buckets to identical content (the dedup
    * identity absorbs duplicates), and the ledger skips the wasted
    * rewrite entirely.
    */
  def mergeBatchIntoBucketedScdStore(batch: DataFrame, keyCols: Seq[String],
      tsCol: String, tieCol: String, storePath: String,
      nBuckets: Int): Unit = {
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    val spark = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // mirror fromHistory's null-key policy BEFORE bucketing so a
    // null-keyed change can't drag a phantom bucket into the read set
    val clean = batch.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
    if (!fs.exists(p)) {
      // an empty (or all-null-key) first batch must NOT create the
      // store: a partitioned write of zero rows emits no schema-bearing
      // part file, and every later read of the directory would die on
      // schema inference — skip and let the first real batch create it
      if (clean.isEmpty) return
      // repartition on the bucket BEFORE the partitioned write: without
      // it every upstream task writes into every dir it touches and a
      // batch leaves up to |tasks|·|affected buckets| files — at 1000
      // executors that is file proliferation compounding on every
      // merge. One bucket-keyed exchange caps it at ⌈rows/10⁷⌉ files
      // per affected bucket per batch (the bucket IS the rewrite unit;
      // maxRecordsPerFile stops a bucket-sized task from emitting one
      // multi-GB file). The flip side is WRITE parallelism: each bucket
      // is one task, so a rebuild-shaped batch (including initial
      // creation of a large dimension) is bounded by nBuckets writer
      // tasks — one more reason the sizing rule above says to prefer
      // the FLAT store for bulk loads and keep this path for trickles.
      fromHistory(clean, keyCols, tsCol, tieCol)
        .withColumn(BucketCol, bucketOf(keyCols, nBuckets))
        .repartition(col(BucketCol))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MaxRecordsPerStoreFile)
        .partitionBy(BucketCol).parquet(storePath)
      writeNBuckets(fs, p, nBuckets)
    } else {
      // SELF-HEAL a missing marker (the create-crash window between the
      // data write and the marker write — reachable under the ledger's
      // replay — or a store that predates the marker, or a corrupt
      // marker the operator told the user to delete): validate EVERY
      // stored row's partition against the caller's bucketization, then
      // pin it. One full store read, once, only on this path — the
      // alternative was a permanently bricked store.
      //
      // AMBIGUITY GUARD: a store created with a LARGER nBuckets whose
      // keys coincidentally all landed in the low buckets also passes
      // the row validation for a smaller candidate (pmod(h, c) ==
      // pmod(h, T) whenever pmod(h, T) < c). Passing the row validation
      // makes the store FORWARD-consistent as a c-layout (every stored
      // row sits where a c-layout merge will look for it, and merges
      // maintain the invariant — the spec-pinned forward-soundness
      // property), so re-pinning cannot silently corrupt versions — but
      // it would quietly override the creator's intent, and the
      // creator's next merge with the true value then fails the marker
      // equality in a confusing way. The same scan therefore also
      // checks whether the rows are SIMULTANEOUSLY consistent with a
      // 2· or 3·nBuckets layout — but consistency with a larger layout
      // is only EVIDENCE of a larger creation value when coincidence is
      // improbable, and for a genuine nBuckets store with K distinct
      // keys the 2x-coincidence probability is 2^-K: at K=1 a refusal
      // would false-brick ~2 in 3 genuine stores, i.e. exactly the
      // trickle-first-batch crash-recovery replays this self-heal path
      // exists for. So the refusal is gated on K ≥
      // [[AmbiguityMinKeys]]: above it, false-refusal probability is
      // ≤ 2^-K + 3^-K (≤ 1.6e-5 at 16) and the guard errs loud-and-safe
      // with the manual-marker remedy; below it, the heal pins the
      // caller's row-validated value and WARNS, because with that
      // little evidence either choice is a guess and the row-validated
      // guess is at least forward-sound. The coincidence classes the
      // scan cannot see (true layout a 5c/7c/... multiple with every
      // key below c AND inconsistent with 2c and 3c) occur with
      // probability ≤ 5^-K.
      if (!fs.exists(nBucketsPath(p))) {
        val checks = FooterSchema.read(spark, storePath).agg(
          count(lit(1)).as("n"),
          coalesce(sum(when(bucketOf(keyCols, nBuckets) =!=
            col(BucketCol).cast("long"), 1L).otherwise(0L)), lit(0L))
            .as("bad"),
          coalesce(sum(when(bucketOfMod(keyCols, 2L * nBuckets) =!=
            col(BucketCol).cast("long"), 1L).otherwise(0L)), lit(0L))
            .as("bad2x"),
          coalesce(sum(when(bucketOfMod(keyCols, 3L * nBuckets) =!=
            col(BucketCol).cast("long"), 1L).otherwise(0L)), lit(0L))
            .as("bad3x"),
          // distinct-key EVIDENCE, not an exact count: the only use is
          // K ≥/< AmbiguityMinKeys, so approx_count_distinct keeps the
          // whole scan map-side partial sums + a 1-row reduce (an exact
          // countDistinct would add a keys-sized shuffle to a path
          // sized for billion-key stores). Spark's HLL++ has no exact
          // sparse mode, so the estimate CAN be off by ±1 right at the
          // boundary: rsd 0.005 → p = ceil(2·log2(1.106/rsd)) = 16 →
          // 2^16 = 65536 registers (linear counting at small K), so a
          // register collision among ~16 keys has probability
          // ≈ C(16,2)/65536 ≈ 0.18%, and a ±1-key shift only trades
          // false-refusal odds 2^-15 ↔ 2^-16 — both sides of the
          // heuristic threshold are defensible, so the decision is
          // insensitive to the residual estimation error
          approx_count_distinct(struct(keyCols.map(col): _*), rsd = 0.005)
            .as("k")
        ).head()
        // a zero-row store (externally truncated/restored) has nothing
        // to validate and nothing to mis-slice: pin the caller's value
        if (checks.getLong(0) > 0L) {
          require(checks.getLong(1) == 0L,
            s"store at $storePath has no nBuckets marker and its layout " +
              s"does not match nBuckets=$nBuckets — pass the value the " +
              "store was created with")
          val largerFits =
            checks.getLong(2) == 0L || checks.getLong(3) == 0L
          if (largerFits) {
            require(checks.getLong(4) < AmbiguityMinKeys,
              s"store at $storePath has no nBuckets marker; its rows are " +
                s"consistent with nBuckets=$nBuckets but ALSO with a larger " +
                s"layout (every row lands identically under " +
                s"${2L * nBuckets} or ${3L * nBuckets} buckets), and with " +
                s"~${checks.getLong(4)} distinct keys (estimate) that is " +
                "not plausibly a coincidence — the store was likely created with a " +
                "larger value; refusing to self-heal. If " +
                s"$nBuckets is certainly the creation-time value, write it " +
                s"by hand as the plain-text content of ${nBucketsPath(p)} " +
                "and re-run")
            System.err.println(
              s"[graft.Scd] WARNING: self-healing the nBuckets marker of " +
                s"$storePath to $nBuckets from only ${checks.getLong(4)} " +
                s"distinct keys, which are ALSO consistent with a " +
                s"${2L * nBuckets}/${3L * nBuckets} layout — if the store " +
                "was created with a different value, delete " +
                s"${nBucketsPath(p)} and re-merge with it")
          }
        }
        writeNBuckets(fs, p, nBuckets)
      }
      val pinnedNBuckets = readNBuckets(fs, p)
      require(pinnedNBuckets == nBuckets,
        s"store at $storePath was created with nBuckets=$pinnedNBuckets, " +
          s"merge called with $nBuckets — bucket membership is positional, " +
          "so a differing nBuckets would read the wrong bucket slice and " +
          "leave stale versions behind; pass the creation-time value")
      val buckets = clean
        .select(bucketOf(keyCols, nBuckets).as(BucketCol)).distinct()
        .collect().map(_.getLong(0)) // bounded: ≤ min(|batch keys|, nBuckets)
      if (buckets.nonEmpty) {
        val slice = FooterSchema.read(spark, storePath)
          .filter(col(BucketCol).isin(buckets.map(Long.box): _*))
          .drop(BucketCol)
        val merged = applyBatch(slice, clean, keyCols, tsCol, tieCol)
          .withColumn(BucketCol, bucketOf(keyCols, nBuckets))
          .repartition(col(BucketCol)) // bounded files per bucket (see create path)
        replaceStore(merged, storePath)(_.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .option("maxRecordsPerFile", MaxRecordsPerStoreFile)
          .partitionBy(BucketCol).parquet(storePath))
      }
    }
  }

  /** The store's pinned-nBuckets marker file. Underscore-prefixed so
    * every parquet FileIndex treats it as hidden metadata.
    */
  private def nBucketsPath(store: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(store, "_graft_scd_nbuckets")

  /** Atomic marker write: create under a dot-temp name (hidden to
    * FileIndex), then rename into place — a crash mid-write can leave a
    * stale temp but never a truncated marker. A crash BETWEEN the data
    * write and this call is the self-heal path in
    * [[mergeBatchIntoBucketedScdStore]].
    */
  private def writeNBuckets(fs: org.apache.hadoop.fs.FileSystem,
      store: org.apache.hadoop.fs.Path, nBuckets: Int): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(store, "._graft_scd_nbuckets.tmp")
    val out = fs.create(tmp, true)
    try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
    val mp = nBucketsPath(store)
    if (fs.exists(mp)) fs.delete(mp, false)
    require(fs.rename(tmp, mp), s"could not move $tmp to $mp")
  }

  private def readNBuckets(fs: org.apache.hadoop.fs.FileSystem,
      store: org.apache.hadoop.fs.Path): Int = {
    val mp = nBucketsPath(store)
    require(fs.exists(mp),
      s"$mp missing — the store was not created by " +
        "mergeBatchIntoBucketedScdStore (or the marker was deleted); " +
        "refusing to guess its bucketization")
    val in = fs.open(mp)
    val raw =
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      finally in.close()
    try raw.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$mp is unreadable ('$raw') — delete the marker file and re-merge " +
          "with the creation-time nBuckets; the merge will validate the " +
          "store layout against it and re-pin")
    }
  }

  /** [[maintainScd2]] over the bucket-partitioned store — same ledger,
    * same version semantics ([[readScdStore]] of the two paths is
    * spec-pinned equal), batch I/O proportional to affected buckets.
    */
  def maintainScd2Bucketed(stream: DataFrame, keyCols: Seq[String],
      tsCol: String, tieCol: String, storePath: String, ledgerDir: String,
      nBuckets: Int): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    graft.io.Sinks.idempotentForeachBatch(stream, ledgerDir) { (b, _) =>
      mergeBatchIntoBucketedScdStore(b, keyCols, tsCol, tieCol, storePath,
        nBuckets)
    }
}
