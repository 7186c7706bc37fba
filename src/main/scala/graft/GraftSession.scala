package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Conventions shared by Verify / Bench / tests:
  *   - UTC session timezone (oracle parity with DuckDB's naive timestamps).
  *   - AQE on: runtime coalescing + skew-join mitigation stands in for the
  *     hand-tuned parallelism the reference sets per job
  *     (e.g. reference scala/.../demo/hotitems/HotItems.scala:31).
  *   - Parquet INT64(NANOS) columns read as Long (Spark has no ns
  *     timestamp); [[Tables]] converts them to microsecond timestamps.
  *   - shuffle partitions sized to the core count, not the 200 default —
  *     on a real cluster this would be executors*cores*2-3.
  *   - Spark's generated-class cache sized to graft's working set
  *     ([[codegenCacheEntries]]), so repeated queries reuse compiled code.
  */
object GraftSession {

  /** Apply graft defaults to any builder (used by Verify/Bench/tests).
    *
    * Broadcast fuse: the Spark default (300 s) unless the caller passes
    * `broadcastFuse` explicitly. Our own entry points (Bench/Verify/
    * ScaleSmoke/StreamBench/local) pass [[longFuse]] — this box has
    * intermittent multi-x degradation windows (SCALE.md round-11b) under
    * which a broadcast build can blow 300 s and abort a whole run
    * spuriously; their broadcast sides are all bounded by design,
    * plan-gated. A library user's session keeps the stock 5-minute
    * fail-fast: a genuinely hung broadcast should surface, not stall
    * half an hour. GRAFT_BROADCAST_TIMEOUT overrides everywhere.
    *
    * The fuse is a PARAMETER (not a pre-set builder config) because
    * builder configs are last-write-wins: a caller that set the key
    * before handing the builder to tune() would be silently reverted to
    * the default by tune's own write — exactly the bug that had all four
    * drivers running on the stock 300 s fuse in round 12.
    *
    * Codegen cache: `spark.sql.codegen.cache.maxEntries` is set to
    * [[codegenCacheEntries]] (1000), Spark's cache of compiled generated
    * classes, keyed by (class loader, generated source). Spark's default
    * keeps 100. One pass of the eleven text-kernel queries (q131 q132
    * q133 q135 q136 q138 q143 q147 q70 q115 q25, full results, sf0.01,
    * `local[4]`) compiles 216-252 classes, so at 100 every repeat of a
    * query re-runs Janino, class loading and the JIT on code the JVM had
    * already compiled (about 30% of the CPU time of the benchmark's
    * `text_kernels` pass of the same queries). At 1000 a repeated pass
    * compiles 4-12 (CodegenReuseSpec pins this).
    *   - Bounded, not unlimited: every streaming query runs in a cloned
    *     session whose new class loader changes the cache key, so streams
    *     compile new classes every micro-batch for as long as they live
    *     and an unbounded cache would grow with them. A retained class
    *     costs about 8 KB of heap, so a full cache holds about 8 MB.
    *   - Static conf: Spark reads it once, at the JVM's first codegen, so
    *     it only takes effect on a session built before that point.
    *   - Another size: set the key on the builder AFTER tune() (builder
    *     configs are last-write-wins, so a value set before is replaced).
    */
  def tune(b: SparkSession.Builder,
      broadcastFuse: String = broadcastTimeout): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.broadcastTimeout", broadcastFuse)
    .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)

  /** Generated-class cache entries tune() sets (sizing: see [[tune]]). */
  val codegenCacheEntries: Int = 1000

  /** Seconds before an unfinished broadcast build aborts the query.
    * `longFuse` is what Bench/Verify/ScaleSmoke/StreamBench and the test
    * JVMs pass as tune()'s `broadcastFuse` argument. */
  def broadcastTimeout: String =
    sys.env.getOrElse("GRAFT_BROADCAST_TIMEOUT", "300")
  def longFuse: String =
    sys.env.getOrElse("GRAFT_BROADCAST_TIMEOUT", "1800")

  /** Local session for tests and ad-hoc runs — our own entry point, so it
    * opts into the long broadcast fuse (see [[tune]]'s rationale). */
  def local(cores: Int = 4): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString),
      longFuse).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
