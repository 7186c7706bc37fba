package graft

import graft.io.{ForklessLocalFileSystem, ForklessLocalFs}
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
  *   - A `file:` filesystem that gives Hadoop's answers without forking
  *     `chmod` and `readlink` ([[io.ForklessRawLocalFileSystem]]).
  *   - One executor class loader for every session, streams included,
  *     so a new stream reuses the classes earlier queries compiled
  *     (artifact isolation off; see [[tune]]).
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
    *   - Bounded, not unlimited: a plan whose generated source differs
    *     from run to run (the few repeat compiles above) adds entries for
    *     as long as the JVM lives, and so does a running stream. A new
    *     stream no longer recompiles what earlier queries compiled (see
    *     Artifact isolation below), but one 10 s open loop of the
    *     benchmark's `stream_apps` workload (seed 401, `local[4]`) still
    *     compiled 106 classes, against 126 with a class loader per
    *     session: its micro-batches keep generating source the cache has
    *     not seen. An unbounded cache would grow with a long-lived
    *     stream. A retained class costs about 8 KB of heap, so a full
    *     cache holds about 8 MB.
    *   - Static conf: Spark reads it once, at the JVM's first codegen, so
    *     it only takes effect on a session built before that point.
    *   - Another size: set the key on the builder AFTER tune() (builder
    *     configs are last-write-wins, so a value set before is replaced).
    *
    * Non-blocking cleanup: `spark.cleaner.referenceTracking.blocking` is
    * false, as Spark's own default already is for shuffles. After a
    * collection finds a finished query's plans unreachable, Spark's
    * ContextCleaner removes their RDDs, accumulators and broadcasts one
    * at a time; blocking, it waits on a round trip for each, and what
    * the removals release (broadcast hash relations hold their rows in
    * Tungsten pages) stays live until it reaches them. Measured after a
    * pass of the eleven text-kernel queries (`local[4]`, 2 GB heap): a
    * collection 100 ms after the first still found 17-63 MB of that pass
    * live in 8 of 20 runs blocking and in none of 6 non-blocking; the
    * next such pair of collections found none in either.
    *
    * Local filesystem: `spark.hadoop.fs.file.impl` is
    * [[io.ForklessLocalFileSystem]] and
    * `spark.hadoop.fs.AbstractFileSystem.file.impl` is [[io.ForklessLocalFs]],
    * the `FileSystem` and `FileContext` bindings of `file:` paths.
    *   - Why: without libhadoop (not shipped with Spark's jars), Hadoop's
    *     `RawLocalFileSystem` forks `chmod` for every file and directory
    *     it creates and `readlink` for every `getFileLinkStatus`, which
    *     `FileContext` calls around every rename. Spark's default
    *     checkpoint manager renames every offset, commit and state-store
    *     file through `FileContext`, so one `stream_apps` run of the
    *     benchmark forked about 5k `readlink` and 1.4k `chmod`
    *     processes. The `readlink` runs on `file:/...`, a string that
    *     never resolves, so each of those forks answered "not a link".
    *   - Same answers: the graft classes override only those two methods,
    *     take the stock path wherever nio cannot give the stock answer
    *     (sticky and set-id bits, symbolic links), and LocalFsSpec checks
    *     them against stock Hadoop; only the forks go away.
    *   - Untouched: Spark's checkpoint manager (still `FileContext`, with
    *     its atomic overwriting rename), every other scheme, HDFS.
    *   - JVM-wide cache: Hadoop caches `FileSystem` instances per scheme
    *     and user, not per configuration. A `file:` filesystem created
    *     before the first tuned session (say, by a plain `new
    *     Configuration()` and `FileSystem.get`) stays the stock class for
    *     the life of the JVM: still correct, just forking.
    *   - Opt out: set the two keys back to Hadoop's classes
    *     (`org.apache.hadoop.fs.LocalFileSystem` and
    *     `org.apache.hadoop.fs.local.LocalFs`) on the builder AFTER
    *     tune(), as for the codegen key. By the cache above, this holds
    *     for `FileSystem` only in a JVM whose first tuned session opts out.
    *
    * Artifact isolation: `spark.sql.artifact.isolation.enabled` is false,
    * so every graft session runs its tasks under the executor's one
    * default class loader.
    *   - Why: Spark 4 turns the key on by default. Each session then tags
    *     its jobs with its own artifact state, keyed by its session UUID,
    *     and the executor builds a new class loader for each new UUID.
    *     The codegen cache above is keyed by class loader, so every
    *     session's tasks compile again each generated class they use,
    *     and the JIT compiles it again. Every `writeStream.start()` runs
    *     in a clone of the session with a new UUID, so every stream
    *     start paid this. Measured with the same
    *     checkpointed `StreamOps.windowedAgg` started three times, three
    *     feeds each (`local[4]`): 26, 18 and 18 compiles with the key on,
    *     26, 0 and 0 with it off (StreamCodegenReuseSpec pins this).
    *   - Safe while graft adds no artifacts: the key isolates only the
    *     jars, files, archives and class directories a session adds
    *     (`addArtifact`, `addJar`, `addFile`, `addArchive`, `ADD JAR`).
    *     Off, an artifact one session adds is visible to every session
    *     with the key off. graft adds none, and ArtifactGuardSpec fails if
    *     a source under `src/main` starts to. There is no narrower key:
    *     `spark.sql.artifact.isolation.alwaysApplyClassloader` governs
    *     only the driver's loader, while the executor's follows the job's
    *     artifact state, which only this key removes.
    *   - Read once: a session's artifact manager reads the key once and
    *     keeps the value, so it belongs on the builder (Spark documents
    *     that a change on a running session has no effect). A clone, and so
    *     every stream, inherits its parent's value, and a `newSession()`
    *     sibling takes it from the builder's options like any other key.
    *   - Opt out: set the key back to `true` on the builder AFTER tune(),
    *     as for the codegen key.
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
    .config("spark.cleaner.referenceTracking.blocking", "false")
    .config("spark.hadoop.fs.file.impl", classOf[ForklessLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForklessLocalFs].getName)
    .config("spark.sql.artifact.isolation.enabled", "false")

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
