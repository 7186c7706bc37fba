package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** The batch workload (`text_kernels`): the gate queries it runs, and
  * the closed-loop pass that times them to full results.
  */
object Batch {
  /** Query numbers, in run order. */
  val queryNumbers: Seq[Int] = Seq(131, 132, 133, 135, 136, 138, 143, 147, 70, 115, 25)

  /** Full query names (`q131_repetition`, ...), in run order. */
  def queries: Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq
    queryNumbers.map { n =>
      val prefix = f"q$n%02d_"
      all.filter(_.startsWith(prefix)) match {
        case Seq(one) => one
        case other => sys.error(s"query q$n: expected one match, got $other")
      }
    }
  }

  /** Set-up the workload needs before its first query: resolve every
    * table through `Tables` (footer read and listing, memoized per
    * session), then build the `Shared*` session frames its queries read.
    * Returns (tables seconds, shared-frame seconds).
    */
  def setUp(spark: SparkSession, dir: String, workload: String): (Double, Double) = {
    val t0 = System.nanoTime()
    Tables.names.foreach(t => Tables(spark, dir, t).schema)
    val t1 = System.nanoTime()
    if (workload == "text_kernels")
      graft.queries.SharedDsir.table(spark, dir)
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Timing of one query run: construction (the query function returning
    * its DataFrame, including any Spark jobs it runs first) and the
    * full-result action. `ok` is false when either threw.
    */
  final case class Run(name: String, constructNs: Long, actionNs: Long,
      ok: Boolean, constructPhase: Long, actionPhase: Long,
      actionStartMs: Long, actionEndMs: Long, constructStartMs: Long,
      analysisMs: Long, startNs: Long, querySpan: Long, gcMs: Long, cpuNs: Long)

  /** One query to complete results, written to Spark's `noop` sink. */
  def runOne(spark: SparkSession, dir: String, name: String,
      tracer: Tracer, parent: Long): Run = {
    val fn = SparkEntry.queries(name)
    val qSpan = tracer.newId()
    val cPhase = tracer.newId()
    val aPhase = tracer.newId()
    val cMs = System.currentTimeMillis()
    val gc0 = gcMs()
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    var ok = true
    val df: Option[DataFrame] = try Some(fn(spark, dir))
      catch { case e: Throwable => ok = false; report(name, e); None }
    val t1 = System.nanoTime()
    val aMs = System.currentTimeMillis()
    df.foreach { d =>
      try d.write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => ok = false; report(name, e) }
    }
    val t2 = System.nanoTime()
    val eMs = System.currentTimeMillis()
    tracer.add(Span(qSpan, parent, "query", t0, t2, Map("query" -> name, "ok" -> ok)))
    tracer.add(Span(cPhase, qSpan, "construct", t0, t1, Map.empty))
    // the DataFrame was analyzed while it was built; its own tracker
    // holds that phase (reading it re-runs nothing)
    val analysisMs = df.flatMap(_.queryExecution.tracker.phases.get("analysis"))
      .map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    Run(name, t1 - t0, t2 - t1, ok, cPhase, aPhase, aMs, eMs, cMs, analysisMs, t0, qSpan,
      gcMs() - gc0, cpuNs() - cpu0)
  }

  /** Every query once, in order; returns the runs. After each query,
    * outside its timing, collections sample the live heap into `heap`
    * (and keep one query's garbage out of the next one's time). A single
    * collection left the first query's garbage behind in some runs and
    * not in others, so the peak moved by a quarter between runs.
    */
  def pass(spark: SparkSession, dir: String, names: Seq[String],
      tracer: Tracer, passSpan: Long,
      heap: collection.mutable.Buffer[Double]): Seq[Run] =
    names.map { n =>
      val r = runOne(spark, dir, n, tracer, passSpan)
      heap += Main.liveHeapMb()
      r
    }

  /** Each query's full result as parquet under `out/<name>`, for the
    * DuckDB oracle compare. Returns the names that threw.
    */
  def capture(spark: SparkSession, dir: String, names: Seq[String],
      out: String): Seq[String] = names.filterNot { n =>
    try {
      SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$out/$n")
      true
    } catch { case e: Throwable => report(n, e); false }
  }

  /** JVM collection time so far (driver and, in local mode, tasks). */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** CPU time the whole JVM has used so far: driver, tasks (local mode),
    * compiler and collector threads. Time the host lets other machines
    * use is not counted, so this moves less than wall time on a shared
    * host.
    */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def report(name: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: " +
      Option(e.getMessage).getOrElse("").take(400))
}
