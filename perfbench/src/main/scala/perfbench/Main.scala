package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}

/** The benchmark harness: runs one workload against graft for a fixed
  * time and writes the raw measurements (`result.json`, plus
  * `spans.jsonl` when tracing) for `run.py` to reduce and check.
  *
  * Args: workload data_dir work_dir seconds trace(0|1) cores rate, where
  * `rate` is the stream workload's open-loop events per second.
  */
object Main {
  final case class Args(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, cores: Int, rate: Double)

  /** Set-ups per run; the first also loads the JVM's and Spark's classes,
    * and the median of three is a warm one.
    */
  val setups = 3

  private val t0 = System.nanoTime()

  /** Logs the start of a phase of the run, with the seconds since the
    * harness started, to the harness log.
    */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1f s $name")

  def main(argv: Array[String]): Unit = {
    val Array(w, data, work, secs, tr, cores, rate) = argv
    val a = Args(w, data, work, secs.toDouble, tr == "1", cores.toInt, rate.toDouble)
    Files.createDirectories(Paths.get(work))
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("workload") = a.workload
    out("cores") = a.cores
    val tracer = new Tracer(a.trace)
    if (a.workload == "stream_apps") runStream(a, tracer, out)
    else runBatch(a, tracer, out)
    phase("done")
    Files.writeString(Paths.get(a.work, "result.json"), Json.value(out))
    if (a.trace) tracer.writeJsonl(Paths.get(a.work, "spans.jsonl"))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** A tuned session on `local[cores]` with `partitions` shuffle
    * partitions.
    */
  def session(cores: Int, partitions: Int, work: String): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints"),
      GraftSession.longFuse).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** [[setups]] complete set-ups (session build, table resolution, shared
    * frames), each on a fresh session; the last session is returned for
    * the measured passes.
    */
  private def setUp(a: Args, tracer: Tracer, out: mutable.Map[String, Any]): SparkSession = {
    phase("set-up")
    val rows = (0 until setups).map { i =>
      val t0 = System.nanoTime()
      val s = session(a.cores, a.cores, a.work)
      val (tables, shared) = Batch.setUp(s, a.data, a.workload)
      val t1 = System.nanoTime()
      tracer.add(Span(tracer.newId(), 0, "setup", t0, t1,
        Map("tables_s" -> tables, "shared_s" -> shared)))
      if (i < setups - 1) stopSession(s)
      ((t1 - t0) / 1e9, tables, shared)
    }
    out("setup_s") = rows.map(_._1)
    out("tables_s") = rows.map(_._2)
    out("shared_s") = rows.map(_._3)
    SparkSession.active
  }

  /** Heap in use after a full collection: the live set the run holds.
    * The pause lets Spark's ContextCleaner drop the RDDs, shuffles and
    * broadcasts the first collection found unreachable; the second
    * collection frees what they held.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // ---------------------------------------------------------------- batch

  private def runBatch(a: Args, tracer: Tracer, out: mutable.Map[String, Any]): Unit = {
    val names = Batch.queries
    val spark = setUp(a, tracer, out)
    // Untimed: each full result to parquet for the oracle compare. This
    // is also the JIT and code-generation warm-up of the measured passes.
    phase("capture (warm-up)")
    val failedCapture = Batch.capture(spark, a.data, names, s"${a.work}/results")
    writeOracles(names, s"${a.work}/results")
    out("capture_failed") = failedCapture
    if (a.trace) tracer.register(spark)
    val passes = mutable.ArrayBuffer.empty[(Long, Seq[Batch.Run], Double)]
    val heap = mutable.ArrayBuffer.empty[Double]
    // whole passes, at least one: another one starts while it should end
    // no later than half a pass after the measuring time
    phase("measured passes")
    val begin = System.nanoTime()
    def fits = passes.isEmpty ||
      (System.nanoTime() - begin) / 1e9 + passes.last._3 / 2 <= a.seconds
    while (fits) {
      val id = tracer.newId()
      val t0 = System.nanoTime()
      val runs = Batch.pass(spark, a.data, names, tracer, id, heap)
      tracer.add(Span(id, 0, "pass", t0, System.nanoTime(), Map("pass" -> passes.size)))
      // the queries' own time, without the collections between them
      passes += ((id, runs, runs.map(r => r.constructNs + r.actionNs).sum / 1e9))
      heap += liveHeapMb()
    }
    out("passes") = passes.map { case (_, runs, wall) =>
      Map("wall_s" -> wall, "cpu_s" -> runs.map(_.cpuNs).sum / 1e9,
        "queries" -> runs.map(r => Map(
        "name" -> r.name, "construct_s" -> r.constructNs / 1e9,
        "action_s" -> r.actionNs / 1e9, "cpu_s" -> r.cpuNs / 1e9, "ok" -> r.ok)))
    }
    out("live_heap_mb") = heap
    if (a.trace) {
      tracer.drain()
      val runs = passes.flatMap(_._2).toSeq
      tracer.attribute(runs.flatMap(r => Seq(
        (r.constructPhase, r.constructStartMs, r.actionStartMs - 1),
        (r.actionPhase, r.actionStartMs, r.actionEndMs))))
      val layers = mutable.LinkedHashMap.empty[String, Any]
      layerTable(tracer, runs, passes.size, a.cores, layers)
      // collection time inside the queries, not the harness's own
      // collections between them
      layers("exec.gc_s") = runs.map(_.gcMs).sum / 1000.0 / passes.size
      out("layers") = layers
      phase("kernel probes")
      out("probes") = Probes.kernels(spark, a.data)
      phase("stream probe")
      out("stream_probe") = streamPart(spark, a, tracer, probe = true)
      stopSession(spark)
      baseline(a, out) { s =>
        Batch.pass(s, a.data, names, new Tracer(false), 0, mutable.ArrayBuffer.empty[Double])
          .map(r => r.constructNs + r.actionNs).sum / 1e9
      }
    }
  }

  /** The single-core baseline: `pass` (returning its seconds) untraced on
    * a fresh `local[N]` session, then on a fresh `local[1]` session with
    * the same N shuffle partitions, so only the core count differs. The
    * JVM is warm from the measured passes, and neither side is traced.
    */
  private def baseline(a: Args, out: mutable.Map[String, Any])(
      pass: SparkSession => Double): Unit =
    Seq("baseline_wall_s" -> a.cores, "single_core_wall_s" -> 1).foreach { case (k, c) =>
      phase(s"baseline local[$c]")
      val s = session(c, a.cores, a.work)
      Batch.setUp(s, a.data, a.workload)
      out(k) = pass(s)
      stopSession(s)
    }

  /** oracle_sql.json for the workload's queries, in the layout the
    * project's DuckDB checker reads.
    */
  private def writeOracles(names: Seq[String], dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(dir, "oracle_sql.json"),
      Json.value(names.flatMap(n => oracles.get(n).map(n -> _)).toMap))
  }

  /** Per-pass layer totals, and the plan and exec spans that split each
    * action.
    */
  private def layerTable(tracer: Tracer, runs: Seq[Batch.Run], nPasses: Int,
      cores: Int, m: mutable.Map[String, Any]): Unit = {
    val p = math.max(1, nPasses).toDouble
    val con = tracer.total(runs.map(_.constructPhase))
    val act = tracer.total(runs.map(_.actionPhase))
    val all = new Counters
    all += con; all += act
    var planS, execS = 0.0
    runs.foreach { r =>
      val aNs = r.actionNs
      val planNs = Option(tracer.planOf.get(r.actionPhase))
        .map { case (s, e) => math.min(aNs, (e - s) * 1000000L) }.getOrElse(0L)
      // the action runs from the end of construction to the end of the
      // query: its plan phases first, the rest is execution, under which
      // the action's jobs hang
      val at = r.startNs + r.constructNs
      tracer.add(Span(tracer.newId(), r.querySpan, "plan", at, at + planNs, Map.empty))
      tracer.add(Span(r.actionPhase, r.querySpan, "exec", at + planNs, at + aNs, Map.empty))
      planS += planNs / 1e9
      execS += (aNs - planNs) / 1e9
    }
    m("queries.construct_s") = runs.map(_.constructNs).sum / 1e9 / p
    m("queries.construct_jobs") = con.jobs / p
    m("catalyst.plan_s") = planS / p
    m("catalyst.analysis_s") = (runs.map(_.analysisMs).sum + act.analysisMs) / 1000.0 / p
    m("catalyst.optimization_s") = act.optimizationMs / 1000.0 / p
    m("catalyst.planning_s") = act.planningMs / 1000.0 / p
    m("catalyst.exchanges") = act.exchanges / p
    m("catalyst.scans") = act.scans / p
    m("scheduler.jobs") = all.jobs / p
    m("scheduler.stages") = all.stages / p
    m("scheduler.tasks") = all.tasks / p
    m("scheduler.failed_tasks") = all.failedTasks / p
    m("exec.wall_s") = execS / p
    m("exec.task_busy_s") = act.taskBusyMs / 1000.0 / p
    m("exec.task_cpu_s") = act.taskCpuNs / 1e9 / p
    m("exec.utilization") =
      if (execS > 0) act.taskBusyMs / 1000.0 / (cores * execS) else 0.0
    m("shuffle.write_bytes") = all.shuffleWrite / p
    m("shuffle.read_bytes") = all.shuffleRead / p
    m("shuffle.spill_bytes") = all.spill / p
    m("io.bytes_written") = all.bytesWritten / p
    m("io.files_written") = all.filesWritten / p
    m("storage.blocks_written") = all.blocksWritten / p
    m("storage.block_bytes") = all.blockBytes / p
  }

  // --------------------------------------------------------------- stream

  private def runStream(a: Args, tracer: Tracer, out: mutable.Map[String, Any]): Unit = {
    val spark = setUp(a, tracer, out)
    if (a.trace) tracer.register(spark)
    out ++= streamPart(spark, a, tracer, probe = false)
    if (a.trace) {
      phase("kernel probes")
      out("probes") = Probes.kernels(spark, a.data)
      stopSession(spark)
      baseline(a, out) { s =>
        val events = loadEvents(s, a.data)
        val tag = s"b${s.sparkContext.defaultParallelism}"
        Streams.pipelines.map(p =>
          Streams.drain(s, p, events, a.work, s"${tag}_$p").seconds).sum
      }
    }
  }

  def loadEvents(spark: SparkSession, dir: String): IndexedSeq[Ev] = {
    import spark.implicits._
    Tables.events(spark, dir).orderBy("event_id")
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      .collect().toIndexedSeq
  }

  /** The stream measurements: one closed-loop pass over the pipelines,
    * each checked after its timed drain, then each pipeline in open loop.
    * With `probe` (the end of a batch workload's traced run) only the
    * windowed aggregation runs, on [[probeEvents]] events and for
    * [[probeSeconds]] of open loop, so every workload reports the stream
    * layer.
    */
  private def streamPart(spark: SparkSession, a: Args, tracer: Tracer,
      probe: Boolean): Map[String, Any] = {
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val all = loadEvents(spark, a.data)
    val res = mutable.LinkedHashMap.empty[String, Any]
    val lateMs = lateness(all)
    if (probe) {
      // closed-loop drain for the throughput figure, then open loop
      val events = all.take(probeEvents)
      val d = Streams.drain(spark, "windowed_agg", events, a.work, "probe")
      res("passes") = Seq(Map("wall_s" -> d.seconds, "pipelines" -> Nil))
      res("rows") = events.size
      val (open, genLate) = openRows(spark, a, tracer, progress, Seq("windowed_agg"),
        events, lateMs, probeSeconds, Map.empty)
      res("open") = open
      res("generator_late_ms") = genLate
      spark.streams.removeListener(progress)
      return res.toMap
    }
    val events = all
    // untimed warm-up: each pipeline drains a prefix of the events once,
    // so class loading, JIT and code generation of the stream path are
    // not in the timed pass (the batch path warms up the same way in
    // Batch.capture). The pipelines warm up side by side, which takes
    // about a third of the time of one after another.
    phase("stream warm-up")
    Streams.pipelines.map { p =>
      val t = new Thread(() => {
        Streams.drain(spark, p, events.take(warmEvents), a.work, s"w_$p")
        spark.catalog.dropTempView(s"pb_w_${p}_$p")
      }, s"perfbench-warm-$p")
      t.start()
      t
    }.foreach(_.join())
    phase("closed loop")
    // closed loop: one pass, each pipeline's sink checked after its drain
    val failed = mutable.LinkedHashMap.empty[String, String]
    val closedIds = mutable.ArrayBuffer.empty[(String, java.util.UUID)]
    val windows = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var constructS = 0.0
    val id = tracer.newId()
    var wall = 0.0
    var gcMs, cpuNs = 0L
    val heap = mutable.ArrayBuffer.empty[Double]
    val per = Streams.pipelines.map { p =>
      val tag = s"c_$p"
      val ms0 = System.currentTimeMillis()
      val r = try {
        val g0 = Batch.gcMs()
        val c0 = Batch.cpuNs()
        val d = Streams.drain(spark, p, events, a.work, tag)
        val cpu = Batch.cpuNs() - c0
        gcMs += Batch.gcMs() - g0
        cpuNs += cpu
        windows += ((id, ms0, System.currentTimeMillis()))
        closedIds += (p -> d.queryId)
        constructS += d.startS
        wall += d.seconds
        Streams.check(spark, p, events, a.work, tag).foreach(failed(p) = _)
        Map("pipeline" -> p, "s" -> d.seconds, "cpu_s" -> cpu / 1e9,
          "ok" -> !failed.contains(p))
      } catch { case e: Throwable =>
        failed(p) = s"${e.getClass.getName}: ${e.getMessage}"
        Batch.report(p, e); Map("pipeline" -> p, "s" -> 0.0, "cpu_s" -> 0.0, "ok" -> false)
      }
      spark.catalog.dropTempView(s"pb_${tag}_$p")
      heap += liveHeapMb()
      r
    }
    res("check_failed") = failed
    res("passes") = Seq(Map("wall_s" -> wall, "cpu_s" -> cpuNs / 1e9, "pipelines" -> per))
    res("rows") = events.size
    res("live_heap_mb") = heap
    if (a.trace) {
      tracer.drain()
      tracer.attribute(windows.toSeq)
      val all = tracer.total(Seq(id))
      val n = 1.0
      val addBatchS = closedIds.flatMap(x => progress.of(x._2))
        .map(x => Option(x._2.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L))
        .sum / 1000.0 / n
      res("layers") = Map(
        "queries.construct_s" -> constructS / n,
        "queries.construct_jobs" -> 0.0,
        "catalyst.analysis_s" -> all.analysisMs / 1000.0 / n,
        "catalyst.optimization_s" -> all.optimizationMs / 1000.0 / n,
        "catalyst.planning_s" -> all.planningMs / 1000.0 / n,
        "catalyst.exchanges" -> all.exchanges / n,
        "catalyst.scans" -> all.scans / n,
        "scheduler.jobs" -> all.jobs / n,
        "scheduler.stages" -> all.stages / n,
        "scheduler.tasks" -> all.tasks / n,
        "scheduler.failed_tasks" -> all.failedTasks / n,
        "exec.wall_s" -> addBatchS,
        "exec.task_busy_s" -> all.taskBusyMs / 1000.0 / n,
        "exec.task_cpu_s" -> all.taskCpuNs / 1e9 / n,
        "exec.utilization" ->
          (if (addBatchS > 0) all.taskBusyMs / 1000.0 / n / (a.cores * addBatchS) else 0.0),
        "exec.gc_s" -> gcMs / 1000.0 / n,
        "shuffle.write_bytes" -> all.shuffleWrite / n,
        "shuffle.read_bytes" -> all.shuffleRead / n,
        "shuffle.spill_bytes" -> all.spill / n,
        "io.bytes_written" -> all.bytesWritten / n,
        "io.files_written" -> all.filesWritten / n,
        "storage.blocks_written" -> all.blocksWritten / n,
        "storage.block_bytes" -> all.blockBytes / n)
    }
    phase("open loop")
    // open loop: one pipeline after another, each for its share of the
    // measuring time at the fixed rate
    val runs = Streams.openPipelines.map(p => openRows(spark, a, tracer, progress, Seq(p),
      events, lateMs, a.seconds / Streams.openPipelines.size, failed))
    res("open") = runs.flatMap(_._1)
    res("generator_late_ms") = runs.flatMap(_._2)
    res("rate") = a.rate
    spark.streams.removeListener(progress)
    res.toMap
  }

  /** The pipelines together in open loop, with their micro-batches as
    * spans under one span per pipeline.
    */
  private def openRows(spark: SparkSession, a: Args, tracer: Tracer,
      progress: ProgressLog, names: Seq[String], events: IndexedSeq[Ev],
      lateMs: IndexedSeq[Long], seconds: Double,
      failed: collection.Map[String, String]): (Seq[Map[String, Any]], Seq[Double]) = {
    val t0 = System.nanoTime()
    val (opens, genLate) = try Streams.openLoop(spark, names, events, lateMs,
        a.rate, seconds, a.work, "o", progress)
      catch { case e: Throwable => Batch.report("open loop", e); (Nil, Array.empty[Double]) }
    val t1 = System.nanoTime()
    names.foreach(p => spark.catalog.dropTempView(s"pb_o_${p}_$p"))
    val rows = names.map { p =>
      val o = opens.find(_.name == p)
      val batches = o.map(r => progress.of(r.queryId).map(_._2).filter(pr =>
        java.time.Instant.parse(pr.timestamp).toEpochMilli >= r.measuredFromMs)).getOrElse(Nil)
      val id = tracer.newId()
      tracer.add(Span(id, 0, "pipeline", t0, t1, Map("pipeline" -> p, "loop" -> "open")))
      batches.foreach { pr =>
        val b = Progress.row(pr)
        val start = tracer.nsOfMs(java.time.Instant.parse(pr.timestamp).toEpochMilli)
        val bid = tracer.newId()
        val trig = b("triggerExecution").asInstanceOf[Long]
        tracer.add(Span(bid, id, "micro_batch", start, start + trig * 1000000L,
          Map("batch" -> pr.batchId, "rows" -> pr.numInputRows)))
        // durationMs parts, laid end to end (Spark reports durations only)
        var at = start
        Progress.parts.foreach { k =>
          val d = b(k).asInstanceOf[Long] * 1000000L
          tracer.add(Span(tracer.newId(), bid, k, at, at + d, Map.empty))
          at += d
        }
      }
      Map("pipeline" -> p, "ok" -> (o.isDefined && !failed.contains(p)),
        "latency_ms" -> o.map(_.latenciesMs.toSeq).getOrElse(Nil),
        "generated" -> o.map(_.generated).getOrElse(0L),
        "consumed_at_stop" -> o.map(_.consumedAtStop).getOrElse(0L),
        "batches" -> batches.map(Progress.row))
    }
    (rows, genLate.toSeq)
  }

  val probeEvents = 2000
  /** Events each pipeline drains in the stream workload's warm-up. */
  val warmEvents = 100
  val probeSeconds = 2.0

  /** Open-loop lateness per template event: the events the generator
    * planted out of order (ts below the running maximum) arrive up to
    * [[Streams.openLateMs]] late; the rest are on time.
    */
  private def lateness(events: IndexedSeq[Ev]): IndexedSeq[Long] = {
    var runMax = Long.MinValue
    val rng = new java.util.Random(events.size.toLong)
    events.map { e =>
      val t = e.ts.getTime
      val late = t < runMax
      runMax = math.max(runMax, t)
      if (late) (rng.nextDouble() * Streams.openLateMs).toLong else 0L
    }
  }
}

/** One micro-batch progress report, flattened. */
object Progress {
  val parts = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets")

  def row(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = {
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val wm = Option(p.eventTime.get("watermark"))
      .map(java.time.Instant.parse(_).toEpochMilli)
    Map("batch" -> p.batchId, "rows" -> p.numInputRows,
      "triggerExecution" -> d("triggerExecution"),
      "end_ms" -> (start + d("triggerExecution")),
      "watermark_ms" -> wm,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
      "dropped_late" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum) ++
      parts.map(k => k -> d(k))
  }
}
