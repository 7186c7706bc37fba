package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval. `parent` is 0 for the root. Times are
  * `System.nanoTime` readings; Spark's wall-clock millisecond stamps are
  * mapped onto the same base by [[Tracer.nsOfMs]].
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, Any])

/** Work the Spark listeners counted inside one phase window. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskBusyMs, taskCpuNs = 0L
  var shuffleWrite, shuffleRead, spill, bytesWritten = 0L
  var blocksWritten, blockBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges, scans, filesWritten = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskBusyMs += o.taskBusyMs
    taskCpuNs += o.taskCpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; bytesWritten += o.bytesWritten
    blocksWritten += o.blocksWritten; blockBytes += o.blockBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; exchanges += o.exchanges; scans += o.scans
    filesWritten += o.filesWritten
  }
}

/** In-memory span store plus the Spark listeners. With `enabled` false
  * nothing is registered and nothing is recorded, so the untraced run
  * measures graft alone.
  *
  * The listeners run on Spark's asynchronous bus thread, so they only
  * log what they see; [[attribute]] later assigns each job (with its
  * stages and tasks), block write and planned query to the phase window
  * its start time falls in. The harness runs one phase at a time, so
  * windows do not overlap, and work that helper threads start inside a
  * phase lands in that phase.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)
  private val jobStart = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val jobsDone = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val stageWork = new ConcurrentHashMap[Int, Counters]()
  private val blocks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val planRecs = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  private val counters = new ConcurrentHashMap[Long, Counters]()
  /** Wall-clock planning bounds (ms) keyed by the phase they planned in. */
  val planOf = new ConcurrentHashMap[Long, (Long, Long)]()

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def nsOfMs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit =
    if (enabled) spans.synchronized { spans += s }

  /** Sum of the counters of the given phase windows. */
  def total(phases: Iterable[Long]): Counters = {
    val c = new Counters
    phases.foreach(p => Option(counters.get(p)).foreach(c += _))
    c
  }

  /** Block until the bus has delivered the end of every job started so
    * far, or 30 s pass.
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (ended.get < started.get && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(100)
  }

  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  def spanList: Seq[Span] = spans.synchronized(spans.toList)

  /** Assign everything logged so far to the windows (id, startMs, endMs)
    * by start time, adding a span per job under its window; what falls
    * in no window is dropped. Call after [[drain]].
    */
  def attribute(windows: Seq[(Long, Long, Long)]): Unit = {
    val ws = windows.sortBy(_._2).toArray
    def owner(ms: Long): Option[Long] = {
      val i = ws.lastIndexWhere(_._2 <= ms)
      if (i >= 0 && ms <= ws(i)._3) Some(ws(i)._1) else None
    }
    def counter(id: Long) = counters.computeIfAbsent(id, _ => new Counters)
    drainQueue(jobsDone) { j =>
      owner(j.startMs).foreach { id =>
        val c = counter(id)
        c.jobs += 1
        j.stages.flatMap(s => Option(stageWork.remove(s))).foreach(c += _)
        add(Span(newId(), id, "job", nsOfMs(j.startMs), nsOfMs(j.endMs),
          Map("job_id" -> j.id)))
      }
    }
    drainQueue(blocks) { case (ms, bytes) =>
      owner(ms).foreach { id =>
        val c = counter(id); c.blocksWritten += 1; c.blockBytes += bytes
      }
    }
    drainQueue(planRecs) { r =>
      owner(r.startMs).foreach { id =>
        val c = counter(id)
        c.analysisMs += r.analysisMs; c.optimizationMs += r.optimizationMs
        c.planningMs += r.planningMs; c.exchanges += r.shape.exchanges
        c.scans += r.shape.scans; c.filesWritten += r.shape.files
        planOf.merge(id, (r.startMs, r.endMs),
          (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
      }
    }
  }

  private def drainQueue[A](q: java.util.Queue[A])(f: A => Unit): Unit = {
    var x = q.poll()
    while (x != null) { f(x); x = q.poll() }
  }

  private def work(stage: Int): Counters =
    stageWork.computeIfAbsent(stage, _ => new Counters)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      jobStart.put(e.jobId, (e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStart.remove(e.jobId)).foreach { case (t0, stages) =>
        jobsDone.add(JobRec(e.jobId, t0, e.time, stages))
      }
      ended.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = work(e.stageInfo.stageId)
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = work(e.stageId)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        if (m != null) {
          c.taskBusyMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      // cached or checkpointed RDD blocks (localCheckpoint, persist)
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        blocks.add((System.currentTimeMillis(), b.memSize + b.diskSize))
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(k: String) =
        phases.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      if (phases.nonEmpty) planRecs.add(PlanRec(
        phases.values.map(_.startTimeMs).min,
        phases.values.map(_.endTimeMs).max,
        ms("analysis"), ms("optimization"), ms("planning"),
        PlanShape(qe.executedPlan)))
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spanList.sortBy(_.startNs).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - baseNs) / 1e6, "end_ms" -> (s.endNs - baseNs) / 1e6)
        ++ s.attrs.toSeq))
      w.write("\n")
    } finally w.close()
  }
}

object Tracer {
  private final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Seq[Int])

  /** One planned query: tracker phase bounds and durations, plan shape. */
  private final case class PlanRec(startMs: Long, endMs: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long, shape: PlanShape)
}

/** Exchange, file-scan and written-file counts of a physical plan,
  * looking through adaptive query stages and subqueries.
  */
final case class PlanShape(exchanges: Long, scans: Long, files: Long)

object PlanShape extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): PlanShape = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    PlanShape(
      nodes.count(p => p.isInstanceOf[ShuffleExchangeLike] ||
        p.isInstanceOf[BroadcastExchangeLike]).toLong,
      nodes.count(p => p.isInstanceOf[DataSourceScanExec] ||
        p.isInstanceOf[BatchScanExec]).toLong,
      nodes.collect { case w: DataWritingCommandExec => w }
        .flatMap(_.metrics.get("numFiles")).map(_.value).sum)
  }
}

/** Micro-batch progress of every streaming query, in arrival order, with
  * the harness clock reading at delivery.
  */
final class ProgressLog extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add((System.nanoTime(), e.progress))
  def of(id: java.util.UUID): Seq[(Long, StreamingQueryProgress)] =
    events.asScala.filter(_._2.id == id).toSeq
}

/** Minimal JSON writer for the harness's result files. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
