package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.apps.{OrderEvent, ReceiptEvent, StreamingApps}
import graft.operators.Freq
import graft.streaming.{Cep, StreamOps}

/** One input event of the stream pipelines. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** The `stream_apps` workload: five of the reference's case-study
  * streams, each built by graft's stream builders over MemoryStream
  * sources the harness feeds.
  */
object Streams {
  val pipelines: Seq[String] =
    Seq("windowed_agg", "running_agg", "cep_login_fail", "tx_match", "top_hitters")

  /** The pipelines timed in open loop: the watermarked window and the
    * event-time NFA. A micro-batch takes 0.5-2 s here, so splitting the
    * measuring time five ways left 2-5 batches per pipeline, too few for
    * a percentile that repeats; two pipelines get about ten each.
    */
  val openPipelines: Seq[String] = Seq("windowed_agg", "cep_login_fail")

  /** Event-time settings of one run. The closed loop replays the
    * generated month of events, so it uses hours; the open loop stamps
    * events with their creation time, so it uses seconds.
    */
  final case class Times(window: String, delay: String, withinMs: Long,
      receiptLagMs: Long)
  val closedTimes = Times("1 hour", "2 hours", 3L * 86400 * 1000, 1000L)
  val openTimes = Times("1 second", "1 second", 2000L, 100L)

  val hitterCapacity = 16

  /** Closed loop: micro-batches the events are fed in. */
  val chunks = 1
  /** Open loop: generator tick, and the most a planted late event is
    * stamped behind its due time.
    */
  val tickMs = 20L
  val openLateMs = 2000.0

  /** A started pipeline: its query, and how to feed it a chunk of events
    * (returning the MemoryStream offset the chunk ends at).
    */
  final class Running(val query: StreamingQuery, val feed: Seq[Ev] => Long)

  def start(spark: SparkSession, name: String, t: Times, work: String,
      tag: String): Running = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = s"pb_${tag}_$name"
    def memory(ds: Dataset[_], mode: String) =
      ds.writeStream.format("memory").queryName(sink).outputMode(mode).start()
    name match {
      case "windowed_agg" =>
        val ms = MemoryStream[Ev]
        val out = StreamOps.windowedAgg(ms.toDF(), "ts", t.delay, t.window,
          None, Seq(col("event_type")),
          Seq(count(lit(1)).as("n"), sum(col("value")).as("total")))
        new Running(memory(out, "append"), evs => offset(ms.addData(evs)))
      case "running_agg" =>
        val ms = MemoryStream[Ev]
        val out = StreamOps.runningAggregateWithTtl(ms.toDS())(
          e => e.user_id.toString, 0.0, (acc: Double, e: Ev) => acc + e.value,
          ttlMs = 0L).map(kv => (kv.key, kv.value)).toDF("key", "total")
        new Running(memory(out, "update"), evs => offset(ms.addData(evs)))
      case "cep_login_fail" =>
        val ms = MemoryStream[Ev]
        val withWm = ms.toDS().withWatermark("ts", t.delay).as[Ev]
        val out = Cep.detectStream(withWm)(_.user_id.toString, _.ts.getTime,
          loginFail(t.withinMs))
          .map(r => (r.key, r.kind, r.events.map(_.event_id).mkString(",")))
          .toDF("key", "kind", "ids")
        new Running(memory(out, "append"), evs => offset(ms.addData(evs)))
      case "tx_match" =>
        val msP = MemoryStream[OrderEvent]
        val msR = MemoryStream[ReceiptEvent]
        val out = StreamingApps.txMatchStream(msP.toDS(), msR.toDS(),
          payWaitMs = 5000L, receiptWaitMs = 3000L, wmDelay = t.delay)
        val q = memory(out, "append")
        new Running(q, evs => {
          msR.addData(evs.filter(_.event_id % 5 != 0).map(receipt(_, t.receiptLagMs)))
          offset(msP.addData(evs.map(pay)))
        })
      case "top_hitters" =>
        val ms = MemoryStream[Ev]
        val src = ms.toDF().select(col("user_id").cast("string").as("item"))
        val q = Freq.maintainTopHitters(src, "item", hitterCapacity,
            s"$work/$tag/store", s"$work/$tag/ledger")
          .option("checkpointLocation", s"$work/$tag/ckpt").start()
        new Running(q, evs => offset(ms.addData(evs)))
    }
  }

  def loginFail(withinMs: Long): Cep.Pattern[Ev] =
    Cep.Pattern.begin[Ev]("fail")(_.event_type == "error").times(3).within(withinMs)

  def pay(e: Ev): OrderEvent = OrderEvent(e.event_id, "pay", s"tx${e.event_id}", e.ts)
  def receipt(e: Ev, lagMs: Long): ReceiptEvent =
    ReceiptEvent(s"tx${e.event_id}", s"chan${e.event_id % 3}",
      new Timestamp(e.ts.getTime + lagMs))

  /** Pipelines whose output waits on the watermark. */
  val eventTimed: Set[String] = Set("windowed_agg", "cep_login_fail", "tx_match")

  private def offset(o: Any): Long = o.toString.trim.toLong

  /** A far-future event that advances every watermark past the data, so
    * windows close and event-time timeouts fire before the sink is read.
    */
  def flushEvent(events: Seq[Ev]): Ev = {
    val tmax = events.map(_.ts.getTime).max
    Ev(-1L, new Timestamp(tmax + 30L * 86400 * 1000), -1L, "flush", 0.0)
  }

  /** One closed-loop run: total and query-start seconds, query id. */
  final case class Drained(seconds: Double, startS: Double, queryId: java.util.UUID)

  /** Closed loop: start `name`, feed `events` in `chunks` micro-batches,
    * waiting for each, flush, stop.
    */
  def drain(spark: SparkSession, name: String, events: Seq[Ev],
      work: String, tag: String): Drained = {
    val t0 = System.nanoTime()
    val r = start(spark, name, closedTimes, work, tag)
    val t1 = System.nanoTime()
    try {
      val size = math.max(1, math.ceil(events.size.toDouble / chunks).toInt)
      events.grouped(size).foreach { c => r.feed(c); r.query.processAllAvailable() }
      if (eventTimed(name)) {
        // a second trigger lets the advanced watermark close windows and
        // fire timeouts (the first one only raised it)
        r.feed(Seq(flushEvent(events))); r.query.processAllAvailable()
        r.feed(Seq(flushEvent(events).copy(event_id = -2L))); r.query.processAllAvailable()
      }
    } finally r.query.stop()
    Drained((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9, r.query.id)
  }

  /** The closed-loop sink of `name` after [[drain]], checked against a
    * batch recomputation over the same events. Returns an error message
    * or None.
    */
  def check(spark: SparkSession, name: String, events: Seq[Ev], work: String,
      tag: String): Option[String] = {
    import spark.implicits._
    val sink = s"pb_${tag}_$name"
    val evs = events.toDS()
    def diff(got: DataFrame, exp: DataFrame): Option[String] = {
      val g = got.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val e = exp.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      if (g == e) None
      else Some(s"$name: ${g.size} rows vs ${e.size} expected; first diff " +
        (g.diff(e).headOption, e.diff(g).headOption))
    }
    name match {
      case "windowed_agg" =>
        diff(spark.table(sink).filter($"event_type" =!= "flush")
            .select($"window.start".as("w"), $"event_type", $"n",
              round($"total", 6).as("total")),
          evs.groupBy(window($"ts", closedTimes.window).getField("start").as("w"), $"event_type")
            .agg(count(lit(1)).as("n"), round(sum($"value"), 6).as("total")))
      case "running_agg" =>
        // update mode: the last emitted value per key is its final total
        val last = spark.table(sink).filter($"key" =!= "-1").as[(String, Double)]
          .collect().foldLeft(Map.empty[String, Double])(_ + _)
        val exp = evs.groupBy($"user_id".cast("string")).agg(sum($"value"))
          .as[(String, Double)].collect().toMap
        val bad = exp.filter { case (k, v) =>
          last.get(k).forall(g => math.abs(g - v) > 1e-6 * math.max(1.0, math.abs(v)))
        }
        if (bad.isEmpty && last.size == exp.size) None
        else Some(s"running_agg: ${bad.size} keys differ, ${last.size} vs ${exp.size} keys")
      case "cep_login_fail" =>
        val batch = Cep.detectBatch(evs)(_.user_id.toString, _.ts.getTime,
            loginFail(closedTimes.withinMs))
          .map(r => (r.key, r.kind, r.events.map(_.event_id).mkString(",")))
          .toDF("key", "kind", "ids")
        diff(spark.table(sink), batch)
      case "tx_match" =>
        // every pay with a receipt matches; every fifth pay has none
        val got = spark.table(sink).filter(!$"txId".startsWith("tx-"))
          .groupBy($"kind").count()
        val exp = evs.select(
            when($"event_id" % 5 === 0, "unmatched-pay").otherwise("matched").as("kind"))
          .groupBy($"kind").count()
        diff(got, exp)
      case "top_hitters" =>
        // Misra-Gries guarantee: est <= true, true - est <= N/(k+1), and
        // every item above N/(k+1) is in the store
        val n = events.size.toDouble
        val eps = n / (hitterCapacity + 1)
        val store = spark.read.parquet(s"$work/$tag/store")
          .filter($"item" =!= "-1").select($"item", $"est".cast("long"))
          .as[(String, Long)].collect().toMap
        val truth = evs.groupBy($"user_id".cast("string")).count()
          .as[(String, Long)].collect().toMap
        val wrong = truth.filter { case (k, c) =>
          val est = store.getOrElse(k, 0L)
          est > c || c - est > eps || (c > eps && !store.contains(k))
        }
        if (wrong.isEmpty) None
        else Some(s"top_hitters: ${wrong.size} items break the MG bound, e.g. ${wrong.head}")
    }
  }

  /** Open-loop result of one pipeline, over its measured window. */
  final case class Open(name: String, latenciesMs: Array[Double], generated: Long,
      consumedAtStop: Long, queryId: java.util.UUID, measuredFromMs: Long)

  /** Start `names` and run one micro-batch of a single event through
    * each, so query start-up is over before the open loop measures.
    */
  private def startWarm(spark: SparkSession, names: Seq[String], first: Ev,
      work: String, tag: String): Seq[Running] =
    names.map { n =>
      val r = start(spark, n, openTimes, work, s"${tag}_$n")
      r.feed(Seq(first.copy(event_id = -1L,
        ts = new Timestamp(System.currentTimeMillis()))))
      r.query.processAllAvailable()
      r
    }

  /** Open loop: the named pipelines run at once (the workload passes one
    * at a time), fed by one generator thread that appends `rate` events/s
    * to each in ticks of `tickMs` for
    * `seconds`, whether or not graft keeps up. Each event is
    * stamped with its due time (minus its planted lateness); its latency
    * is the completion of the micro-batch that consumed it minus that due
    * time, taken from the batch's own progress report. The pipelines are
    * started and warmed first ([[startWarm]]). Returns the per-pipeline
    * results and the generator's lateness per tick (ms).
    */
  def openLoop(spark: SparkSession, names: Seq[String], template: IndexedSeq[Ev],
      lateMs: IndexedSeq[Long], rate: Double, seconds: Double, work: String,
      tag: String, progress: ProgressLog): (Seq[Open], Array[Double]) = {
    val running = startWarm(spark, names, template.head, work, tag)
    val warmRows = running.map(r => consumed(progress, r.query.id))
    // per pipeline: (due ns, end offset, rows) of each measured tick
    val ticks = names.map(_ => mutable.ArrayBuffer.empty[(Long, Long, Int)])
    val late = mutable.ArrayBuffer.empty[Double]
    val perTick = rate * tickMs / 1000.0
    val nTicks = math.max(1, (seconds * 1000 / tickMs).toInt)
    val wallBase = System.currentTimeMillis()
    val nsBase = System.nanoTime()
    var sent = 0L
    val gen = new Thread(() => {
      var owed = 0.0
      var i = 0
      while (i < nTicks) {
        val due = nsBase + i * tickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        late += (System.nanoTime() - due) / 1e6
        owed += perTick
        val k = owed.toInt
        owed -= k
        if (k > 0) {
          val dueMs = wallBase + i * tickMs
          val evs = (0 until k).map { j =>
            val idx = ((sent + j) % template.size).toInt
            template(idx).copy(event_id = sent + j,
              ts = new Timestamp(dueMs - lateMs(idx)))
          }
          running.zip(ticks).foreach { case (r, t) =>
            t += ((due, r.feed(evs), k))
          }
          sent += k
        }
        i += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val atStop = running.map(r => consumed(progress, r.query.id))
    running.foreach(_.query.processAllAvailable())
    running.foreach(_.query.stop())
    val opens = names.indices.map { i =>
      val q = running(i).query
      // batch completion times (ns on the harness clock) by end offset
      val done = progress.of(q.id).flatMap { case (_, p) =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        p.sources.headOption.flatMap(s => Option(s.endOffset)).filter(_ != "null")
          .map(o => (o.trim.toLong, nsBase + (start + dur - wallBase) * 1000000L))
      }.sortBy(_._1)
      val lat = mutable.ArrayBuffer.empty[Double]
      ticks(i).foreach { case (due, off, k) =>
        // the first batch whose end offset covers this tick consumed it
        done.find(_._1 >= off).foreach { case (_, at) =>
          val ms = (at - due) / 1e6
          (0 until k).foreach(_ => lat += ms)
        }
      }
      Open(names(i), lat.toArray, sent, atStop(i) - warmRows(i), q.id, wallBase)
    }
    (opens, late.toArray)
  }

  /** Rows the query has consumed, per its published progress. */
  private def consumed(progress: ProgressLog, id: java.util.UUID): Long =
    progress.of(id).map(_._2.numInputRows).sum
}
