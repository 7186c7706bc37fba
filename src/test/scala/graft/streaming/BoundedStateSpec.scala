package graft.streaming

import graft.SparkSpec
import graft.apps.{ApacheLogEvent, FunnelEvent, StreamingApps}
import graft.operators.Urls
import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Bounded state: a stateful operator's state must track its horizon
  * (watermark delay, CEP `within`, idle TTL) or its key space, never the
  * stream length. Each case streams `batches` micro-batches of `perBatch`
  * rows with event time advancing `stepMs` per batch, so the stream
  * outruns the horizon many times over, and samples the summed
  * `numRowsTotal` of the query's state operators after every batch.
  *
  * A case's bound counts the state one horizon can hold, plus the batch
  * being added and one batch of eviction lag (state leaves when the NEXT
  * watermark advance reaches it). Operators with a plateau test elsewhere
  * are not repeated: StreamDedup (StreamDedupSpec), txMatchStream and
  * adClickBlacklistStream (StreamingAppsSpec).
  */
class BoundedStateSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val batches = 12
  private val perBatch = 20
  private val stepMs = 60000L
  private val rows = batches.toLong * perBatch

  /** Event time of row `i` of batch `b`: spread evenly over the step. */
  private def ts(b: Int, i: Int) = new Timestamp(b * stepMs + i * (stepMs / perBatch))

  /** Batches an event-time horizon of `ms` spans, rounded up, plus the
    * batch being added and one batch of eviction lag.
    */
  private def live(ms: Long): Long = (ms + stepMs - 1) / stepMs + 2

  private def stateRows(q: StreamingQuery): Long =
    q.lastProgress.stateOperators.map(_.numRowsTotal).sum

  private def sink(ds: Dataset[_], name: String, mode: String = "append") =
    ds.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** State rows after each batch; `feed(b)` adds batch b to the sources. */
  private def trace(q: StreamingQuery)(feed: Int => Unit): Seq[Long] =
    try (0 until batches).map { b =>
      feed(b)
      q.processAllAvailable()
      stateRows(q)
    } finally q.stop()

  /** One operator: the state bound its horizon or key space allows, the
    * input rows the stream carries, and the per-batch state trajectory.
    */
  private case class Bounded(op: String, bound: Long, input: Long,
      run: () => Seq[Long])

  private val withinMs = 2 * stepMs
  private val windowMs = 10000L
  private val windowsPerBatch = stepMs / windowMs
  private val keys = 4
  private val ttlMs = 150L

  /** Batch `b` of readings over a `keys`-sized key space. */
  private def readings(b: Int) =
    (0 until perBatch).map(i => Reading(s"k${i % keys}", ts(b, i), 1.0))

  private val cases = Seq(
    // every user fails once: an open partial per user until the watermark
    // passes its first event + within
    Bounded("Cep.detectStream", perBatch * live(withinMs), rows, () => {
      val ms = MemoryStream[Login]
      val pat = Cep.Pattern.begin[Login]("fail")(_.eventType == "fail")
        .times(3).within(withinMs)
      val out = Cep.detectStream(
          ms.toDS().withWatermark("ts", "0 seconds").as[Login])(
          _.userId.toString, _.ts.getTime, pat)
        .map(_.key)
      trace(sink(out, "bs_cep"))(b => ms.addData((0 until perBatch).map(i =>
        Login(b * perBatch + i, "ip", "fail", ts(b, i)))))
    }),
    // view then click per user, never a purchase: a two-step partial per
    // user until it times out
    Bounded("StreamingApps.funnelStream", perBatch * live(withinMs), 2 * rows, () => {
      val ms = MemoryStream[FunnelEvent]
      val out = StreamingApps.funnelStream(
        ms.toDS().withWatermark("ts", "0 seconds").as[FunnelEvent], withinMs)
      trace(sink(out, "bs_funnel"))(b => ms.addData((0 until perBatch).flatMap { i =>
        val u = (b * perBatch + i).toLong
        Seq(FunnelEvent(u, "view", ts(b, i)),
          FunnelEvent(u, "click", new Timestamp(ts(b, i).getTime + 1000L)))
      }))
    }),
    // no idle timeout: one buffer per key, so the bound is the key space
    Bounded("CountWindows.tumblingStream", keys, rows, () => {
      val ms = MemoryStream[Reading]
      val out = CountWindows.tumblingStream(ms.toDS())(_.id, _.ts.getTime,
          size = 10)
        .map(w => (w.key, w.windowSeq))
      trace(sink(out, "bs_countwin"))(b => ms.addData(readings(b)))
    }),
    // each left row meets its right twin 1 s later; both sides buffer rows
    // until the watermark (10 s delay) passes the ±5 s interval
    Bounded("StreamJoins.intervalJoin", 2 * perBatch * live(15000L), 2 * rows, () => {
      val l = MemoryStream[LRow]
      val r = MemoryStream[RRow]
      val out = StreamJoins.intervalJoin(l.toDF(), r.toDF(), "lts", "rts",
        "lk", "rk", "INTERVAL 5 SECONDS", "INTERVAL 5 SECONDS", "10 seconds")
      trace(sink(out, "bs_ijoin")) { b =>
        val ids = (0 until perBatch).map(i => (i, s"u${b * perBatch + i}"))
        l.addData(ids.map { case (i, k) => LRow(ts(b, i), k, i) })
        r.addData(ids.map { case (i, k) =>
          RRow(new Timestamp(ts(b, i).getTime + 1000L), k, i) })
      }
    }),
    // state is keyed by window end: 10 s tumbling windows live until the
    // watermark (10 s lateness) passes their end
    Bounded("StreamingApps.networkFlowStream",
        windowsPerBatch * live(2 * windowMs), rows, () => {
      val ms = MemoryStream[ApacheLogEvent]
      val out = StreamingApps.networkFlowStream(ms.toDS(), topN = 3,
        sizeMs = windowMs, slideMs = windowMs, latenessMs = windowMs)
      trace(sink(out, "bs_netflow"))(b => ms.addData((0 until perBatch).map(i =>
        ApacheLogEvent(s"ip$i", s"$i", ts(b, i), "GET", s"/page/${i % 5}"))))
    }),
    // two spellings of each new page: one canonical entry per page until
    // the watermark, which lags one step, passes its time + one step
    Bounded("Urls.dedupStream", perBatch * live(2 * stepMs), 2 * rows, () => {
      val ms = MemoryStream[(Long, Timestamp, String)]
      val out = Urls.dedupStream(ms.toDF().toDF("id", "ts", "url"), "url", "ts",
          s"${stepMs / 1000} seconds")
        .select($"id", $"canon")
      trace(sink(out, "bs_urls"))(b => ms.addData((0 until perBatch).flatMap { i =>
        val id = (b * perBatch + i).toLong
        val page = s"src${id % 8}.example.com/Docs/Item-$id"
        Seq((2 * id, ts(b, i), s"https://WWW.$page?utm_source=s&id=$id"),
          (2 * id + 1, ts(b, i), s"https://$page?id=$id"))
      }))
    }),
    // one group per (window, key) until the watermark closes the window
    Bounded("StreamOps.windowedAgg",
        keys * windowsPerBatch * live(2 * windowMs), rows, () => {
      val ms = MemoryStream[Reading]
      val out = StreamOps.windowedAgg(ms.toDF(), "ts", "10 seconds",
        "10 seconds", None, Seq($"id"), Seq(count(lit(1)).as("n")))
      trace(sink(out, "bs_wagg"))(b => ms.addData(readings(b)))
    }),
    Bounded("StreamOps.streamingTopN",
        keys * windowsPerBatch * live(2 * windowMs), rows, () => {
      val ms = MemoryStream[Reading]
      val q = StreamOps.streamingTopN(ms.toDF(), "ts", "10 seconds",
        "10 seconds", "id", 3, (top, _) => { top.count(); () }).start()
      trace(q)(b => ms.addData(readings(b)))
    }),
    // fresh keys every batch, a batch every 3 TTLs: a key's state must
    // leave once it idles past the TTL. A processing-time timeout runs a
    // no-data batch on every trigger, so the query never idles and
    // processAllAvailable never returns: wait for the batch's commit.
    Bounded("StreamOps.runningAggregateWithTtl(ttlMs > 0)", 2 * perBatch, rows, () => {
      val ms = MemoryStream[KV]
      val out = StreamOps.runningAggregateWithTtl[KV, Long](ms.toDS())(
          _.k, 0L, (acc, e) => acc + e.v, ttlMs)
        .map(kv => (kv.key, kv.value))
      val q = sink(out, "bs_ttl", "update")
      try (0 until batches).map { b =>
        val off = ms.addData((0 until perBatch).map(i => KV(s"k${b * perBatch + i}", 1L)))
        while (Option(q.lastProgress).forall(_.sources.head.endOffset != off.json)) {
          assert(q.isActive, s"query stopped: ${q.exception}")
          Thread.sleep(10)
        }
        val n = stateRows(q)
        Thread.sleep(3 * ttlMs)
        n
      } finally q.stop()
    }))

  cases.foreach { c =>
    test(s"${c.op}: state stays within its horizon or key-space bound, not the stream length") {
      assert(3 * c.bound <= c.input,
        s"${c.input} input rows cannot outrun a bound of ${c.bound}")
      val traj = c.run()
      assert(traj.max > 0, s"${c.op} never held state: $traj")
      assert(traj.last <= c.bound,
        s"${c.op}: ${traj.last} state rows > bound ${c.bound}: $traj")
      assert(traj.last <= traj.take(batches / 2).max,
        s"${c.op}: state still growing in the second half: $traj")
    }
  }
}
