package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Count-based windows — the one window family Spark lacks natively
  * (reference java/.../window/CountWindowDemo.java:32 keyed count window;
  * CountWindowAllApplyDemo.java:32-55 global count window with in-window
  * sort; cn/ngt/day11/_06_GroupWindow_Count.java:40-50 Tumble/Slide over
  * rowInterval).
  *
  * Implementation tier (c) of the custom-operator ladder: a library
  * operator on flatMapGroupsWithState. State = the current partial bucket
  * (≤ size-1 elements per key); one shuffle on the key. A "window all"
  * (global) count window maps every record to one key — single-partition
  * by definition (same as the reference's parallelism-1 windowAll), so use
  * keyed windows at scale.
  */
object CountWindows {

  /** One fired count window. `windowSeq` increments per key from 0. */
  case class CountWindow[E](key: String, windowSeq: Long, events: Seq[E])

  /** Internal partial-bucket state (public: kryo-encoded in the state store). */
  case class Buf[E](seq: Long, items: List[E])

  /** Tumbling count window of `size` per key (fires every `size` records).
    *
    * Batch form: processes each key's full (ordered) sequence; emits all
    * complete windows, plus the trailing partial if `emitPartial`.
    */
  def tumblingBatch[E](ds: Dataset[E])(keyFn: E => String, orderBy: E => Long,
      size: Int, emitPartial: Boolean = false): Dataset[CountWindow[E]] = {
    implicit val oe: Encoder[CountWindow[E]] = Encoders.kryo[CountWindow[E]]
    implicit val se: Encoder[String] = Encoders.STRING
    ds.groupByKey(keyFn).flatMapGroups { (key, it) =>
      val sorted = it.toSeq.sortBy(orderBy)
      val full = sorted.grouped(size).zipWithIndex.flatMap { case (grp, i) =>
        if (grp.size == size || emitPartial) Some(CountWindow(key, i.toLong, grp))
        else None
      }
      full
    }
  }

  /** Streaming tumbling count window: buffers up to size-1 records per key
    * in state, fires a window as soon as the size-th record arrives.
    * Per-record firing order inside a micro-batch follows `orderBy`.
    * A partial window is never flushed: it waits for the key's next
    * records, so state is one bucket per key ever seen.
    */
  def tumblingStream[E](ds: Dataset[E])(keyFn: E => String, orderBy: E => Long,
      size: Int): Dataset[CountWindow[E]] = {
    implicit val oe: Encoder[CountWindow[E]] = Encoders.kryo[CountWindow[E]]
    implicit val be: Encoder[Buf[E]] = Encoders.kryo[Buf[E]]
    implicit val se: Encoder[String] = Encoders.STRING
    ds.groupByKey(keyFn).flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
      (key: String, it: Iterator[E], state: GroupState[Buf[E]]) =>
        var cur = state.getOption.getOrElse(Buf[E](0L, Nil))
        val fired = List.newBuilder[CountWindow[E]]
        it.toSeq.sortBy(orderBy).foreach { e =>
          val items = e :: cur.items
          if (items.length >= size) {
            fired += CountWindow(key, cur.seq, items.reverse)
            cur = Buf(cur.seq + 1, Nil)
          } else cur = cur.copy(items = items)
        }
        // Keep the (possibly empty) buffer: the seq counter must survive a
        // batch ending exactly on a window boundary, or the next batch
        // would restart windowSeq at 0 and emit duplicate (key, seq) ids.
        state.update(cur)
        fired.result().iterator
    }
  }

  /** Sliding count window (size, slide) per key — batch form (reference
    * Slide.over(rowInterval(10)).every(rowInterval(5))): a window fires at
    * every `slide`-th record containing the last `size` records (or fewer
    * at the head, matching Flink's early partial windows).
    */
  def slidingBatch[E](ds: Dataset[E])(keyFn: E => String, orderBy: E => Long,
      size: Int, slide: Int): Dataset[CountWindow[E]] = {
    implicit val oe: Encoder[CountWindow[E]] = Encoders.kryo[CountWindow[E]]
    implicit val se: Encoder[String] = Encoders.STRING
    ds.groupByKey(keyFn).flatMapGroups { (key, it) =>
      val sorted = it.toSeq.sortBy(orderBy).toIndexedSeq
      Iterator.range(0, sorted.length).filter(i => (i + 1) % slide == 0)
        .zipWithIndex.map { case (endIdx, w) =>
          val from = math.max(0, endIdx - size + 1)
          CountWindow(key, w.toLong, sorted.slice(from, endIdx + 1))
        }
    }
  }

  /** Ring buffer for the streaming slide: the last ≤ size-1 records
    * (newest first) + total record count + next window seq.
    */
  case class SlideBuf[E](count: Long, wseq: Long, items: List[E])

  /** Streaming sliding count window — the unbounded form of
    * [[slidingBatch]] (reference `Slide.over(rowInterval(size))
    * .every(rowInterval(slide))`, cn/ngt/day11/_06_GroupWindow_Count
    * .java:40-50): fires at every `slide`-th record per key with the last
    * `size` records (fewer at the head). State per key is the last
    * ≤ size-1 records plus two counters — bounded regardless of stream
    * length. Emissions agree exactly with [[slidingBatch]] on the same
    * input (spec'd), with per-batch arrival order resolved by `orderBy`.
    * State is kept for every key ever seen: nothing times it out.
    */
  def slidingStream[E](ds: Dataset[E])(keyFn: E => String, orderBy: E => Long,
      size: Int, slide: Int): Dataset[CountWindow[E]] = {
    implicit val oe: Encoder[CountWindow[E]] = Encoders.kryo[CountWindow[E]]
    implicit val be: Encoder[SlideBuf[E]] = Encoders.kryo[SlideBuf[E]]
    implicit val se: Encoder[String] = Encoders.STRING
    ds.groupByKey(keyFn).flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
      (key: String, it: Iterator[E], state: GroupState[SlideBuf[E]]) =>
        var cur = state.getOption.getOrElse(SlideBuf[E](0L, 0L, Nil))
        val fired = List.newBuilder[CountWindow[E]]
        it.toSeq.sortBy(orderBy).foreach { e =>
          val windowItems = (e :: cur.items).take(size) // newest first
          val cnt = cur.count + 1
          if (cnt % slide == 0) {
            fired += CountWindow(key, cur.wseq, windowItems.reverse)
            cur = SlideBuf(cnt, cur.wseq + 1, windowItems.take(size - 1))
          } else cur = SlideBuf(cnt, cur.wseq, windowItems.take(size - 1))
        }
        state.update(cur)
        fired.result().iterator
    }
  }
}
