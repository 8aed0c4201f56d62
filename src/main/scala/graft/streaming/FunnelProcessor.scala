package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** One keyed behavioral event entering the funnel matcher. `event_us`
  * carries exact integer microseconds (the event-time column is ms-
  * truncated `java.sql.Timestamp` inside a case class, and the batch
  * twin q95 computes `funnel_us` in µs — so the µs value rides along
  * explicitly instead of being re-derived lossily). */
final case class FunnelEvent(user_id: Long, event_time: java.sql.Timestamp,
    event_us: Long, event_type: String, event_id: Long)

/** The per-user funnel position: emitted whenever it advances. */
final case class FunnelSnapshot(user_id: Long, viewed: Boolean,
    clicked: Boolean, purchased: Boolean, funnel_us: Long)

private final case class FunnelSt(stage: Int, t1: Long, t2: Long, t3: Long,
    emitted: Boolean)

/** Streaming ordered-funnel matcher (view → click → purchase), the
  * MATCH_RECOGNIZE/CEP-class operator: a per-key state machine that
  * advances on the FIRST view, the first click strictly after it, and
  * the first purchase strictly after that — exactly the batch q95
  * semantics (`ops/Temporal`), which the parity spec replays.
  *
  * Two phases, because a funnel stage depends on event order (unlike a
  * window sum): out-of-order events buffer in a watermark-bounded
  * ListState, then fold in (event-time, event_id) order once ripe, so
  * arrival order never changes the match. State per key beyond the pending buffer is O(1)
  * (stage + three timestamps) — the property that holds at 100 M keys.
  * A snapshot is emitted when the key first appears and whenever the
  * stage advances; the latest snapshot per key is the funnel table.
  */
class FunnelProcessor
    extends StatefulProcessor[Long, FunnelEvent, FunnelSnapshot] {

  @transient private var pending: ListState[FunnelEvent] = _
  @transient private var st: ValueState[FunnelSt] = _
  @transient private var armedTimer: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    pending = getHandle.getListState("pending",
      Encoders.product[FunnelEvent], TTLConfig.NONE)
    st = getHandle.getValueState("st", Encoders.product[FunnelSt], TTLConfig.NONE)
    armedTimer = getHandle.getValueState("armedTimer", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
      timerValues: TimerValues): Iterator[FunnelSnapshot] = {
    rows.foreach(pending.appendValue)
    drainAndRearm(key, timerValues.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelSnapshot] =
    drainAndRearm(key, timerValues.getCurrentWatermarkInMs())

  private def drainAndRearm(key: Long, wm: Long): Iterator[FunnelSnapshot] = {
    val out = drain(key, wm)
    // keep a single event-time timer at the earliest still-buffered
    // event so progress continues on watermark advance alone
    val prev = if (armedTimer.exists()) Some(armedTimer.get()) else None
    pending.get().map(_.event_time.getTime).minOption match {
      case Some(t0) =>
        val t = math.max(t0, wm + 1)
        if (!prev.contains(t)) {
          prev.filter(_ > wm).foreach(getHandle.deleteTimer)
          getHandle.registerTimer(t)
          armedTimer.update(t)
        }
      case None =>
        prev.filter(_ > wm).foreach(getHandle.deleteTimer)
        armedTimer.clear()
    }
    out.iterator
  }

  private def drain(key: Long, wm: Long): Seq[FunnelSnapshot] = {
    val all = pending.get().toSeq
    val (ripe, wait) = all.partition(_.event_time.getTime <= wm)
    if (ripe.isEmpty) return Nil
    pending.clear()
    if (wait.nonEmpty) pending.appendList(wait.toArray)

    var s = Option(st.get()).getOrElse(FunnelSt(0, -1L, -1L, -1L, emitted = false))
    val before = s.stage
    ripe.sortBy(e => (e.event_us, e.event_id)).foreach { e =>
      s = (s.stage, e.event_type) match {
        case (0, "view") => s.copy(stage = 1, t1 = e.event_us)
        case (1, "click") if e.event_us > s.t1 => s.copy(stage = 2, t2 = e.event_us)
        case (2, "purchase") if e.event_us > s.t2 => s.copy(stage = 3, t3 = e.event_us)
        case _ => s
      }
    }
    val mustEmit = !s.emitted || s.stage != before
    s = s.copy(emitted = true)
    st.update(s)
    if (mustEmit)
      Seq(FunnelSnapshot(key, s.stage >= 1, s.stage >= 2, s.stage >= 3,
        if (s.stage == 3) s.t3 - s.t1 else -1L))
    else Nil
  }
}

/** Composition helper: events stream → watermark → funnel matcher. */
object StreamingFunnel {
  def funnel(events: DataFrame, watermarkDelay: String): Dataset[FunnelSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"), col("event_time"),
        col("event_us").cast("long").as("event_us"), col("event_type"),
        col("event_id").cast("long").as("event_id"))
      .withWatermark("event_time", watermarkDelay)
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(), TimeMode.EventTime(),
        OutputMode.Append(), Encoders.product[FunnelSnapshot])
  }
}
