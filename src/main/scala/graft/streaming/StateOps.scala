package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Record-at-a-time keyed-state operators — the streaming renderings of
  * the reference's "state programming" trio (SURVEY.md §2.5), built on
  * `flatMapGroupsWithState`. Each is a pure function over a typed Dataset
  * so the same code runs in batch (per-key iterator) and streaming
  * (per-micro-batch increments + GroupState), and the specs assert
  * agreement with the declarative batch oracles in graft.queries.Stateful.
  *
  * Scale: state is per-key and O(1) per key (a boolean / a date / one
  * pending event); keys are hash-partitioned by groupByKey — the same
  * layout Flink's keyBy gives the reference.
  */
object StateOps {

  /** UTC day formatter for uvDedup — hoisted to the object (accessed as a
    * JVM static from executor closures, so never serialized per key
    * group); DateTimeFormatter is immutable/thread-safe, unlike the
    * SimpleDateFormat it replaces. */
  private val dayFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd").withZone(java.time.ZoneOffset.UTC)

  case class Visit(mid: String, ts: Long, isNew: String, lastPageId: Option[String],
                   eventId: Long = 0L, payload: String = "")
  case class VisitOut(mid: String, ts: Long, isNew: String, eventId: Long,
                      payload: String = "")

  /** A visit carrying its full original payload (for pipelines that
    * correct a flag but must forward the whole record, like the log
    * fan-out). */
  case class TaggedVisit(mid: String, ts: Long, isNew: String, payload: String)

  /** ST1 over payload-carrying records: rewrites the claimed-new flag on
    * every record after the mid's first, forwarding the payload untouched
    * otherwise. Cross-batch state like the reference's ValueState. */
  def fixIsNewTagged(visits: Dataset[TaggedVisit]): Dataset[TaggedVisit] = {
    import visits.sparkSession.implicits._
    visits.groupByKey(_.mid).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (mid: String, rows: Iterator[TaggedVisit], state: GroupState[Boolean]) => {
        // tie-break on the payload HASH first so same-ts comparisons don't
        // walk two full payload strings; the payload itself only breaks
        // the (rare) hash collision, keeping the order total+deterministic
        val sorted = rows.toSeq.sortBy(v => (v.ts, v.payload.##, v.payload))
        var seen = state.getOption.getOrElse(false)
        val out = sorted.map { v =>
          val corrected =
            if (v.isNew == "1" && seen) v.copy(isNew = "0") else v
          seen = true
          corrected
        }
        state.update(seen)
        out.iterator
      })
  }

  /** ST2 (UniqueVisitApp.java:45-87): keep only the first visit of each
    * (mid, day); state = last emitted visit date. The dedup semantic is
    * the stored-date comparison alone; the reference's 24h
    * OnCreateAndWrite TTL (UniqueVisitApp.java:55-59) only bounds state
    * size, and a timeout would make Spark re-trigger empty batches on
    * every timer, so the state has none. */
  def uvDedup(visits: Dataset[Visit], sessionEntryOnly: Boolean = false): Dataset[VisitOut] = {
    import visits.sparkSession.implicits._
    visits.groupByKey(_.mid).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (mid: String, rows: Iterator[Visit], state: GroupState[String]) => {
        val sorted = rows.toSeq.sortBy(v => (v.ts, v.eventId))
          .filter(v => !sessionEntryOnly || v.lastPageId.isEmpty)
        val out = scala.collection.mutable.ArrayBuffer.empty[VisitOut]
        var lastDate = state.getOption.getOrElse("")
        sorted.foreach { v =>
          val d = dayFmt.format(java.time.Instant.ofEpochMilli(v.ts))
          if (d != lastDate) {
            out += VisitOut(mid, v.ts, v.isNew, v.eventId, v.payload); lastDate = d
          }
        }
        state.update(lastDate)
        out.iterator
      })
  }

  case class BounceState(pendingTs: Long, pendingEventId: Long, payload: String = "")
  case class Bounce(mid: String, ts: Long, eventId: Long, payload: String = "")

  /** The pure per-key bounce state machine: folds a ts-sorted slice of
    * one key's events over an optional carried-in pending session entry;
    * returns (bounces emitted, pending left for the timeout timer).
    * Shared by the streaming closure and the property tests. */
  def bounceStep(mid: String, sorted: Seq[Visit], carried: Option[BounceState],
                 gapMs: Long): (Seq[Bounce], Option[BounceState]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Bounce]
    var pending = carried
    sorted.foreach { v =>
      val isStart = v.lastPageId.isEmpty
      pending match {
        case Some(p) if v.ts - p.pendingTs >= gapMs =>
          // silence elapsed before this event: pending bounced
          out += Bounce(mid, p.pendingTs, p.pendingEventId, p.payload)
          pending = if (isStart) Some(BounceState(v.ts, v.eventId, v.payload)) else None
        case Some(p) if isStart =>
          // second session entry within the gap: CEP match branch
          out += Bounce(mid, p.pendingTs, p.pendingEventId, p.payload)
          pending = Some(BounceState(v.ts, v.eventId, v.payload))
        case Some(_) =>
          // normal page within the gap: not a bounce
          pending = None
        case None =>
          if (isStart) pending = Some(BounceState(v.ts, v.eventId, v.payload))
      }
    }
    (out.toSeq, pending)
  }

  /** ST3 (UserJumpDetailApp.java:70-120, Flink CEP): emit every session
    * entry NOT followed by another page within `gapMs`. CEP's two output
    * branches (match on a second session entry; timeout on silence) both
    * emit the first event — reproduced with one pending-event state and an
    * event-time timeout driven by the watermark.
    *
    * sessionStart = lastPageId.isEmpty (the reference's predicate). A
    * normal page within the gap cancels the pending entry; a session
    * start always becomes the new pending entry (emitting its
    * predecessor if the gap had already elapsed or it is itself a session
    * start within the gap — both CEP branches).
    */
  def bounceDetect(visits: Dataset[Visit], gapMs: Long = 10000L,
                   watermarkDelay: String = "0 seconds"): Dataset[Bounce] = {
    import visits.sparkSession.implicits._
    // EventTimeTimeout needs an event-time watermark; attach it from ts.
    // In batch execution withWatermark is a no-op.
    val streaming = visits.isStreaming
    val withTime =
      if (streaming)
        visits.withColumn("event_time", timestamp_millis(col("ts")))
          .withWatermark("event_time", watermarkDelay).as[Visit]
      else visits
    withTime.groupByKey(_.mid).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (mid: String, rows: Iterator[Visit], state: GroupState[BounceState]) => {
        if (state.hasTimedOut) {
          val fired = state.getOption.toSeq
            .map(p => Bounce(mid, p.pendingTs, p.pendingEventId, p.payload))
          state.remove()
          fired.iterator
        } else {
          val sorted = rows.toSeq.sortBy(v => (v.ts, v.eventId))
          val (out, pending) = bounceStep(mid, sorted, state.getOption, gapMs)
          pending match {
            case Some(p) if streaming =>
              state.update(p)
              // timeout must sit above the current watermark (late pendings
              // fire on the next batch instead of throwing)
              val wm = try state.getCurrentWatermarkMs() catch { case _: Throwable => 0L }
              state.setTimeoutTimestamp(math.max(p.pendingTs + gapMs, wm + 1))
            case _ => state.remove()
          }
          (pending match {
            // batch execution: timers never fire, and the group is the
            // COMPLETE history — the trailing pending has timed out by
            // definition, so flush it here (matches st3Bounce's
            // next_ts-IS-NULL branch)
            case Some(p) if !streaming =>
              out :+ Bounce(mid, p.pendingTs, p.pendingEventId, p.payload)
            case _ => out
          }).iterator
        }
      })
  }

  /** Bounce state when the session-entry marker must be DERIVED inside
    * the machine (the events fixture has no last_page_id column): the
    * previous event's ts rides along so "no predecessor within
    * `sessionGapMs`" is computable across micro-batch boundaries. */
  case class DerivedBounceState(lastTs: Long, pendingTs: Long,
                                pendingEventId: Long, hasPending: Boolean)

  /** ST3 variant for sources without an explicit session-entry marker:
    * the machine itself tags each event as a session start ("no previous
    * event of this key within `sessionGapMs`", state-carried across
    * batches) and then runs the same `bounceStep` CEP fold — a session
    * start NOT followed by another event within `gapMs` is a bounce,
    * emitted either when a later event proves the gap elapsed or when
    * the event-time TIMER fires (watermark passes pendingTs+gapMs).
    * All comparisons in epoch-ms (Visit.ts) — the matching oracle is
    * written in epoch_ms terms too, so the gate is exact by definition
    * rather than by fixture luck.
    *
    * Cross-batch correctness needs each key's events delivered in
    * non-decreasing time order ACROSS batches (within a batch the
    * closure sorts); `StreamGate.eventsFileStream(splitParts=n)` cuts
    * the corpus into time-range parts to guarantee exactly that, and a
    * watermark ≤ every future event's ts means a timer can never fire
    * ahead of a cancel-event still in flight. State is O(1) per key and
    * is kept (un-armed) after a timer fires so lastTs survives; a
    * production run would bound idle keys with a state TTL. */
  def bounceDetectDerived(visits: Dataset[Visit], gapMs: Long = 10000L,
                          sessionGapMs: Long = 1800000L,
                          watermarkDelay: String = "0 seconds"): Dataset[Bounce] = {
    import visits.sparkSession.implicits._
    val streaming = visits.isStreaming
    val withTime =
      if (streaming)
        visits.withColumn("event_time", timestamp_millis(col("ts")))
          .withWatermark("event_time", watermarkDelay).as[Visit]
      else visits
    withTime.groupByKey(_.mid).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (mid: String, rows: Iterator[Visit], state: GroupState[DerivedBounceState]) => {
        if (state.hasTimedOut) {
          val st = state.get
          val fired =
            if (st.hasPending) Seq(Bounce(mid, st.pendingTs, st.pendingEventId)) else Nil
          state.update(st.copy(hasPending = false))
          fired.iterator
        } else {
          val sorted = rows.toSeq.sortBy(v => (v.ts, v.eventId))
          val st0 = state.getOption
          var lastTs = st0.map(_.lastTs).getOrElse(Long.MinValue)
          val carried = st0.filter(_.hasPending)
            .map(s => BounceState(s.pendingTs, s.pendingEventId))
          val tagged = sorted.map { v =>
            val isStart = lastTs == Long.MinValue || v.ts - lastTs > sessionGapMs
            lastTs = v.ts
            v.copy(lastPageId = if (isStart) None else Some("page"))
          }
          val (out, pending) = bounceStep(mid, tagged, carried, gapMs)
          if (streaming) {
            pending match {
              case Some(p) =>
                state.update(DerivedBounceState(lastTs, p.pendingTs, p.pendingEventId,
                  hasPending = true))
                // timeout must sit above the current watermark (late
                // pendings fire on the next batch instead of throwing)
                val wm = try state.getCurrentWatermarkMs() catch { case _: Throwable => 0L }
                state.setTimeoutTimestamp(math.max(p.pendingTs + gapMs, wm + 1))
              case None =>
                state.update(DerivedBounceState(lastTs, 0L, 0L, hasPending = false))
            }
            out.iterator
          } else {
            // batch execution: the group is the COMPLETE history — the
            // trailing pending has timed out by definition, flush it here
            state.remove()
            (pending match {
              case Some(p) => out :+ Bounce(mid, p.pendingTs, p.pendingEventId)
              case None => out
            }).iterator
          }
        }
      })
  }

  /** DataFrame adapter: events table -> Visit dataset. user_id plays
    * mid; the session-entry marker (lastPageId == null) is derived here
    * as "no predecessor within 30 min" — the same rule the batch oracle
    * queries use. */
  def visitsFromEvents(spark: SparkSession, events: DataFrame): Dataset[Visit] = {
    import spark.implicits._
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .select(
        col("user_id").cast("string").as("mid"),
        unix_millis(col("ts")).as("ts"),
        lit("1").as("isNew"),
        when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") > 1800L,
          lit(null: String)).otherwise(lit("page")).as("lastPageId"),
        col("event_id").as("eventId"),
        lit("").as("payload")).as[Visit]
  }
}
