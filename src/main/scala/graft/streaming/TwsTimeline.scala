package graft.streaming

import graft.queries.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import StreamRun.{drain, halves, replay, watch, writeDrop, RocksDb8, ShufflePartitions}

/** Per-user running timeline statistics on the `transformWithState`
  * arbitrary-state API (Spark 4's successor to
  * flatMapGroupsWithState, q102's operator): typed `ValueState`
  * backed by the RocksDB state store — the store that makes this
  * operator viable at scale, because state lives off-heap/on-disk
  * with changelog checkpointing instead of filling executor heaps.
  *
  * The processor keeps (first, last, n, max_gap, sum_cents) per user
  * and folds each micro-batch's rows in (ts, id) order on top of it.
  * Gap tracking is ORDER-SENSITIVE across batches, so the harness
  * replays the events table as two scratch drops split at a fixed
  * time boundary (all rows of drop 1 precede all rows of drop 2) —
  * the state genuinely carries across micro-batches, yet the final
  * fold provably equals the batch lag()-window the oracle runs. The
  * last emission per user (largest n) is the drained answer.
  */
object TwsTimeline {

  /** (first_ns, last_ns, n, max_gap_ns, sum_c) carried per user. */
  final case class TimelineState(first: Long, last: Long, n: Long,
      maxGap: Long, sumC: Long)
  final case class TimelineOut(user_id: Long, n_events: Long, first_ns: Long,
      last_ns: Long, max_gap_ns: Long, sum_c: Long)

  /** Input rows: (user_id, ts_ns, event_id, value_c). */
  final class TimelineProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Long), TimelineOut] {
    @transient private var state: ValueState[TimelineState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TimelineState]("timeline",
        Encoders.product[TimelineState], TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timers: TimerValues): Iterator[TimelineOut] = {
      // sources deliver a batch's rows unordered; the fold order is
      // part of the semantics, so pin it (ts, id) — the same order
      // the oracle's lag() window uses
      val sorted = rows.toArray.sortBy(r => (r._2, r._3))
      var s = if (state.exists()) state.get()
        else TimelineState(Long.MaxValue, Long.MinValue, 0L, 0L, 0L)
      sorted.foreach { case (_, ts, _, c) =>
        val gap = if (s.n == 0) 0L else ts - s.last
        s = TimelineState(math.min(s.first, ts), math.max(s.last, ts),
          s.n + 1, math.max(s.maxGap, gap), s.sumC + c)
      }
      state.update(s)
      Iterator.single(TimelineOut(user, s.n, s.first, s.last, s.maxGap, s.sumC))
    }
  }

  final case class TwsSessionState(startNs: Long, lastNs: Long, n: Long,
      sumC: Long)
  final case class TwsSessionOut(user_id: Long, start_ns: Long, end_ns: Long,
      n_events: Long, sum_c: Long)

  /** EVENT-TIME TIMER sessionization (round-11 verdict task 5): the
    * StatefulProcessor timer surface — registerTimer + the
    * handleExpiredTimer callback — driving idle-session-timeout
    * emission. q102's flatMapGroupsWithState closes a session only
    * when the SAME user's next event arrives, so each user's trailing
    * session stays open forever (its oracle drops the last island);
    * here every input batch re-arms a per-user event-time timer at
    * last_event + gap, and when the WATERMARK passes that expiry the
    * timer fires and emits the open session with no further event
    * needed — the capability that completes the q53/q102 family: the
    * drained output is the FULL batch sessionization, last islands
    * included. Input rows: (user_id, ts_ns, value_c, n-a). */
  final class TimerSessionProcessor(gapNs: Long)
      extends StatefulProcessor[Long, (Long, Long, Long), TwsSessionOut] {
    @transient private var state: ValueState[TwsSessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TwsSessionState]("session",
        Encoders.product[TwsSessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long)],
        timers: TimerValues): Iterator[TwsSessionOut] = {
      // sources deliver a batch's rows unordered; session algebra is
      // order-sensitive, so pin (ts) — unique per user in this table
      val sorted = rows.toArray.sortBy(_._2)
      val out = Seq.newBuilder[TwsSessionOut]
      var st = if (state.exists()) state.get() else null
      sorted.foreach { case (_, ts, vc) =>
        if (st == null) st = TwsSessionState(ts, ts, 1L, vc)
        else if (ts - st.lastNs > gapNs) {
          out += TwsSessionOut(user, st.startNs, st.lastNs, st.n, st.sumC)
          st = TwsSessionState(ts, ts, 1L, vc)
        } else st = TwsSessionState(st.startNs, ts, st.n + 1, st.sumC + vc)
      }
      if (st != null) {
        state.update(st)
        // re-arm THE timer: one live timer per user, at the open
        // session's idle deadline (timer granularity is ms; +1 so the
        // deadline strictly exceeds the last event's own ms tick)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(st.lastNs / 1000000L + gapNs / 1000000L + 1L)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[TwsSessionOut] = {
      // watermark passed last_event + gap with nothing arriving: the
      // open session is complete — emit and drop the state
      val out = if (state.exists()) {
        val st = state.get()
        Iterator.single(TwsSessionOut(user, st.startNs, st.lastNs, st.n, st.sumC))
      } else Iterator.empty
      state.clear()
      out
    }
  }

  /** Drives [[TimerSessionProcessor]] over a 4-drop replay of events
    * (two time-split real halves, then two far-future sentinel drops
    * whose only job is to advance the watermark past every real
    * user's idle deadline so the timers fire) and returns all emitted
    * sessions (q262). The drained rows must equal the batch q11-style
    * 30-min-gap sessionization INCLUDING each user's last island —
    * the rows only the timers can emit. */
  def timerSessionRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val gapNs = 1800000000000L // 30 min
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_ns"), Q.cents(col("value")).as("value_c"))
    val (early, late, hi) = halves(ev, "ts_ns")
    val day = 86400L * 1000000000L
    def sentinel(ns: Long): DataFrame = spark.range(1).select(
      lit(-1L).as("user_id"), lit(ns).as("ts_ns"), lit(0L).as("value_c"))
    val dir = replay(spark, "twstimer",
      Seq(early, late, sentinel(hi + 30 * day), sentinel(hi + 60 * day)))
    val src = watch(spark, dir, 1)
      .withColumn("ets", timestamp_micros(expr("ts_ns DIV 1000")))
      .withWatermark("ets", "1 minute")
      .select(col("user_id"), col("ts_ns"), col("value_c"))
      .as[(Long, Long, Long)]
    val out = src.groupByKey(_._1)
      .transformWithState(new TimerSessionProcessor(gapNs),
        TimeMode.EventTime(), OutputMode.Append(),
        Encoders.product[TwsSessionOut])
    drain(spark, "twstimer", sfDir, out.toDF(), "append", RocksDb8)
      .filter(col("user_id") >= 0) // drop the watermark-advancing sentinel
      .select(col("user_id"), col("start_ns"), col("end_ns"),
        col("n_events"), col("sum_c"))
      .orderBy(col("user_id"), col("start_ns"))
  }

  /** CHECKPOINTED RESTART (q215): the same aggregation run as TWO
    * SEPARATE StreamingQuery lifetimes against one checkpoint
    * location — the first lifetime processes the first half of the
    * corpus and stops; the second starts from the offset log and
    * state files the first left behind, sees only the second-half
    * drop as new data, and its complete-mode output must equal the
    * batch aggregate of the WHOLE corpus. This is the
    * crash-recovery/exactly-once contract a production stream lives
    * on, driven deterministically. */
  def resumeRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), Q.cents(col("value")).as("value_c"), col("ts_ns"))
    val (first, second, _) = halves(ev, "ts_ns")
    val dir = replay(spark, "resume", Seq(first.drop("ts_ns")))
    val ckpt = Some(java.nio.file.Paths.get(dir).resolveSibling("ckpt").toString)
    // each lifetime sees exactly one new drop file, so one file per
    // trigger is one micro-batch per lifetime
    val agg = watch(spark, dir, 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
    val confs = Seq(ShufflePartitions -> "2")
    drain(spark, "resume", sfDir, agg, "complete", confs, ckpt) // lifetime 1: first half only
    writeDrop(dir, 1, second.drop("ts_ns"))
    // lifetime 2 resumes from the checkpoint and sees only drop 1
    drain(spark, "resume", sfDir, agg, "complete", confs, ckpt)
      .select(col("event_type"), col("n"), col("sum_c"))
      .orderBy(col("event_type"))
  }

  /** Runs the processor over a two-drop time-split replay of events
    * and returns the drained per-user rows (q199). */
  def runningTimeline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_ns"), col("event_id"), Q.cents(col("value")).as("value_c"))
    val (early, late, _) = halves(ev, "ts_ns")
    val src = watch(spark, replay(spark, "tws", Seq(early, late)), 1)
      .as[(Long, Long, Long, Long)]
    val out = src.groupByKey(_._1)
      .transformWithState(new TimelineProcessor, TimeMode.None(),
        OutputMode.Append(), Encoders.product[TimelineOut])
    // each batch emits the running row; the drained answer per user
    // is the one with the largest n (monotone)
    drain(spark, "tws", sfDir, out.toDF(), "append", RocksDb8)
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("n_events"), col("first_ns"), col("last_ns"),
          col("max_gap_ns"), col("sum_c")), col("n_events")).as("t"))
      .select(col("user_id"), col("t.n_events"), col("t.first_ns"),
        col("t.last_ns"), col("t.max_gap_ns"), col("t.sum_c"))
      .orderBy(col("user_id"))
  }
}
