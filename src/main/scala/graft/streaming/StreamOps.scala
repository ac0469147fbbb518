package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming (SURVEY §2.6) — this is the
  * Spark-native extension an analytics engine at 100TB needs: the SAME
  * transformations run batch or streaming (Structured Streaming's core
  * contract), so each operator here takes a DataFrame that may be
  * either. StreamingSpec drives them with MemoryStream and asserts
  * equivalence against the batch run on identical data — the standard
  * streaming correctness harness.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late data beyond 1h is dropped — state eviction is what makes a
  * 100TB/day stream feasible); sessionization state is per-user and
  * times out via the state API, not a manual sweep.
  */
object StreamOps {

  /** Streaming exact dedup — the ingestion-time twin of the batch
    * q44 fingerprint groupBy: keep the FIRST document per content
    * fingerprint, drop later copies. `dropDuplicatesWithinWatermark`
    * keeps one state row per distinct fingerprint AND evicts it once
    * the watermark passes (plain dropDuplicates without the event
    * time in its key never evicts — unbounded state at 100TB/day).
    * The trade: a copy arriving later than the horizon is admitted
    * again; widen the watermark to widen the dedup window. Works
    * batch or streaming. */
  def dedupByFingerprint(docs: DataFrame): DataFrame = {
    val fp = docs
      .withColumn("fp", graft.operators.TextOps.fingerprint(col("text")))
    // the within-watermark variant only exists for streams; the batch
    // twin on finite data is plain dropDuplicates
    if (docs.isStreaming)
      fp.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("fp")
    else fp.dropDuplicates("fp")
  }

  /** Ingestion-time test-set decontamination — the streaming twin of
    * the batch q73 report: drop any arriving doc that shares a word
    * 5-gram with the benchmark/eval gram set. The eval suite is tiny
    * by contract, so its distinct grams ship as a broadcast-literal
    * set inside ONE codegen'd per-row predicate
    * ([[org.apache.spark.sql.graft.CountGramsInSet]]) — no explode, no
    * window function, no state, so the same plan runs batch or
    * streaming and state stays zero at any throughput. (The batch q73
    * keeps the broadcast-JOIN shape because its per-doc overlap REPORT
    * needs distinct-gram counting; the filter semantics here are
    * identical: kept == not flagged.) */
  def decontaminate(docs: DataFrame, benchGrams: Seq[String]): DataFrame =
    // NULL text ⇒ NULL predicate — coalesce to KEEP, matching batch
    // q73 (a null-text doc produces no gram rows and is never flagged)
    docs.filter(coalesce(
      org.apache.spark.sql.graft.CountGramsInSet.column(
        graft.operators.TextOps.tokens(col("text")), 5, benchGrams) === 0,
      lit(true)))

  /** Streaming vector-index ingestion — the ingestion-time twin of
    * `IvfFlatModel.insert`: `IvfFlatModel.assign` puts each arriving
    * vector in its bucket by the FROZEN centroids map-side (codegen'd
    * [[org.apache.spark.sql.graft.NearestCentroid]] — a stateless
    * narrow transform, so the plan is identical batch or streaming and
    * state stays zero at any throughput). Write the result with
    * `.writeStream.format("parquet").partitionBy("__bucket")` into
    * `<indexPath>/stream`: the file sink's commit log makes the append
    * exactly-once across retries, and [[graft.index.IvfFlat.load]]
    * unions the streamed rows with the built layout, so probes keep
    * pruning partitions across BOTH — new vectors become searchable at
    * the next index load with no rebuild and no shuffle anywhere. */
  def ivfIngest(rows: DataFrame, model: graft.index.IvfFlatModel): DataFrame =
    model.assign(rows)

  /** Stream-static dimension enrichment: join the (unbounded) fact
    * stream against a bounded dimension table, broadcast per
    * micro-batch — the standard zero-state enrichment join. Note on
    * refresh: a path-based parquet dim pins its file listing at
    * DataFrame creation, so picking up dimension UPDATES without a
    * restart requires a refreshable source (catalog table / Delta),
    * not a raw path. Left join: facts without a dimension row pass
    * through with nulls, never dropped. Works batch or streaming. */
  def enrich(facts: DataFrame, dim: DataFrame, key: String): DataFrame =
    facts.join(broadcast(dim), Seq(key), "left")

  /** Tumbling-window counts/sums per event type with a 1h watermark —
    * the streaming analogue of the batch q24_events_hourly. */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("cnt"),
        col("sum_value"))

  /** Sliding-window (1h every 15min) per-type rates. */
  def slidingRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("event_type"), col("cnt"))

  /** Stream-stream interval join: view -> purchase attribution within
    * 30 minutes of event time. BOTH sides are unbounded streams, so
    * correctness requires (a) watermarks on both event times and (b) a
    * time-range join condition — together they bound the buffered
    * state to ~1h of either stream (Spark evicts buffered rows once
    * the watermark passes the largest possible match window), which is
    * what makes a stream-stream join feasible at 100TB/day. The batch
    * twin (same condition, no watermarks) is q87's DuckDB-checked
    * aggregate; StreamingSpec asserts stream pairs == batch pairs. */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    v.join(p, col("user_id") === col("p_uid")
        && col("p_ts") >= col("v_ts")
        && col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("v_ts"), col("p_ts"))
  }

  /** LEFT OUTER twin of [[viewPurchaseJoin]]: every view emits —
    * matched views once per purchase in [v_ts, v_ts + 30 min],
    * unmatched views with a NULL p_ts, which Structured Streaming
    * only releases once the global watermark passes the view's whole
    * match window (state expiry is the emission trigger — the gate
    * feeds a far-future sentinel through BOTH sides so every real
    * view's window closes before the stream ends). Same bounded
    * per-key state as the inner join; on a batch frame the
    * watermarks are no-ops and this is a plain interval left join
    * (the equivalence twin). */
  def viewPurchaseJoinOuter(views: DataFrame,
      purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    v.join(p, col("user_id") === col("p_uid")
        && col("p_ts") >= col("v_ts")
        && col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("user_id"), col("v_ts"), col("p_ts"))
  }

  /** FULL OUTER interval join — the gnarliest stream-stream join mode
    * Structured Streaming supports: BOTH sides' unmatched rows emit,
    * each only when the global watermark passes its whole match
    * window (a view can match purchases up to 30 min later; a
    * purchase can match views up to 30 min earlier), so state expiry
    * drives emission on both sides at once. Keys kept separately
    * (v_uid/p_uid) because either side may be NULL. */
  def viewPurchaseJoinFull(views: DataFrame,
      purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_uid"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    v.join(p, col("v_uid") === col("p_uid")
        && col("p_ts") >= col("v_ts")
        && col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
      "full_outer")
      .select(col("v_uid"), col("v_ts"), col("p_uid"), col("p_ts"))
  }

  // --- streaming AS-OF join via typed state -----------------------------

  final case class AsofState(views: List[(Long, Long)],
      trades: List[(Long, Long, Double)])
  final case class AsofPair(user_id: Long, t_eid: Long, t_ts: Timestamp,
      value: Double, v_eid: Option[Long], v_ts: Option[Timestamp],
      lag_us: Option[Long])

  /** Event-time at MICROsecond precision — Timestamp.getTime is
    * millis and would shear the sub-ms part the events table
    * actually carries (the q289 gate diffs row-for-row on exact
    * timestamps, so the state machine must not round). */
  private def tsMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  private def microsTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** STREAMING AS-OF JOIN — the join mode Structured Streaming does
    * NOT support natively (inner/left/full interval joins do exist;
    * as-of does not): every purchase ("trade") pairs with the LATEST
    * view ("quote") at or before its event time, per user. Built the
    * way the brief's custom-state bullet prescribes:
    * flatMapGroupsWithState with event-time timeout.
    *
    * Correctness discipline: a trade at t may only emit once the
    * watermark passes t — until then an older view could still
    * arrive and change "latest ≤ t". So both sides BUFFER in state;
    * on every invocation the trades with ts STRICTLY below the
    * watermark flush against the (then-complete) view set — strict,
    * because Spark only drops inputs strictly older than the
    * watermark, so an equal-ts view can still arrive. State stays
    * bounded: of the views strictly below the watermark only the LATEST can ever
    * match a future trade, so exactly one old view survives pruning
    * per user (+ any views still inside the watermark window).
    * "Latest" ties deterministically by (ts, event_id) — the same
    * (ts, is_trade, event_id) order the batch twin's window uses.
    *
    * Scale shape: per-user state is O(in-flight window), emission is
    * watermark-driven, nothing touches the driver — the standard
    * stateful-operator contract at 100 TB/day. */
  def asofJoin(events: Dataset[Event]): Dataset[AsofPair] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[AsofState]) =>
          val st = state.getOption.getOrElse(AsofState(Nil, Nil))
          var views = st.views
          var trades = st.trades
          if (!state.hasTimedOut) rows.foreach { e =>
            if (e.event_type == "view")
              views = (tsMicros(e.ts), e.event_id) :: views
            else if (e.event_type == "purchase")
              trades = (tsMicros(e.ts), e.event_id, e.value) :: trades
            // any other type (the flush sentinel) only advances the
            // watermark
          }
          // buffers hold MICROS; the watermark API is millis — flush
          // only trades STRICTLY below wm·1000: Spark drops late rows
          // strictly older than the watermark, so a view with ts
          // exactly equal to the watermark can still arrive and must
          // be able to pair with an equal-ts trade (the batch twin
          // counts v_ts <= t_ts). Anything missed flushes at the next
          // advance; the final sentinel watermark clears everything.
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, pending) = trades.partition(_._1 < wmUs)
          val sortedViews = views.sorted // ascending (ts_us, event_id)
          val out = ready.sortBy(t => (t._1, t._2)).map {
            case (tus, teid, v) =>
              sortedViews.takeWhile(_._1 <= tus).lastOption match {
                case Some((vus, veid)) => AsofPair(userId, teid,
                  microsTs(tus), v, Some(veid),
                  Some(microsTs(vus)), Some(tus - vus))
                case None => AsofPair(userId, teid, microsTs(tus),
                  v, None, None, None)
              }
          }
          // prune: one latest-strictly-below-wm view survives (the
          // as-of candidate for every future trade — all pending
          // trades have ts >= wm), plus the still-mutable tail
          val (oldV, newV) = sortedViews.partition(_._1 < wmUs)
          val kept = oldV.lastOption.toList ::: newV
          if (pending.isEmpty && kept.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(AsofState(kept, pending))
            // wake exactly when the earliest pending trade can flush
            // (ceil back to millis); with none pending, a GC horizon
            // reclaims the lone view
            val wmMs = state.getCurrentWatermarkMs()
            val next =
              if (pending.nonEmpty) pending.map(_._1).min / 1000L + 1
              else wmMs + 24L * 3600 * 1000
            state.setTimeoutTimestamp(math.max(next, wmMs + 1))
          }
          out.iterator
      }
  }

  /** Batch twin of [[asofJoin]] — one partitioned window over the
    * tagged union, latest view carried forward with last(ignoreNulls):
    * no per-pair join blowup, the robust batch as-of shape. Identical
    * tie-break: (ts, is_trade, event_id). */
  def asofJoinBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts"), col("is_trade"), col("event_id"))
      .rowsBetween(Long.MinValue, 0)
    events.filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        (col("event_type") === "purchase").cast("int").as("is_trade"))
      .withColumn("v", last(when(col("is_trade") === 0,
          struct(col("event_id").as("e"), col("ts").as("t"))),
        ignoreNulls = true).over(w))
      .filter(col("is_trade") === 1)
      .select(col("user_id"), col("event_id").as("t_eid"),
        col("ts").as("t_ts"), col("value"),
        col("v.e").as("v_eid"), col("v.t").as("v_ts"),
        (unix_micros(col("ts")) - unix_micros(col("v.t"))).as("lag_us"))
  }

  // --- sessionization via typed state -----------------------------------

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class Doc(doc_id: Long, ts: Timestamp, text: String)
  final case class SessionState(start: Long, last: Long, events: Int,
      value: Double)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
      events: Int, total_value: Double)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Gap-based sessionization with flatMapGroupsWithState: emits a
    * session when a user is silent > 30 min (or the state times out).
    * State is one small record per live user — the shape that scales. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.events, s.value))
          } else {
            // Uniform interval-merge: the live session and every event
            // of the batch become [start,last] intervals, sorted and
            // gap-folded — exactly the batch twin's split, applied to
            // everything visible now. Late events gap-split among
            // THEMSELVES (two out-of-order events within one gap merge
            // into ONE session, as batch does) and a late run that
            // bridges into the live session extends it instead of
            // fragmenting. The newest interval stays open as state;
            // older ones are closed: nothing already-emitted can be
            // re-opened, so (as with any append-mode sessionizer) an
            // event arriving in a LATER batch can no longer bridge two
            // sessions this batch closed — bounded by the watermark.
            val items = (state.getOption.toSeq ++ rows.map(e =>
                SessionState(e.ts.getTime, e.ts.getTime, 1, e.value)))
              .sortBy(s => (s.start, s.last))
            val merged = items.foldLeft(List.empty[SessionState]) {
              (acc, it) => acc match {
                case head :: tail if it.start <= head.last + SessionGapMs =>
                  SessionState(math.min(head.start, it.start),
                    math.max(head.last, it.last),
                    head.events + it.events, head.value + it.value) :: tail
                case _ => it :: acc
              }
            }.reverse
            val live = merged.last
            state.update(live)
            state.setTimeoutTimestamp(live.last + SessionGapMs)
            merged.dropRight(1).iterator.map(s =>
              Session(userId, new Timestamp(s.start), new Timestamp(s.last),
                s.events, s.value))
          }
      }
  }

  /** Batch oracle for sessionize (same gap semantics, plain SQL ops) —
    * used by StreamingSpec for equivalence, and usable on its own as
    * the batch sessionization operator. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts")))
            > SessionGapMs).cast("int"))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min("ts").as("start"), max("ts").as("end"),
        count(lit(1)).cast("int").as("events"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("total_value"))
      .drop("session_id")
  }
}
