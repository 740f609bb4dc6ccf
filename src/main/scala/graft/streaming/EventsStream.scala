package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming variant of the events pipeline (SURVEY.md §7.2.7 —
  * a capability extension; the reference is batch-only). The same transforms
  * the batch surface runs (filter → time derivation → windowed agg) expressed
  * over an unbounded source:
  *
  *   readStream(parquet dir) → withWatermark → window agg → sink
  *
  * plus a stateful per-user session aggregator via mapGroupsWithState.
  *
  * Scale shape: the windowed agg is a streaming hash-aggregate whose state is
  * bounded by the watermark horizon × |group keys|; the session state store
  * is keyed by user — both shard across executors by groupBy key, identical
  * to the batch shuffle layout.
  */
object EventsStream {

  /** One state encoder per state class that holds a collection, built
    * and resolved once per JVM. A collection field's (de)serializer
    * carries `MapObjects` lambda variables numbered from a JVM-global
    * counter, and the numbers are part of the generated code's text.
    * Spark numbers them afresh each time it turns an `Encoder` into an
    * `ExpressionEncoder` (the serializer) and each time it resolves the
    * deserializer (`resolveAndBind`, which finds nothing left to resolve
    * here), so with `spark.implicits._` each run of these streams
    * recompiled its state projections (3 classes). */
  private object StateEncoders {
    private def resolved[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]().resolveAndBind()
    val intervalJoin = resolved[IntervalJoinState]
    val asof = resolved[AsofState]
    val scd2 = resolved[Scd2State]
    val ewma = resolved[EwmaState]
    val budget = resolved[BudgetState]
    val funnel = resolved[FunnelState]
  }

  /** Raw schema of the streaming source, parameterized by the physical
    * type `ts` was written with — the testdata has shipped int64-nanos,
    * UTC micros, and naive micros across driver rounds (see
    * Sources.table for the batch-side contract). */
  def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Open the unbounded events source over a directory of parquet files,
    * normalizing `ts` to session-TZ TimestampType. readStream needs an
    * explicit schema, so `ts`'s physical type is read once at open from
    * a data file's footer, on the driver ([[graft.sources.Sources.parquet]]:
    * no Spark job, and no per-batch cost). The read means the source
    * needs at least one file at open: the ts encoding varies by testdata
    * round (int64 nanos / UTC micros / naive micros), so no fallback
    * schema is universally right — guessing one would let the stream
    * start and then misread (or die mid-batch on) the first real file.
    * An empty directory therefore fails FAST with an actionable message,
    * as does a TIMESTAMP(NANOS) footer without the session-level nanos
    * conf (both raised by `Sources.parquet`). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val tsType = graft.sources.Sources.parquet(spark, dir).schema("ts").dataType
    val base = spark.readStream.schema(rawSchema(tsType)).parquet(dir)
    tsType match {
      case LongType => // int64 nanos via legacy.parquet.nanosAsLong
        base.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        base.withColumn("ts", col("ts").cast(TimestampType))
      case _ => base
    }
  }

  /** Stream-static enrichment join: each micro-batch of the stream joins
    * the (broadcast) static dimension — the canonical streaming-ETL
    * enrich step. Stateless: no watermark, no join state; at 100 TB/day
    * of stream the only sizing concern is the dim fitting in the
    * broadcast, which is exactly when this beats shuffling the stream.
    * The static side is re-read per micro-batch (so slowly-changing dims
    * refresh on file change); only `dimKey` + `dimCols` ship. */
  def enrichStatic(events: DataFrame, dim: DataFrame,
                   eventKey: String, dimKey: String,
                   dimCols: Seq[String]): DataFrame =
    events.join(
      broadcast(dim.select((dimKey +: dimCols).map(col): _*)),
      col(eventKey) === col(dimKey), "inner")
      .drop(dimKey)

  /** Event-time windowed aggregation with a watermark: count + sum(value)
    * per (window, event_type). Late data beyond `watermark` is dropped and
    * its state evicted — the property that keeps state bounded on an
    * unbounded stream. */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Hopping (sliding) windowed aggregation over the stream —
    * `window(ts, 1h, 15m)`: each event contributes to exactly 4
    * overlapping hour windows, the "smooth dashboard" flavor of
    * [[windowedCounts]]. The value sum is the ExactMoney fixed-point
    * form (per-row centi-rounding, exact long sums through the state
    * store, one division at emit), so the streamed result is
    * bit-identical to the batch sliding window on the same data. State
    * is |open windows| × |types| rows — 4× the tumbling operator's, the
    * overlap factor, calendar-bounded and watermark-evicted. The eviction
    * claim holds in append/update mode ONLY: complete mode disables
    * watermark state eviction entirely (state and the result table then
    * grow with every calendar window ever opened), so the gate row
    * (q_s_stream_hopping) runs append over finalized windows. */
  def hoppingCounts(events: DataFrame,
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("vc"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), (col("vc") / 100.0).as("sum_value"))

  /** Streaming distribution-drift monitor — the MLOps alarm beside every
    * production pipeline: per finalized hour window and event type, the
    * observed count against a STATIC expected-rate table (yesterday's
    * profile, a capacity plan), scored as the milli-floored log rate
    * ratio floor(1000·ln(n/expected)). Cells near 0 are on-profile;
    * large |cells| flag rate drift per type, and the per-cell form (the
    * q_x_mutual_info convention) keeps every value an exact integer
    * derived from one double ratio — no cross-engine float-sum hazard
    * and, crucially, NO second streaming aggregation (a per-window KL
    * total would need window totals = chained stateful aggs, which
    * Spark's streaming planner rejects).
    *
    * Scale shape: one watermarked windowed aggregate (the
    * [[windowedCounts]] state bound) + a broadcast join against the
    * |types|-row expected table — the static side never shuffles the
    * stream. Event types absent from the expected table drop (inner
    * join): an unknown type is a schema alarm, not a rate alarm —
    * route those through the quarantine family instead. */
  def driftCells(events: DataFrame, expected: DataFrame,
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(expected), Seq("event_type"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"),
        floor(log(col("n").cast("double") / col("exp_per_window")) * 1000)
          .cast("long").as("drift_milli"))

  /** Streaming per-window weighted sampling without replacement — the
    * "keep k representative events per hour, big spenders more likely"
    * telemetry reducer: per hour window, the k events with the largest
    * Efraimidis-Spirakis key ln(u)/w (u = the portable 48-bit md5
    * uniform of the event id, w = `value`), which is exactly a
    * weight-proportional without-replacement sample — the
    * [[graft.ext.Sampling.weightedSample]] math pushed through a
    * streaming window. Zero/negative weights are outside the E-S domain
    * and filter out by contract.
    *
    * The selection is DETERMINISTIC (md5, not a PRNG), so the finalized
    * windows are batch-reproducible and the gate hash-checks the exact
    * sampled ids cross-engine. State per window is one bounded k-heap
    * ([[graft.functions.TopKAgg]] aggregating partially through the
    * state store, the [[windowedHeavyHitters]] discipline) — each map
    * task ships at most k candidates per open window, ~fixed memory on
    * an unbounded stream. */
  def windowedWeightedSample(events: DataFrame, k: Int = 5,
                             watermark: String = "2 hours"): DataFrame = {
    val u = (conv(substring(md5(col("event_id").cast("string")), 1, 12),
      16, 10).cast("double") + lit(0.5)) / lit(math.pow(2.0, 48))
    events.withWatermark("ts", watermark)
      .filter(col("value") > 0)
      .select(col("ts"), col("event_id"),
        (log(u) / col("value")).as("esk"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.TopKAgg
        .topk_by_score(col("esk"), col("event_id"), k).as("top"))
      .select(col("window.start").as("window_start"),
        posexplode(col("top")).as(Seq("r0", "s")))
      .select(col("window_start"),
        (col("r0") + 1).cast("long").as("rank"),
        col("s.neighbor_id").as("event_id"))
  }

  /** Streaming heavy hitters: the SpaceSaving summary
    * ([[graft.functions.SpaceSavingAgg]]) as a windowed streaming
    * aggregate — "which items are frequent per hour" over an unbounded
    * stream with FIXED memory per window regardless of item cardinality.
    * The aggregation state per (window) key is one 3·capacity-long
    * buffer; partials combine map-side and across micro-batches through
    * the state store with the merge rule's any-order guarantees. While
    * every partial stays under capacity the summary is EXACT (err 0,
    * counts true) — the oracle-checkable regime the driver gate pins;
    * past capacity the est/err invariants take over (SpaceSavingSpec).
    * Returns (window_start, sk) with the raw triple-layout summary;
    * callers decode/join tokens downstream (the sketch column, not the
    * token stream, is what crosses the wire — 3·capacity longs per
    * window). */
  def windowedHeavyHitters(events: DataFrame, capacity: Int = 16,
                           windowLen: String = "1 hour",
                           watermark: String = "2 hours"): DataFrame = {
    val ss = udaf(new graft.functions.SpaceSavingAgg(capacity),
      org.apache.spark.sql.Encoders.scalaLong)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(ss(xxhash64(col("event_type"))).as("sk"))
      .select(col("window.start").as("window_start"), col("sk"))
  }

  final case class EventIn(event_id: Long, ts: java.sql.Timestamp,
                           user_id: Long, event_type: String, value: Double)
  final case class UserSession(user_id: Long, n_events: Long,
                               total_value: Double, last_type: String)

  final case class OpenSession(startMs: Long, endMs: Long, n: Int)
  final case class ClosedSession(user_id: Long, start: java.sql.Timestamp,
                                 end: java.sql.Timestamp, n_events: Int)

  /** Event-time session windows with gap-based close + watermark timeout:
    * a session closes when a later event arrives past the gap, or when the
    * watermark passes end+gap (EventTimeTimeout) — so state is evicted for
    * idle users, the property that bounds the store on an unbounded
    * stream. The streaming counterpart of the batch q_w_sessionize. */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30,
                     watermark: String = "1 minute"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, batch, state: GroupState[OpenSession]) =>
          def close(s: OpenSession) = ClosedSession(uid,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs), s.n)
          if (state.hasTimedOut) {
            val out = state.getOption.map(close).iterator
            state.remove()
            out
          } else {
            val evs = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = Seq.newBuilder[ClosedSession]
            var cur = state.getOption
            evs.foreach { e =>
              val t = e.ts.getTime
              cur = cur match {
                case Some(s) if t - s.endMs <= gapMs =>
                  Some(s.copy(endMs = math.max(s.endMs, t), n = s.n + 1))
                case Some(s) =>
                  closed += close(s)
                  Some(OpenSession(t, t, 1))
                case None => Some(OpenSession(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-stream interval join — click→purchase attribution: every
    * (click, purchase) pair for one user where the click precedes the
    * purchase by at most `windowHours`. Both sides carry watermarks and
    * the join condition carries the event-time range, which is what lets
    * Spark BOUND the join state: a buffered click can be evicted once the
    * purchase-side watermark passes click_ts + window (state ∝ watermark
    * horizon × arrival rate, NOT stream length). Inner join: emitted rows
    * are exactly the batch join's — the oracle-checkable property.
    *
    * SCALE HAZARD (measured, PERF_NOTES "Stateful streams under a whale
    * key"): the pair OUTPUT is semantically quadratic in a hot key's rate
    * — a user holding 20% of the stream emits 4.8 M pairs from 600 k
    * events, all from the one task owning the key. Spark's built-in join
    * has no per-key output guard, so a whale-keyed production stream gets
    * a wedged task, not a diagnostic. Use [[intervalJoinBudgeted]] (same
    * pair semantics, per-purchase candidate budget + audit overflow rows)
    * or [[asofAttribution]] (top-1, linear) on skew-exposed streams. */
  def clickToPurchaseJoin(events: DataFrame,
                          windowHours: Int = 24,
                          watermark: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") -
          expr(s"INTERVAL $windowHours HOURS"),
      "inner")
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** LEFT OUTER stream-stream interval join — [[clickToPurchaseJoin]]'s
    * pair semantics plus one NULL-extended row per click that matches
    * nothing: "which clicks never converted", the abandonment side of
    * attribution an inner join cannot express. Matched pairs emit the
    * moment both sides arrive (inner behavior); an unmatched click's
    * NULL row emits only when its state EVICTS — once the joint
    * watermark (min of both sides under the default min-policy) passes
    * click_ts + windowHours, the point where no future purchase can
    * legally match it. That eviction bound is also what keeps outer
    * state finite on an unbounded stream: the NULL row is a
    * watermark-proof, not a timeout guess. Same whale-output hazard as
    * the inner form (see clickToPurchaseJoin's scale note). */
  def clickToPurchaseLeftJoin(events: DataFrame,
                              windowHours: Int = 24,
                              watermark: String = "1 minute"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") -
          expr(s"INTERVAL $windowHours HOURS"),
      "leftOuter")
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Per-user buffered state for [[intervalJoinBudgeted]]: clicks within
    * the join-window horizon and purchases awaiting their watermark, both
    * as (epoch-ms, event_id) — the same ms grain as [[AsofState]]. */
  final case class IntervalJoinState(clicks: List[(Long, Long)],
                                     purchases: List[(Long, Long)])

  /** One attributed pair, or (click_id = None) an overflow AUDIT row
    * carrying the count of pairs the per-purchase budget suppressed. */
  final case class IntervalPair(user_id: Long, click_id: Option[Long],
                                purchase_id: Long, n_suppressed: Long)

  /** The budgeted interval join — [[clickToPurchaseJoin]]'s pair semantics
    * with the per-key output guardrail every other fan-out operator in
    * this repo already carries (`maxBucket`/`maxBlock`/`maxDf`): each
    * purchase emits at most `maxPairsPerPurchase` pairs — the LATEST
    * in-window clicks by (event-time ms, event_id), the ones attribution
    * actually wants — plus ONE audit row (`click_id` null,
    * `n_suppressed` = dropped pair count) when the budget truncates. A
    * whale key's output is then O(purchases × budget) + audits instead of
    * clicks × purchases, and the overflow is a DIAGNOSTIC the pipeline
    * can alert on instead of a wedged task.
    *
    * Exactness (same watermark contract as [[asofAttribution]]): a
    * purchase emits once the watermark passes its event time, at which
    * point every in-window click has either arrived or is late-and-dropped
    * on any engine; with the budget above the true max candidate count the
    * emitted pairs are EXACTLY the batch inner join's (the oracle-checked
    * configuration, `q_s_stream_join_capped`). Ripe purchases match
    * against the full buffer BEFORE click eviction (a click whose
    * window-horizon expired this batch can still be in-window for a
    * purchase ripening this batch). Per-flush work is O(C log C +
    * P·(log C + budget)) via binary search over the sorted click buffer —
    * no per-purchase buffer scan, the shape that turned quadratic under
    * the whale key before the as-of rewrite. State per user is clicks
    * within the window horizon + purchases within the watermark lag. */
  def intervalJoinBudgeted(events: DataFrame, windowHours: Int = 24,
                           watermark: String = "1 minute",
                           maxPairsPerPurchase: Int = Int.MaxValue)
      : Dataset[IntervalPair] = {
    val spark = events.sparkSession
    import spark.implicits._
    val windowMs = windowHours * 3600000L
    events
      .withWatermark("ts", watermark)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[IntervalJoinState, IntervalPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, batch, state: GroupState[IntervalJoinState]) =>
          val wm = state.getCurrentWatermarkMs()
          var st = state.getOption.getOrElse(IntervalJoinState(Nil, Nil))
          if (!state.hasTimedOut) {
            val (cl, pu) = batch.toList.partition(_.event_type == "click")
            st = IntervalJoinState(
              st.clicks ::: cl.map(e => (e.ts.getTime, e.event_id)),
              st.purchases ::: pu.map(e => (e.ts.getTime, e.event_id)))
          }
          val cand = st.clicks.sorted.toArray // ascending (ms, id)
          // first index with ms >= / > target — the in-window candidate
          // range per purchase is contiguous in the ms-sorted buffer
          def bound(target: Long, strict: Boolean): Int = {
            var lo = 0; var hi = cand.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              val cm = cand(mid)._1
              if (cm < target || (strict && cm == target)) lo = mid + 1
              else hi = mid
            }
            lo
          }
          val (ripe, pending) = st.purchases.partition(_._1 < wm)
          val out = ripe.sorted.flatMap { case (pms, pid) =>
            val lo = bound(pms - windowMs, strict = false)
            val hi = bound(pms, strict = true) // clicks with ms <= pms
            val from = math.max(lo, hi - maxPairsPerPurchase)
            val pairs = (from until hi).map(i =>
              IntervalPair(uid, Some(cand(i)._2), pid, 0L))
            val suppressed = (from - lo).toLong
            if (suppressed > 0)
              pairs :+ IntervalPair(uid, None, pid, suppressed)
            else pairs
          }
          // evict only now: c.ms + window < wm means no pending or future
          // purchase (all have ms >= wm after the ripeness cut) can reach c
          val keep = cand.view.filter(_._1 + windowMs >= wm).toList
          if (keep.isEmpty && pending.isEmpty) state.remove()
          else {
            state.update(IntervalJoinState(keep, pending))
            // wake at whichever comes first: the earliest pending purchase
            // ripening, or the earliest retained click leaving its window
            val wake = (pending.map(_._1) ++ keep.map(_._1 + windowMs)).min
            state.setTimeoutTimestamp(math.max(wake, wm + 1))
          }
          out.iterator
      }(StateEncoders.intervalJoin, implicitly[Encoder[IntervalPair]])
  }

  /** Per-user buffered state for the streaming as-of join: the single
    * finalized best click (latest (ms, id) proven complete by a past
    * watermark), clicks not yet finalized, and purchases awaiting their
    * watermark. All times are epoch MILLIS — the grain Spark's watermark
    * machinery itself uses — so the oracle must compare on epoch_ms too. */
  final case class AsofState(bestMs: Long, bestId: Long, hasBest: Boolean,
                             clicks: List[(Long, Long)],
                             purchases: List[(Long, Long)])
  final case class AsofMatch(user_id: Long, purchase_id: Long,
                             click_id: Option[Long])

  /** Streaming as-of attribution — for every purchase, the LATEST click by
    * the same user at or before the purchase (ties within one millisecond
    * broken by max event_id; purchases with no prior click emit NULL).
    *
    * This is the linear-state answer to the interval join's semantic blowup
    * (PERF_NOTES "Stateful streams under a whale key"): the interval join
    * must EMIT every (click, purchase) pair in the window — a hot key's
    * output is quadratic in its rate and lands on the one task owning the
    * key — while top-1 attribution emits exactly one row per purchase and
    * keeps O(watermark-lag rows) state per user, compacting every click
    * older than the watermark into a single best candidate (any future
    * purchase has event time >= watermark > those clicks, so only the
    * latest can ever win).
    *
    * Exactness under out-of-order arrival: a purchase emits only once the
    * watermark passes its event time, at which point every click at or
    * before it has either arrived (buffered or compacted) or is LATE and
    * dropped by the watermark contract on every engine. Emission order
    * inside flush: ripe purchases match against the FULL candidate set
    * first; only then do newly-final clicks compact — compacting first
    * would let a click AFTER a pending purchase overwrite the one it
    * should match. Timeout re-arms at the earliest pending purchase so
    * idle users still flush when the watermark advances.
    *
    * Bounded-fixture emission contract (mirrors sessionWindows): after the
    * final batch the watermark rests at max event ms − watermark delay, so
    * exactly the purchases strictly below it emit — the oracle reproduces
    * that predicate. */
  def asofAttribution(events: DataFrame,
                      watermark: String = "1 minute"): Dataset[AsofMatch] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, batch, state: GroupState[AsofState]) =>
          val wm = state.getCurrentWatermarkMs()
          var st = state.getOption
            .getOrElse(AsofState(0L, 0L, hasBest = false, Nil, Nil))
          if (!state.hasTimedOut) {
            val (cl, pu) = batch.toList.partition(_.event_type == "click")
            st = st.copy(
              clicks = st.clicks ::: cl.map(e => (e.ts.getTime, e.event_id)),
              purchases =
                st.purchases ::: pu.map(e => (e.ts.getTime, e.event_id)))
          }
          val cand = st.clicks.sorted // ascending (ms, id)
          val best0 = if (st.hasBest) Some((st.bestMs, st.bestId)) else None
          val (ripe, pending) = st.purchases.partition(_._1 < wm)
          // merge, not rescan: purchases ascending against the sorted
          // click buffer with a running best — O(C + P log P). A
          // per-purchase takeWhile scan is O(C·P), which under a whale
          // key (one group holding 20% of the stream) turned this exact
          // pass quadratic — measured 25 s for a 200k-event group before
          // the rewrite, 2 s after (PERF_NOTES streaming-skew table).
          // Advancing through the ascending buffer keeps the running
          // best equal to the last click consumed — every buffered click
          // outranks best0 (its ms survived the finalization cut that
          // produced best0, so it is strictly newer), and consumed
          // clicks ascend among themselves — so overwrite is exact.
          val it = cand.iterator.buffered
          var best = best0
          val out = ripe.sorted.map { case (pms, pid) =>
            while (it.hasNext && it.head._1 <= pms) best = Some(it.next())
            AsofMatch(uid, pid, best.map(_._2))
          }
          // compact: clicks now final under the watermark collapse to one
          val (fin, keep) = cand.partition(_._1 < wm)
          val newBest = (best0.toList ::: fin).maxOption
          st = AsofState(newBest.map(_._1).getOrElse(0L),
            newBest.map(_._2).getOrElse(0L), newBest.isDefined, keep, pending)
          state.update(st)
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(math.max(pending.map(_._1).min, wm + 1))
          else if (keep.nonEmpty)
            // no purchase is waiting, but unfinalized clicks are: arm one
            // wake-up for when the watermark passes the newest of them, so
            // an idle user's buffer still compacts to the single best
            // candidate (without this, a click burst followed by silence
            // would be retained verbatim forever — state must converge to
            // one compact row per user, the design floor shared with
            // streaming dedup's key state)
            state.setTimeoutTimestamp(
              math.max(keep.map(_._1).max + 1, wm + 1))
          out.iterator
      }(StateEncoders.asof, implicitly[Encoder[AsofMatch]])
  }

  /** Streaming exact dedup — the unbounded-corpus counterpart of
    * Dedup.exact: the FIRST row per key within the watermark horizon
    * survives; later duplicates drop, and per-key state evicts once the
    * watermark passes (bounded state on an unbounded stream — the horizon
    * is the dedup guarantee window, exactly the built-in
    * `dropDuplicatesWithinWatermark` contract). Keys shard across
    * executors by hash, same as the batch groupBy. */
  /** Current open version + watermark-pending observations — the state of
    * [[scd2Stream]]. `pending` is horizon-bounded (observations drain as
    * the watermark passes them); the current version is ONE compact row
    * per key and is the operator's semantics — a dimension must remember
    * its current state, exactly like a CDC upsert sink's key row. */
  final case class Scd2State(curTier: String, curFromUs: Long,
      version: Long, hasCur: Boolean, pending: List[(Long, Long, String)])

  final case class Scd2Version(user_id: Long, tier: String,
      valid_from_us: Long, valid_to_us: Long, version: Long)

  /** Streaming SCD2 maintenance — the unbounded-stream counterpart of
    * [[graft.ext.Scd2.buildHistory]]: per-key attribute observations fold
    * into versioned history AS THE WATERMARK FINALIZES THEM, emitting each
    * version row the moment the change that CLOSES it is final (both its
    * endpoints are then below the watermark, so no late event can alter
    * it). The still-open current version never emits mid-stream — it is
    * exactly the row a batch rebuild would emit with NULL `valid_to_us`,
    * and the resting-watermark oracle models that by keeping only closed
    * versions (same contract as [[asofAttribution]]'s purchases-below-
    * watermark cut).
    *
    * Consecutive-duplicate collapse, tie order (ts, then tieCol) and the
    * emitted (valid_from_us, valid_to_us, version) values are IDENTICAL
    * to the batch operator — EventsStreamSpec pins stream ≡ batch on the
    * closed set. Observations buffer per key only until the watermark
    * passes them (EventTimeTimeout wake-ups drain quiet keys), so state =
    * one current-version row per key + a horizon-bounded buffer. */
  def scd2Stream(events: DataFrame, watermark: String = "1 minute")
      : Dataset[Scd2Version] = {
    val spark = events.sparkSession
    import spark.implicits._
    def us(ts: java.sql.Timestamp): Long =
      ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
    events
      .withWatermark("ts", watermark)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"),
        when(col("value") >= 50, "gold").otherwise("basic").as("tier"))
      .as[(Long, java.sql.Timestamp, Long, String, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Scd2State, Scd2Version](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, batch, state: GroupState[Scd2State]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var st = state.getOption
            .getOrElse(Scd2State("", 0L, 0L, hasCur = false, Nil))
          if (!state.hasTimedOut)
            st = st.copy(pending = st.pending :::
              batch.map(e => (us(e._2), e._1, e._5)).toList)
          val (ripe, keep) = st.pending.partition(_._1 < wmUs)
          val out = scala.collection.mutable.ListBuffer.empty[Scd2Version]
          ripe.sorted.foreach { case (obsUs, _, tier) =>
            if (!st.hasCur)
              st = st.copy(curTier = tier, curFromUs = obsUs,
                version = 1L, hasCur = true)
            else if (tier != st.curTier) {
              out += Scd2Version(uid, st.curTier, st.curFromUs, obsUs,
                st.version)
              st = st.copy(curTier = tier, curFromUs = obsUs,
                version = st.version + 1L)
            }
          }
          st = st.copy(pending = keep)
          state.update(st)
          if (keep.nonEmpty)
            // wake when the earliest buffered observation can finalize
            state.setTimeoutTimestamp(
              math.max(keep.map(_._1).min / 1000L + 1L,
                state.getCurrentWatermarkMs() + 1L))
          out.iterator
      }(StateEncoders.scd2, implicitly[Encoder[Scd2Version]])
  }

  /** State of [[ewmaStream]]: the ≤k newest FINALIZED observations
    * (ascending (µs, event_id), exactly the batch window's order), a
    * flag marking whether the level ending at the newest one has
    * already been emitted, and the horizon-bounded pending buffer. */
  final case class EwmaState(tail: List[(Long, Long, Long)],
      emittedForLast: Boolean, pending: List[(Long, Long, Long)])

  final case class EwmaLevel(user_id: Long, asof_us: Long,
      n_used: Long, ewma: Double)

  /** Streaming smoothed activity level — the unbounded-stream
    * counterpart of [[graft.ext.TimeSeries.ewma]]: whenever a user goes
    * QUIET for longer than the watermark horizon, emit their truncated
    * EWMA (k newest observations, exact integer weights 3ʲ·4^(k-1-j))
    * as of their last event — the churn-scoring / session-level shape.
    *
    * Emission is ARRIVAL-INDEPENDENT (unlike "which row wins" dedup):
    * a level row exists for event E iff, in EVENT time, no follower
    * lands within the horizon after E and the final watermark confirms
    * the quiet window (wm_ms > E_ms + horizon). Gap rows emit the
    * moment the gap's far side finalizes (both sides below the
    * watermark ⟹ the gap can never be refuted); trailing rows emit on
    * an EventTimeTimeout armed at E_ms + horizon + 1. The
    * `emittedForLast` flag makes the two detection paths emit-once.
    *
    * State is doubly bounded: the finalized tail is ≤ k rows by
    * construction (the design floor shared with streaming dedup's key
    * state — compact per key FOREVER, not merely horizon-bounded), and
    * `pending` drains as the watermark passes it. Numerics mirror the
    * batch operator exactly: per-row centi-unit rounding (Spark
    * `round(x*100, 0)` = BigDecimal HALF_UP), exact long Σwⱼ·vc / Σwⱼ
    * (|value| ≤ ~5e6 keeps 16·4¹⁵·vc inside 2⁶³), one double division,
    * HALF_UP rounding to 6 decimals — so a quiet user's streaming level
    * is BIT-IDENTICAL to the batch EWMA over the same prefix. */
  def ewmaStream(events: DataFrame, horizonMs: Long = 60000L,
                 k: Int = 16): Dataset[EwmaLevel] = {
    // k bounds the exact-long weight arithmetic: 4^(k-1) * centi-value
    // * k must stay inside 2^63 (the batch operator carries the same
    // guard); the quiet-gap horizon IS the watermark delay by
    // construction — one parameter, no way to decouple them.
    require(k >= 1 && k <= 16, s"k in [1,16] for exact long weights: $k")
    require(horizonMs > 0, s"horizonMs must be positive: $horizonMs")
    val spark = events.sparkSession
    import spark.implicits._
    val watermark = s"$horizonMs milliseconds"
    def us(ts: java.sql.Timestamp): Long =
      ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
    def level(uid: Long, tail: List[(Long, Long, Long)]): EwmaLevel = {
      // tail ascending; j = 0 is the NEWEST observation
      val newestFirst = tail.reverseIterator.zipWithIndex
      var num = 0L; var den = 0L; var n = 0L
      newestFirst.foreach { case ((_, _, vc), j) =>
        val w = math.pow(3, j).toLong * math.pow(4, k - 1 - j).toLong
        num += w * vc; den += w; n += 1
      }
      val raw = num.toDouble / den.toDouble / 100.0
      val rounded = BigDecimal(java.math.BigDecimal.valueOf(raw))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      EwmaLevel(uid, tail.last._1, n, rounded)
    }
    events
      .withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaLevel](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, batch, state: GroupState[EwmaState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          var st = state.getOption.getOrElse(EwmaState(Nil, true, Nil))
          if (!state.hasTimedOut)
            st = st.copy(pending = st.pending ::: batch.map { e =>
              val vc = BigDecimal(java.math.BigDecimal.valueOf(e.value * 100))
                .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
              (us(e.ts), e.event_id, vc)
            }.toList)
          val (ripe, keep) = st.pending.partition(_._1 < wmUs)
          val out = scala.collection.mutable.ListBuffer.empty[EwmaLevel]
          ripe.sorted.foreach { x =>
            st.tail.lastOption.foreach { last =>
              // gap check in MILLISECONDS (the watermark's granularity,
              // mirrored by the oracle's epoch_ms arithmetic)
              if (x._1 / 1000L - last._1 / 1000L > horizonMs &&
                  !st.emittedForLast)
                out += level(uid, st.tail)
            }
            st = st.copy(tail = (st.tail :+ x).takeRight(k),
              emittedForLast = false)
          }
          st.tail.lastOption.foreach { last =>
            if (wmMs > last._1 / 1000L + horizonMs && !st.emittedForLast) {
              out += level(uid, st.tail)
              st = st.copy(emittedForLast = true)
            }
          }
          st = st.copy(pending = keep)
          state.update(st)
          // The wake-up must honor BOTH deadlines: the earliest pending
          // event's finalization AND the tail's quiet-close confirmation.
          // Registering only the pending one (the original form) let a
          // far-future same-user event overwrite the tail's deadline —
          // its quiet-close row (which the oracle emits) would then never
          // fire if the stream's watermark rests below the pending event.
          val deadlines =
            keep.map(_._1 / 1000L + 1L) ++
              (if (st.tail.nonEmpty && !st.emittedForLast)
                 Seq(st.tail.last._1 / 1000L + horizonMs + 1L)
               else Nil)
          if (deadlines.nonEmpty)
            state.setTimeoutTimestamp(math.max(deadlines.min, wmMs + 1L))
          out.iterator
      }(StateEncoders.ewma, implicitly[Encoder[EwmaLevel]])
  }

  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  final case class DupHit(key: Long, event_id: Long, n_seen: Long)

  /** Occurrence count + last-seen event-time ms per key — the timeout
    * anchor that bounds [[duplicateAudit]] state. */
  final case class DupAuditState(n: Long, lastMs: Long)

  /** The audit complement of dedupStream: emits one row PER DUPLICATE
    * occurrence (first sightings pass silently), with the running
    * occurrence number — the "what did we drop" stream a curation
    * pipeline logs. State is HORIZON-BOUNDED exactly like
    * [[dedupStream]]'s `dropDuplicatesWithinWatermark` contract: the
    * watermark delay is the audit guarantee window. A key's counter
    * evicts (EventTimeTimeout) once the watermark passes its last-seen
    * event time — i.e. after `watermark` of key silence — so a duplicate
    * arriving beyond the horizon counts as a fresh first sighting, and
    * state is bounded by keys active within the horizon, not stream
    * lifetime. */
  def duplicateAudit(events: DataFrame, keyCol: String,
                     watermark: String = "365 days"): Dataset[DupHit] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .select(col(keyCol).cast("long").as("key"), col("event_id"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DupAuditState, DupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[DupAuditState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(DupAuditState(0L, 0L))
            val out = rows.toSeq.sortBy(r => (r._3.getTime, r._2))
              .flatMap { case (_, eid, ts) =>
                st = DupAuditState(st.n + 1, math.max(st.lastMs, ts.getTime))
                if (st.n > 1) Some(DupHit(key, eid, st.n)) else None
              }
            state.update(st)
            // evict once the watermark passes the key's last sighting
            state.setTimeoutTimestamp(
              math.max(st.lastMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** Per-key event-time frontier (µs) + last-seen event-time ms — the
    * state of [[lateQuarantine]]: two longs per active key. */
  final case class LateState(frontierUs: Long, lastMs: Long)

  final case class LateEvent(user_id: Long, event_id: Long,
                             lateness_us: Long)

  /** Late-data quarantine router — the dead-letter pattern every
    * watermark-based pipeline needs beside it: an event whose timestamp
    * has regressed more than `latenessUs` behind its key's event-time
    * FRONTIER (the max ts seen earlier in arrival order) is emitted to
    * the quarantine stream with its measured lateness, instead of being
    * silently dropped the way a watermarked aggregate would. The caller
    * names the arrival order via `arrivalSeqCol` (a monotone ingest
    * sequence — a Kafka offset, a file sequence, or the simulated shard
    * interleave the gate row uses); each micro-batch's per-key group is
    * folded in that order, so the quarantine set is deterministic and
    * batch-reproducible (the window-function oracle) no matter how rows
    * shuffle inside a batch.
    *
    * State is TWO LONGS per key — the frontier and the last-seen ms that
    * arms eviction — the smallest state machine in this file: no buffer,
    * because routing needs only the running max. A key idle past the
    * watermark delay evicts (EventTimeTimeout); if it later returns, the
    * frontier restarts from the WATERMARK floor (wm − lateness), which is
    * exactly the lateness bound Spark's own stateful operators enforce —
    * an event below that floor is late by the engine's contract even
    * with no per-key history. Scale shape: shards by key, O(1) state,
    * map-side nothing — a 100 TB/day ingest quarantines with one shuffle
    * by key and 16 bytes of state per active key. */
  def lateQuarantine(events: DataFrame, arrivalSeqCol: String,
                     latenessUs: Long,
                     watermark: String = "365 days"): Dataset[LateEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    def us(ts: java.sql.Timestamp): Long =
      ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
    events.withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col(arrivalSeqCol).cast("long"), col("ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LateState, LateEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[LateState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            // absent state restarts at the watermark floor (see Scaladoc);
            // Long.MinValue guards the floor arithmetic from underflow
            var st = state.getOption.getOrElse(LateState(
              if (wmUs > 0L) wmUs - latenessUs else Long.MinValue, 0L))
            val out = rows.toSeq.sortBy(r => (r._3, r._2))
              .flatMap { case (_, eid, _, ts) =>
                val tUs = us(ts)
                val late = st.frontierUs != Long.MinValue &&
                  st.frontierUs - tUs > latenessUs
                st = LateState(math.max(st.frontierUs, tUs),
                  math.max(st.lastMs, ts.getTime))
                if (late) Some(LateEvent(uid, eid, st.frontierUs - tUs))
                else None
              }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(st.lastMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** State of [[budgetAdmission]]: the finalized running admission fold
    * (cum / cumMax / admitted count / admitted spend, all exact centi
    * longs) plus the out-of-order tail still above the watermark. The
    * buffer holds ONLY events the watermark hasn't finalized — each
    * invocation folds the below-watermark prefix into the four longs and
    * drops it — so per-key state is O(horizon), not O(events). */
  final case class BudgetState(buf: List[(Long, Long, Long)],
      cum: Long, cumMax: Long, nAdm: Long, spend: Long, lastMs: Long)

  final case class BudgetRow(user_id: Long, n_admitted: Long,
                             spend_centi: Long)

  /** Streaming per-key budget admission — curation-at-ingest: admit each
    * key's events in EVENT-TIME order while the running spend stays
    * within `budgetCenti`; once the prefix first exceeds the budget,
    * everything after is rejected (take-while, not knapsack — a later
    * small event does NOT sneak in, so the admitted set is a prefix and
    * batch-reproducible). The per-user row (admitted count, admitted
    * spend) emits ONCE when the watermark passes the user's last event —
    * the [[funnelStream]] finalization contract — computed over the full
    * history, so it is bit-identical to the batch cumsum formulation.
    *
    * The admission test is `max(cum) so far <= budget`, not
    * `cum <= budget`: with possibly-negative values the cumsum is
    * non-monotone, and the running-max form is what makes "stop at the
    * first overflow" well-defined (and expressible as two stacked
    * windows in the DuckDB oracle). Values fold at exact centi precision
    * (the ExactMoney idiom), so no float sum order can perturb the cut.
    *
    * Scale shape: shards by key like every state machine here; per-key
    * state is four longs plus the above-watermark tail (in-order ingest:
    * at most one micro-batch of tail), evicted at watermark close. A
    * returning evicted key restarts from a zero fold — admission is a
    * within-horizon policy, like [[sessionStats]]' running view. */
  def budgetAdmission(events: DataFrame, budgetCenti: Long,
                      watermark: String = "1 minute"): Dataset[BudgetRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    def us(ts: java.sql.Timestamp): Long =
      ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
    def fold(st: BudgetState, entries: List[(Long, Long, Long)])
        : BudgetState =
      entries.foldLeft(st) { case (s, (_, _, vc)) =>
        val cum = s.cum + vc
        val cumMax = math.max(s.cumMax, cum)
        if (cumMax <= budgetCenti)
          s.copy(buf = Nil, cum = cum, cumMax = cumMax,
            nAdm = s.nAdm + 1, spend = s.spend + vc)
        else s.copy(buf = Nil, cum = cum, cumMax = cumMax)
      }
    events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), round(col("value") * 100, 0).cast("long"))
      .as[(Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BudgetState, BudgetRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[BudgetState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastMs => every buffered event is final
            val st = state.get
            val fin = fold(st, st.buf.sortBy(e => (e._1, e._2)))
            state.remove()
            Iterator.single(BudgetRow(uid, fin.nAdm, fin.spend))
          } else {
            var st = state.getOption
              .getOrElse(BudgetState(Nil, 0L, Long.MinValue, 0L, 0L, 0L))
            val add = rows.map(r => (us(r._3), r._2, r._4)).toList
            val lastMs = add.foldLeft(st.lastMs)((m, e) =>
              math.max(m, e._1 / 1000L))
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            // fold the finalized prefix (no event below the watermark can
            // still arrive — the engine drops it as late), keep the tail
            val (fin, tail) = (st.buf ::: add)
              .sortBy(e => (e._1, e._2)).partition(_._1 < wmUs)
            st = fold(st, fin).copy(buf = tail, lastMs = lastMs)
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(st.lastMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }(StateEncoders.budget, implicitly[Encoder[BudgetRow]])
  }

  /** Running stats + last-seen event-time ms — the timeout anchor that
    * bounds [[sessionStats]] state. */
  final case class UserStatsState(stats: UserSession, lastMs: Long)

  /** Stateful per-user running session stats via mapGroupsWithState:
    * arbitrary state (count, value sum, last event type) maintained per
    * key across micro-batches. State is HORIZON-BOUNDED
    * (EventTimeTimeout): a user idle past the watermark delay emits one
    * final snapshot and evicts, so the store holds users active within
    * the horizon, not every user ever seen — the same design floor as
    * every other state machine in this file. A returning user restarts
    * from zero (running stats are a within-horizon view; lifetime totals
    * belong to the batch/incremental-agg surface). */
  /** Per-user funnel buffers — the state of [[funnelStream]]. The buffers
    * are EXACTLY compacted, not truncated: a discarded click/purchase is
    * provably dominated OR provably dead below the watermark (see
    * funnelStream's invariant note), so on an in-order stream each user's
    * state is O(1) — minView + one candidate click + one candidate
    * purchase — including view-less users (whose buffered events prune at
    * the watermark floor); out-of-order arrival grows it only by events
    * inside the watermark horizon that undercut the running thresholds. */
  final case class FunnelState(minViewUs: Long, hasView: Boolean,
      clicks: List[Long], purchases: List[Long], lastMs: Long)

  final case class FunnelStage(user_id: Long, funnel_stage: Long)

  /** Streaming ordered conversion funnel — the unbounded-stream
    * counterpart of the batch q_a9_funnel: per user, how far through
    * view → click-at-or-after-first-view → purchase-at-or-after-that
    * did the event history get. A user's stage emits ONCE, when the
    * watermark passes their last event (EventTimeTimeout armed at
    * lastMs+1 — the sessionStats idle-eviction contract), computed over
    * their full finalized history at microsecond precision, so the
    * emitted row is bit-identical to the batch operator's.
    *
    * State compaction invariant (why the buffers stay O(1) in-order):
    * minView only decreases as information arrives, so the final
    * thresholds satisfy mv_final <= mv_cur and mc_final <= mc_cur. A
    * click is kept iff it is below mv_cur (might validate later) or is
    * the minimum at-or-above mv_cur; any discarded click c has a kept
    * click c' with mv_cur <= c' < c, and since mv_final <= mv_cur, c'
    * is valid at close and smaller — c can never be the winning
    * minimum. Purchases compact identically against mc_cur. Below the
    * WATERMARK the lo buffers prune too: a buffered t < wm validates
    * only via a future view/click <= t, which arrives late and drops —
    * so view-less users' click/purchase buffers stay watermark-bounded
    * instead of O(events). Every event type (including signup/error)
    * updates lastMs so stage-0 users exist in the output, matching the
    * batch DISTINCT universe.
    *
    * Scale shape: state shards by user like every keyed operator here;
    * per-key state is a handful of longs plus the out-of-order tail,
    * and evicts at watermark close — bounded on an unbounded stream. */
  def funnelStream(events: DataFrame,
                   watermark: String = "1 minute"): Dataset[FunnelStage] = {
    val spark = events.sparkSession
    import spark.implicits._
    def us(ts: java.sql.Timestamp): Long =
      ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
    // keep everything in [wmUs, bound) (it may validate once the running
    // threshold drops) plus the single best candidate at-or-above bound.
    // The watermark floor is what bounds state for view-less / long-lived
    // keys: a buffered timestamp t < wmUs could only validate via a
    // future view/click <= t, which the watermark would drop as late —
    // so below-watermark lo-side events are provably dead and pruned
    // (without this, a user with clicks but no view kept EVERY click,
    // O(events) state on an unbounded stream).
    def compact(xs: List[Long], bound: Option[Long], wmUs: Long): List[Long] =
      bound match {
        case None => xs.filter(_ >= wmUs)
        case Some(b) =>
          val (lo, hi) = xs.partition(_ < b)
          lo.filter(_ >= wmUs) ::: hi.minOption.toList
      }
    events
      .withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStage](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, batch, state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            val mv = if (st.hasView) Some(st.minViewUs) else None
            val mc = mv.flatMap(v => st.clicks.filter(_ >= v).minOption)
            val mp = mc.flatMap(c => st.purchases.filter(_ >= c).minOption)
            state.remove()
            val stage =
              if (mp.isDefined) 3L
              else if (mc.isDefined) 2L
              else if (mv.isDefined) 1L else 0L
            Iterator.single(FunnelStage(uid, stage))
          } else {
            var st = state.getOption
              .getOrElse(FunnelState(0L, hasView = false, Nil, Nil, 0L))
            batch.foreach { e =>
              val t = us(e.ts)
              st = e.event_type match {
                case "view" => st.copy(
                  minViewUs =
                    if (st.hasView) math.min(st.minViewUs, t) else t,
                  hasView = true)
                case "click" => st.copy(clicks = t :: st.clicks)
                case "purchase" => st.copy(purchases = t :: st.purchases)
                case _ => st
              }
              st = st.copy(lastMs = math.max(st.lastMs, e.ts.getTime))
            }
            val mv = if (st.hasView) Some(st.minViewUs) else None
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val clicks = compact(st.clicks, mv, wmUs)
            val mcCur = mv.flatMap(v => clicks.filter(_ >= v).minOption)
            val purchases = compact(st.purchases, mcCur, wmUs)
            st = st.copy(clicks = clicks, purchases = purchases)
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(st.lastMs + 1, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }(StateEncoders.funnel, implicitly[Encoder[FunnelStage]])
  }

  /** Streaming exact distinct users per hour — chained stateful
    * operators (dedup → windowed aggregate) in append mode, the
    * COUNT(DISTINCT) a streaming aggregate cannot express directly.
    * `dropDuplicatesWithinWatermark` on (user_id, hour) keeps the first
    * row per key; each survivor contributes exactly 1 to its hour's
    * count. The watermark delay must cover the dedup key's event-time
    * SPAN (two rows of one (user, hour) key can sit 59 minutes apart,
    * and WithinWatermark only guarantees dedup for rows within the
    * delay of each other) — hence the 65-minute default: window span
    * plus out-of-order slack. Dedup state evicts one horizon after a
    * key's hour passes; aggregate windows emit (append) once the
    * watermark passes their end — bounded state on both operators. */
  def windowedDistinctUsers(events: DataFrame,
                            watermark: String = "65 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .withColumn("hour", date_trunc("hour", col("ts")))
      .dropDuplicatesWithinWatermark("user_id", "hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("window.start").as("window_start"), col("n_users"))

  def sessionStats(events: DataFrame,
                   watermark: String = "365 days"): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStatsState, UserSession](
        GroupStateTimeout.EventTimeTimeout) {
        case (userId, batch, state: GroupState[UserStatsState]) =>
          if (state.hasTimedOut) {
            // final snapshot, then evict — the update-mode sink already
            // holds these values; the emit keeps mapGroups' one-row
            // contract while freeing the store row
            val fin = state.get.stats
            state.remove()
            fin
          } else {
            val prev = state.getOption
              .getOrElse(UserStatsState(UserSession(userId, 0L, 0.0, ""), 0L))
            val evs = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val next = UserStatsState(
              UserSession(
                userId,
                prev.stats.n_events + evs.size,
                prev.stats.total_value + evs.map(_.value).sum,
                if (evs.nonEmpty) evs.last.event_type else prev.stats.last_type),
              math.max(prev.lastMs,
                evs.lastOption.map(_.ts.getTime).getOrElse(0L)))
            state.update(next)
            state.setTimeoutTimestamp(
              math.max(next.lastMs, state.getCurrentWatermarkMs() + 1))
            next.stats
          }
      }
  }
}
