package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.GraftStateStores
import org.apache.spark.sql.functions._

import graft.tools.Run

/** Driver-visible checks for the Structured Streaming surface. The
  * streaming operators are spec-verified in EventsStreamSpec; these entries
  * additionally run them under the driver's correctness gate: a bounded
  * fixture streamed through the real `readStream → transform → memory sink`
  * path must reproduce the batch answer DuckDB computes. Each stream reads
  * its table where it lies ([[inPlace]]) and returns the memory sink's own
  * rows ([[runToMemory]]): the drain stages no input and copies no output.
  */
object StreamingQueries {

  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Where the file stream source reads `table` of `dir`: in place. The
    * source rejects a plain file path (`basePath` must be a directory) but
    * takes a one-name glob, which matches a table kept as one parquet
    * file (the testdata) and a directory of part files (a generated scale
    * dir, ScaleSmokeMain gensf) alike. */
  private def inPlace(dir: String, table: String): String = s"$dir/{$table.parquet}"

  /** Stateful streaming ops allocate one state store PER shuffle partition
    * per operator side — at the bench's bounded fixture, 32-way state means
    * 100+ checkpoint files per micro-batch of pure fixed overhead. Scope
    * the session down while the stream runs (restored in finally).
    * Safe here because the driver contract runs queries SEQUENTIALLY
    * (Verify foreach / Bench reps); this is not a per-reader conf mutation
    * under concurrent execution. On a real cluster you'd size
    * spark.sql.shuffle.partitions to the state volume instead; here every
    * stream runs with this fixed count.
    *
    * r14 measured and REJECTED the candidate drain-constant levers, all
    * via interleaved same-JVM sweeps (OpProbeMain streamsweep — variants
    * alternate within each rep so this host's multi-minute co-tenant
    * bursts can't contaminate one whole variant):
    *  - state partitions 8 vs 4 vs 2 over the full 19-query family,
    *    per-query min-of-3 in a quiet window (load ≈ 2): sums 31.9 /
    *    32.1 / 30.4 s — flat within host noise (a burst-window sweep had
    *    suggested 44.4/33.1/31.3; the quiet re-run did not reproduce it).
    *  - RocksDB state store provider: q_s_stream_join_outer min 4.44 s
    *    vs 3.00 s default HDFS-backed — native store open/close overhead
    *    dwarfs any benefit at ≪1 MB per-partition state. Rejected.
    *  - state compression snappy (3.42 s) / zstd (worse, burst-window) vs
    *    lz4 default (3.00 s); stateStore.formatValidation off (3.35 s) —
    *    no winner. Rejected.
    * Per the stream probe (per-batch durationMs), the drain constant is
    * fixed per-query machinery — query start/plan (~0.3-0.8 s), two
    * micro-batches (the second is the watermark-advance emission batch,
    * required by append-mode semantics), state commit, stop — not a
    * tunable I/O cost at this state volume.
    * Those r14 numbers came from a 32-core host whose Hadoop local
    * filesystem still forked a `chmod`/`readlink` process per checkpoint
    * and state-store file (see GraftSession.builder). Much of that
    * "fixed machinery" was those forks. Without them, on 4 cores, 8
    * state partitions run as two task waves per stateful stage, yet
    * `min(8, defaultParallelism)` (4 here) did not pay: six alternating
    * pipeline_barriers pairs (seeds 1541-1546, 25 s runs) gave wall_s
    * medians of 3.83 s at 8 and 3.98 s at 4, with 4 winning 3 of 6. */
  val StatePartitions = 8

  private def withStatePartitions[A](s: SparkSession)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StatePartitions.toString)
    try f finally s.conf.set(key, prev)
  }

  /** Run a streaming frame to completion into a memory sink and return
    * the sink's own rows: the frame's plan reads them where the sink holds
    * them in memory (a `LocalTableScan`), so the drain copies nothing.
    * The sink's view is dropped at once, and the stopped run's state-store
    * providers are unloaded at once instead of at the next store
    * maintenance, so repeated runs in one JVM (bench reps) leave neither
    * behind: left loaded, every run kept its providers (16 for
    * q_s_stream_distinct) and their state rows on a long-lived JVM's heap.
    * Before the stop, the query's own progress reports go to the
    * [[graft.tools.Run]] in progress (its `RunRecord.stream`). */
  private def runToMemory(s: SparkSession, out: DataFrame, mode: String): DataFrame =
    withStatePartitions(s) {
      val name = s"graft_stream_${nextId.incrementAndGet()}"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      try {
        q.processAllAvailable()
        Run.recordStream(s.sparkContext, q.recentProgress.toSeq)
      } finally {
        q.stop()
        GraftStateStores.unload(q.runId)
      }
      val result = s.table(name)
      s.catalog.dropTempView(name)
      result
    }

  /** Streaming exact dedup, batch-equivalence form: stream the events
    * parquet as a micro-batch source, dedup on (user_id, event_type)
    * within a horizon covering the fixture, and emit the surviving KEY
    * SET. Which physical row survives per key is arrival-order dependent
    * (not cross-engine checkable), but the key set is deterministic and
    * equals batch DISTINCT — so the full streaming path (source → state
    * store → sink) gets a DuckDB-anchored driver check, not just a spec. */
  val streamDedup = Q(
    "q_s_stream_dedup",
    "Streaming dedup (dropDuplicatesWithinWatermark) key-set = batch DISTINCT",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream
        .dedupStream(src, Seq("user_id", "event_type"), watermark = "365 days")
      runToMemory(s, out, "append")
        .select(col("user_id"), col("event_type"))
    },
    Some("SELECT DISTINCT user_id, event_type FROM events"))

  /** Watermarked event-time window aggregation, batch-equivalence form:
    * the streaming hourly (window × event_type) counts/sums must equal the
    * batch GROUP BY date_trunc('hour') — the core streaming-agg semantics
    * (event-time windows, not arrival-time) under the driver gate. */
  val streamWindow = Q(
    "q_s_stream_window",
    "Streaming watermarked hourly windows = batch GROUP BY date_trunc",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.windowedCounts(src)
      runToMemory(s, out, "complete")
        .select(col("window_start"), col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value"))
    },
    Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
           | count(*) AS n, round(sum(value), 2) AS sum_value
           | FROM events GROUP BY 1, 2""".stripMargin.replace("\n", "")))

  /** Stream-stream interval join under the driver gate: the streaming
    * click→purchase attribution pairs must equal the batch self-join
    * DuckDB computes. Inner joins emit exactly the matched pairs (no
    * watermark-dependent row drops on a bounded in-order fixture), so the
    * full stream-stream machinery — two watermarked sides, range-bounded
    * buffered state — gets a hash-anchored check. */
  val streamJoin = Q(
    "q_s_stream_join",
    "Stream-stream interval join (click→purchase) = batch self-join",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream
        .clickToPurchaseJoin(src, windowHours = 24, watermark = "365 days")
      runToMemory(s, out, "append")
    },
    Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
           | FROM events c JOIN events p ON c.user_id = p.user_id
           |  AND c.event_type = 'click' AND p.event_type = 'purchase'
           |  AND date_trunc('microseconds', c.ts) <= date_trunc('microseconds', p.ts)
           |  AND date_trunc('microseconds', c.ts) >= date_trunc('microseconds', p.ts) - INTERVAL 24 HOUR"""
      .stripMargin.replace("\n", "")))

  /** The BUDGETED interval join under the driver gate
    * ([[graft.streaming.EventsStream.intervalJoinBudgeted]]): the same
    * click→purchase pairs as `q_s_stream_join`, through the guardrailed
    * operator a whale-keyed production stream should run — per-purchase
    * candidate budget, overflow audit rows. The budget here (1M) sits far
    * above any gate-SF per-purchase candidate count, so the emitted pairs
    * are EXACTLY the batch join's for ripe purchases and `n_suppressed`
    * is 0 everywhere — the oracle checks the pair semantics + emission
    * contract; the budget/audit behavior under pressure is spec-pinned
    * (EventsStreamSpec) and whale-measured (ScaleSmokeMain streamskew
    * `ss_budget`). Watermark contract mirrors `q_s_stream_asof`: state
    * comparisons are epoch-ms, purchases strictly below the resting
    * watermark (max event ms − 1 min) have emitted once the stream
    * drains. */
  val streamJoinCapped = Q(
    "q_s_stream_join_capped",
    "Budgeted stream-stream interval join = batch self-join + zero audits",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream
        .intervalJoinBudgeted(src, windowHours = 24,
          maxPairsPerPurchase = 1 << 20).toDF()
      runToMemory(s, out, "append")
    },
    Some("""WITH m AS (SELECT max(epoch_ms(ts)) - 60000 AS wm FROM events)
           | SELECT c.user_id, c.event_id AS click_id,
           |   p.event_id AS purchase_id, 0::BIGINT AS n_suppressed
           | FROM events c JOIN events p ON c.user_id = p.user_id
           |  AND c.event_type = 'click' AND p.event_type = 'purchase'
           |  AND epoch_ms(c.ts) <= epoch_ms(p.ts)
           |  AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 86400000
           | CROSS JOIN m WHERE epoch_ms(p.ts) < m.wm"""
      .stripMargin.replace("\n", "")))

  /** Stream-static enrichment under the driver gate: every streamed event
    * picks up its customer's market segment from the static broadcast dim;
    * result must hash-equal DuckDB's batch join. Stateless per-batch join
    * — the plan must show BroadcastHashJoin, no shuffle of the stream. */
  val streamEnrich = Q(
    "q_s_stream_enrich",
    "Stream-static broadcast enrichment = batch dim join",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val dim = graft.sources.Sources.table(s, dir, "customer")
      val out = graft.streaming.EventsStream
        .enrichStatic(src, dim, "user_id", "c_custkey", Seq("c_mktsegment"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
      runToMemory(s, out, "append")
    },
    Some("""SELECT e.event_id, e.user_id, c.c_mktsegment
           | FROM events e JOIN customer c ON e.user_id = c.c_custkey"""
      .stripMargin.replace("\n", "")))

  /** Stateful session windows (flatMapGroupsWithState) under the driver
    * gate: the streamed gap-sessions must equal the batch gaps-and-islands
    * computation under the EXACT emission contract EventsStreamSpec pins —
    * a session emits when a successor event closes it (any non-last
    * session per user), or when the event-time timeout fires for an idle
    * tail (end + gap strictly below the final watermark = max event time
    * − 1 min). The stream's state is ms-grained (epoch millis), so the
    * oracle computes the GAP TEST on epoch_ms too — a µs-precise gap
    * would disagree near the 30-min boundary for events with sub-ms
    * components (floor-of-diff vs diff-of-floors) — and truncates the
    * emitted timestamps to milliseconds. Tie order within one ms cannot
    * diverge: same-ms events have gap 0 under both orderings. This is
    * the one streaming operator family with CUSTOM state logic, so the
    * driver check covers the state machine itself, not a built-in. */
  val streamSession = Q(
    "q_s_stream_session",
    "Stateful streaming gap-sessions = batch islands (emission-pinned)",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream
        .sessionWindows(src, gapMinutes = 30).toDF()
      runToMemory(s, out, "append")
        .select(col("user_id"), col("start"), col("end"),
          col("n_events").cast("long").as("n_events"))
    },
    Some("""WITH g AS (SELECT user_id, ts, event_id,
           | CASE WHEN lag(ts) OVER w IS NULL
           |   OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS ns
           | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           | si AS (SELECT user_id, ts, sum(ns) OVER
           |   (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g),
           | sess AS (SELECT user_id, sid,
           |   date_trunc('milliseconds', min(ts)) AS "start",
           |   date_trunc('milliseconds', max(ts)) AS "end",
           |   count(*) AS n_events,
           |   max(sid) OVER (PARTITION BY user_id) AS max_sid
           |   FROM si GROUP BY user_id, sid),
           | m AS (SELECT epoch_ms(max(ts)) - 60000 AS wm FROM events)
           | SELECT user_id, "start", "end", n_events
           | FROM sess CROSS JOIN m
           | WHERE sid < max_sid OR epoch_ms("end") + 1800000 < wm"""
      .stripMargin.replace("\n", "")))

  /** Streaming as-of attribution under the driver gate: each purchase
    * pairs with the user's latest click at or before it (NULL if none) —
    * the TOP-1 form of click→purchase attribution, whose output is one row
    * per purchase where the interval join's is every pair (the measured
    * hot-key blowup in PERF_NOTES "Stateful streams under a whale key").
    * State comparisons are epoch-ms (the watermark grain), so the oracle
    * orders the interleaved click/purchase timeline on epoch_ms with
    * clicks first within a tie (click_ts <= purchase_ts includes equality)
    * and event_id last (the operator's same-ms tiebreak), then takes the
    * running last click id. Emission follows the sessionWindows contract:
    * purchases strictly below the resting watermark (max event ms − 1 min)
    * have emitted once the stream drains; later ones are still pending. */
  val streamAsof = Q(
    "q_s_stream_asof",
    "Streaming as-of attribution (latest click per purchase) = batch window",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.asofAttribution(src).toDF()
      runToMemory(s, out, "append")
    },
    Some("""WITH m AS (SELECT max(epoch_ms(ts)) - 60000 AS wm FROM events),
           | u AS (SELECT user_id, epoch_ms(ts) AS ms, event_id,
           |   CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
           |   FROM events WHERE event_type IN ('click', 'purchase')),
           | j AS (SELECT user_id, ms, event_id, kind,
           |   last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
           |     OVER (PARTITION BY user_id ORDER BY ms, kind, event_id
           |           ROWS UNBOUNDED PRECEDING) AS click_id
           |   FROM u)
           | SELECT j.user_id, j.event_id AS purchase_id, j.click_id
           | FROM j CROSS JOIN m WHERE j.kind = 1 AND j.ms < m.wm"""
      .stripMargin.replace("\n", "")))

  /** Streaming windowed heavy hitters under the driver gate: the
    * SpaceSaving summary as an hourly streaming aggregate. With 5
    * distinct event types against capacity 16 every partial summary
    * stays under capacity, where SpaceSaving is EXACT by construction
    * (err 0, counts true, merge-order-independent) — so the decoded
    * sketch must hash-equal DuckDB's plain per-window GROUP BY. This is
    * the regime pin for the streaming sketch path; the over-capacity
    * est/err guarantees are covered by SpaceSavingSpec and the batch
    * anchor. The sketch triples decode via array builtins (no UDF) and
    * hashes join back to tokens through the static type dim. */
  val streamHeavy = Q(
    "q_s_stream_heavy",
    "Streaming windowed SpaceSaving top-k = exact counts under capacity",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.windowedHeavyHitters(src)
      val raw = runToMemory(s, out, "complete")
      val entries = raw.filter(size(col("sk")) > 0)
        .select(col("window_start"), explode(expr(
          "transform(sequence(0, int(size(sk)/3) - 1), " +
            "i -> struct(sk[3*i] AS h, sk[3*i+1] AS est))")).as("e"))
        .select(col("window_start"), col("e.h").as("h"),
          col("e.est").as("n"))
      val dim = graft.sources.Sources.table(s, dir, "events")
        .select(col("event_type")).distinct()
        .select(col("event_type"), xxhash64(col("event_type")).as("h"))
      entries.join(broadcast(dim), "h")
        .select(col("window_start"), col("event_type"), col("n"))
    },
    Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
           | count(*) AS n FROM events GROUP BY 1, 2"""
      .stripMargin.replace("\n", "")))

  /** Streaming SCD2 maintenance under the driver gate: the stream folds
    * purchase-tier observations into versioned history, emitting each
    * version the moment the change that closes it finalizes under the
    * watermark. The oracle is the BATCH SCD2 build (`q_x_scd2_build`'s
    * SQL) restricted to closed versions below the resting watermark —
    * the same emission contract as `q_s_stream_asof`. Values
    * (valid_from_us/valid_to_us/version) must be BIT-IDENTICAL to the
    * batch operator's, not merely the same cardinality. */
  val streamScd2 = Q(
    "q_s_stream_scd2",
    "Streaming SCD2 versions = batch history, closed below the watermark",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.scd2Stream(src).toDF()
      runToMemory(s, out, "append")
    },
    Some("""WITH m AS (SELECT (max(epoch_ms(ts)) - 60000) * 1000 AS wmus
           |   FROM events),
           | p AS (SELECT user_id, ts, event_id,
           |   CASE WHEN value >= 50 THEN 'gold' ELSE 'basic' END AS tier
           | FROM events WHERE event_type = 'purchase'),
           | c AS (SELECT *, lag(tier) OVER
           |   (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM p),
           | ch AS (SELECT user_id, ts, event_id, tier FROM c
           |   WHERE prev IS NULL OR prev <> tier),
           | v AS (SELECT user_id, tier, epoch_us(ts) AS valid_from_us,
           |   lead(epoch_us(ts)) OVER
           |     (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us,
           |   CAST(row_number() OVER
           |     (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           |     AS version
           |   FROM ch)
           | SELECT user_id, tier, valid_from_us, valid_to_us, version
           | FROM v CROSS JOIN m
           | WHERE valid_to_us IS NOT NULL AND valid_to_us < m.wmus"""
      .stripMargin.replace("\n", "")))

  /** Streaming quiet-close EWMA ([[graft.streaming.EventsStream.ewmaStream]]):
    * a smoothed-level row per user per >horizon event-time gap, plus the
    * trailing row the resting watermark confirms. Emission is
    * arrival-independent (gap rows need both gap sides final; trailing
    * rows need wm_ms > E_ms + horizon), so the oracle reproduces the
    * exact row SET: emission points via lead() + the resting watermark,
    * each level as the identical integer-weighted trailing-16 window the
    * batch q_x_ewma uses — streaming and batch smoothing are
    * BIT-IDENTICAL on the same prefix. */
  val streamEwma = Q(
    "q_s_stream_ewma",
    "Streaming quiet-close EWMA levels = batch trailing-16 window",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.ewmaStream(src).toDF()
      runToMemory(s, out, "append")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS eus,
           |     epoch_ms(ts) AS ems, event_id,
           |     CAST(round(value * 100.0) AS BIGINT) AS vc,
           |     row_number() OVER (PARTITION BY user_id
           |       ORDER BY ts, event_id) AS rn,
           |     lead(epoch_ms(ts)) OVER (PARTITION BY user_id
           |       ORDER BY ts, event_id) AS nextms
           |   FROM events),
           | m AS (SELECT max(epoch_ms(ts)) - 60000 AS wmms FROM events),
           | emit AS (SELECT user_id, eus, rn FROM e CROSS JOIN m
           |   WHERE (nextms IS NULL OR nextms - ems > 60000)
           |     AND ems + 60000 < wmms),
           | w AS (SELECT emit.user_id, emit.eus, b.vc,
           |     emit.rn - b.rn AS j
           |   FROM emit JOIN e b ON b.user_id = emit.user_id
           |     AND b.rn BETWEEN emit.rn - 15 AND emit.rn)
           | SELECT user_id, eus AS asof_us, count(*) AS n_used,
           |   round(CAST(sum(CAST(power(3, j) AS BIGINT)
           |       * CAST(power(4, 15 - j) AS BIGINT) * vc) AS DOUBLE)
           |     / CAST(sum(CAST(power(3, j) AS BIGINT)
           |       * CAST(power(4, 15 - j) AS BIGINT)) AS DOUBLE)
           |     / 100.0, 6) AS ewma
           | FROM w GROUP BY user_id, eus"""
      .stripMargin.replace("\n", "")))

  /** Streaming ordered funnel under the driver gate
    * ([[graft.streaming.EventsStream.funnelStream]]): per-user
    * view→click→purchase stage, emitted once per user when the
    * watermark passes their last event (EventTimeTimeout armed at
    * lastMs+1 — fires strictly below the watermark, the sessionWindows
    * contract). The oracle is the batch q_a9_funnel computation
    * restricted to users whose ENTIRE history is final under the
    * resting watermark (max event ms − 1 min): for exactly those users
    * the streaming stage is computed over the same complete history at
    * microsecond precision, so rows must hash-match bit-for-bit. */
  val streamFunnel = Q(
    "q_s_stream_funnel",
    "Streaming ordered funnel stage per user = batch funnel, final users",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.funnelStream(src).toDF()
      runToMemory(s, out, "append")
    },
    Some("""WITH m AS (SELECT max(epoch_ms(ts)) - 60000 AS wm FROM events),
           | e AS (SELECT user_id, event_type, ts, epoch_ms(ts) AS ems
           |   FROM events),
           | done AS (SELECT user_id FROM e CROSS JOIN m
           |   GROUP BY user_id, m.wm HAVING max(ems) + 1 < m.wm),
           | v AS (SELECT user_id, min(ts) AS mv FROM e
           |   WHERE event_type = 'view' GROUP BY 1),
           | c AS (SELECT e.user_id, min(e.ts) AS mc FROM e
           |   JOIN v USING (user_id)
           |   WHERE event_type = 'click' AND e.ts >= v.mv GROUP BY 1),
           | p AS (SELECT e.user_id, min(e.ts) AS mp FROM e
           |   JOIN c USING (user_id)
           |   WHERE event_type = 'purchase' AND e.ts >= c.mc GROUP BY 1)
           | SELECT u.user_id, CAST(CASE
           |   WHEN p.user_id IS NOT NULL THEN 3
           |   WHEN c.user_id IS NOT NULL THEN 2
           |   WHEN v.user_id IS NOT NULL THEN 1
           |   ELSE 0 END AS BIGINT) AS funnel_stage
           | FROM done u
           | LEFT JOIN v USING (user_id)
           | LEFT JOIN c USING (user_id)
           | LEFT JOIN p USING (user_id)"""
      .stripMargin.replace("\n", "")))

  /** Streaming exact distinct-users-per-hour under the driver gate
    * ([[graft.streaming.EventsStream.windowedDistinctUsers]]): chained
    * stateful operators — dedup on (user, hour) then a windowed count —
    * in append mode, the COUNT(DISTINCT) a streaming aggregate cannot
    * express directly. Append-mode windows finalize once the watermark
    * passes their end, so the oracle keeps hours whose end sits at or
    * below the resting watermark (max event ms − the 65-minute dedup
    * horizon); the last partial hour is still pending by construction. */
  val streamDistinct = Q(
    "q_s_stream_distinct",
    "Streaming dedup+window chain = batch COUNT(DISTINCT) per hour",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.windowedDistinctUsers(src)
      runToMemory(s, out, "append")
    },
    Some("""WITH m AS (SELECT max(epoch_ms(ts)) - 3900000 AS wm FROM events)
           | SELECT date_trunc('hour', ts) AS window_start,
           |   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           | FROM events CROSS JOIN m
           | GROUP BY 1, m.wm
           | HAVING epoch_ms(date_trunc('hour', ts)) + 3600000 <= m.wm"""
      .stripMargin.replace("\n", "")))

  /** Streaming hopping windows under the driver gate
    * ([[graft.streaming.EventsStream.hoppingCounts]]): the sliding
    * `window(ts, 1h, 15m)` aggregate streamed in APPEND mode — the mode
    * where the watermark actually evicts state (complete mode disables
    * eviction, so on an unbounded stream both state and the result table
    * would grow with every calendar window ever opened). Append emits
    * exactly the FINALIZED windows — window_end ≤ watermark (max event
    * time − 2 h, the q_s_stream_distinct idiom) — so the oracle is the
    * batch sliding-window result (Spark's epoch-aligned window set
    * reconstructed as slot − k·15 min, k = 0..3) restricted to those
    * windows; value sums ride the ExactMoney fixed-point path so
    * state-store merge order can't move a cent. */
  val streamHopping = Q(
    "q_s_stream_hopping",
    "Streaming sliding windows(1h,15m), append mode = finalized batch windows",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.hoppingCounts(src)
      runToMemory(s, out, "append")
    },
    Some("""WITH m AS (SELECT max(epoch_ms(ts)) - 7200000 AS wm FROM events),
           | e AS (SELECT event_type, epoch_us(ts) AS us,
           |     CAST(round(value * 100.0) AS BIGINT) AS vc FROM events),
           | w AS (SELECT event_type, vc, (us // 900000000) * 900000000
           |     - CAST(k.i AS BIGINT) * 900000000 AS ws_us
           |   FROM e CROSS JOIN (VALUES (0), (1), (2), (3)) k(i))
           | SELECT make_timestamp(ws_us) AS window_start,
           |   event_type, count(*) AS n,
           |   sum(vc) / 100.0e0 AS sum_value
           | FROM w CROSS JOIN m
           | GROUP BY ws_us, event_type, m.wm
           | HAVING ws_us // 1000 + 3600000 <= m.wm"""
      .stripMargin.replace("\n", "")))

  /** LEFT OUTER stream-stream interval join under the driver gate
    * ([[graft.streaming.EventsStream.clickToPurchaseLeftJoin]]): matched
    * pairs are exactly the inner join's (they emit on arrival); a
    * never-matched click's NULL row emits when its state evicts — joint
    * watermark (min of the two sides, the default min-policy) strictly
    * past click_ts + 24 h. The oracle reproduces both sets: the batch
    * interval join, plus the unmatched clicks whose eviction bound is
    * below the resting joint watermark. */
  val streamJoinOuter = Q(
    "q_s_stream_join_outer",
    "Streaming LEFT OUTER interval join = batch pairs + evicted NULL rows",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.clickToPurchaseLeftJoin(src)
      runToMemory(s, out, "append")
    },
    Some("""WITH m AS (SELECT least(
           |     (SELECT max(epoch_ms(ts)) FROM events
           |       WHERE event_type = 'click'),
           |     (SELECT max(epoch_ms(ts)) FROM events
           |       WHERE event_type = 'purchase')) - 60000 AS wm),
           | c AS (SELECT user_id, event_id AS click_id, ts AS click_ts,
           |     epoch_ms(ts) AS cms
           |   FROM events WHERE event_type = 'click'),
           | p AS (SELECT user_id, event_id AS purchase_id,
           |     ts AS purchase_ts
           |   FROM events WHERE event_type = 'purchase'),
           | pairs AS (SELECT c.user_id, c.click_id, p.purchase_id
           |   FROM c JOIN p ON c.user_id = p.user_id
           |     AND c.click_ts <= p.purchase_ts
           |     AND c.click_ts >= p.purchase_ts - INTERVAL 24 HOURS),
           | matched AS (SELECT DISTINCT click_id FROM pairs)
           | SELECT user_id, click_id, purchase_id FROM pairs
           | UNION ALL
           | SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT)
           |   AS purchase_id
           | FROM c CROSS JOIN m LEFT JOIN matched USING (click_id)
           | WHERE matched.click_id IS NULL
           |   AND c.cms + 86400000 < m.wm"""
      .stripMargin.replace("\n", "")))

  /** Late-data quarantine under the driver gate
    * ([[graft.streaming.EventsStream.lateQuarantine]]): the fixture's
    * events are perfectly time-ordered by event_id, so the gate simulates
    * the standard real-world disorder source — multi-shard ingestion —
    * with a PORTABLE arithmetic arrival order: 50-event ingest blocks
    * drain across 7 shards ((id div 50), then id mod 7). Every event
    * regressing >5 min behind its user's running event-time frontier in
    * that order lands in quarantine with its measured lateness; DuckDB
    * reproduces the same set with a running-max window over the same
    * arrival sequence. ~4% of the fixture quarantines — non-vacuous at
    * every SF. */
  val streamLate = Q(
    "q_s_stream_late",
    "Streaming late-data quarantine = batch frontier-regression audit",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
        .withColumn("arrival_seq",
          expr("((event_id DIV 50) * 7 + event_id % 7) * 10000000" +
            " + event_id"))
      val out = graft.streaming.EventsStream.lateQuarantine(
        src, "arrival_seq", latenessUs = 300L * 1000000L,
        watermark = "365 days")
      runToMemory(s, out.toDF(), "append")
    },
    Some("""WITH a AS (SELECT user_id, event_id,
           |   date_trunc('microseconds', ts) AS ts,
           |   ((event_id // 50) * 7 + event_id % 7) * 10000000
           |     + event_id AS arrival_seq FROM events),
           | f AS (SELECT user_id, event_id, ts,
           |   max(ts) OVER (PARTITION BY user_id ORDER BY arrival_seq
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |     AS frontier FROM a)
           | SELECT user_id, event_id,
           |   CAST(epoch_us(frontier) - epoch_us(ts) AS BIGINT)
           |     AS lateness_us
           | FROM f WHERE epoch_us(frontier) - epoch_us(ts) > 300000000"""
      .stripMargin.replace("\n", "")))

  /** Streaming per-user budget admission
    * ([[graft.streaming.EventsStream.budgetAdmission]]) under the driver
    * gate: the take-while prefix cut (admit while running max of the
    * centi-exact cumsum stays within 3000.00) must equal the batch
    * two-stacked-windows formulation, restricted — like q_s_stream_funnel
    * — to users whose entire history is final under the resting
    * watermark. The 3000.00 budget sits near the per-user spend median,
    * so both exhausted and unexhausted users appear at every SF. */
  val streamBudget = Q(
    "q_s_stream_budget",
    "Streaming budget admission (take-while prefix) = batch cumsum cut",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream
        .budgetAdmission(src, budgetCenti = 300000L)
      runToMemory(s, out.toDF(), "append")
    },
    Some("""WITH m AS (SELECT max(epoch_ms(ts)) - 60000 AS wm FROM events),
           | e AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS ems,
           |   CAST(round(value * 100.0) AS BIGINT) AS vc FROM events),
           | done AS (SELECT user_id FROM e CROSS JOIN m
           |   GROUP BY user_id, m.wm HAVING max(ems) + 1 < m.wm),
           | c AS (SELECT user_id, event_id, ts, vc, sum(vc) OVER
           |   (PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS UNBOUNDED PRECEDING) AS cum FROM e),
           | a AS (SELECT user_id, vc, max(cum) OVER
           |   (PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS UNBOUNDED PRECEDING) AS cummax FROM c)
           | SELECT a.user_id,
           |   CAST(count(*) FILTER (cummax <= 300000) AS BIGINT)
           |     AS n_admitted,
           |   CAST(coalesce(sum(vc) FILTER (cummax <= 300000), 0)
           |     AS BIGINT) AS spend_centi
           | FROM a JOIN done USING (user_id) GROUP BY a.user_id"""
      .stripMargin.replace("\n", "")))

  /** Streaming distribution-drift monitor
    * ([[graft.streaming.EventsStream.driftCells]]): per finalized hour
    * window × type, the milli-floored log rate ratio against a static
    * expected-rate table (here the fixture's own mean hourly rate, so
    * cells measure hour-to-hour deviation around 0). Append mode emits
    * exactly the windows whose end is at or below the resting watermark
    * (max event ms − 2 h, the hopping-gate idiom); the oracle mirrors
    * both the restriction and the double arithmetic order. */
  val streamDrift = Q(
    "q_s_stream_drift",
    "Streaming per-window rate-drift cells vs static expected rates",
    (s, dir) => {
      val batchEv = graft.sources.Sources.table(s, dir, "events")
      val nh = batchEv.select(date_trunc("hour", col("ts")))
        .distinct().count()
      val expected = batchEv.groupBy(col("event_type"))
        .agg(count(lit(1)).as("c"))
        .select(col("event_type"),
          (col("c").cast("double") / lit(nh.toDouble))
            .as("exp_per_window"))
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.driftCells(src, expected)
      runToMemory(s, out, "append")
    },
    Some("""WITH m AS (SELECT max(epoch_ms(ts)) - 7200000 AS wm FROM events),
           | h AS (SELECT count(DISTINCT date_trunc('hour', ts)) AS nh FROM events),
           | e AS (SELECT event_type, count(*) AS c FROM events GROUP BY 1),
           | w AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
           |   count(*) AS n FROM events CROSS JOIN m GROUP BY 1, 2, m.wm
           |   HAVING epoch_ms(date_trunc('hour', ts)) + 3600000 <= m.wm)
           | SELECT w.window_start, w.event_type, CAST(w.n AS BIGINT) AS n,
           |   CAST(floor(ln(w.n / (e.c / h.nh)) * 1000) AS BIGINT)
           |     AS drift_milli
           | FROM w JOIN e USING (event_type) CROSS JOIN h"""
      .stripMargin.replace("\n", "")))

  /** Streaming weighted sampling
    * ([[graft.streaming.EventsStream.windowedWeightedSample]]): the
    * Efraimidis-Spirakis selection of q_x_weighted_sample pushed through
    * a streaming hour window — the EXACT sampled ids hash-check against
    * DuckDB recomputing the identical ln(u)/w key, restricted to
    * finalized windows (the hopping/distinct idiom). */
  val streamSample = Q(
    "q_s_stream_sample",
    "Streaming per-window E-S weighted sample = batch key ranking",
    (s, dir) => {
      val src = graft.streaming.EventsStream.readEvents(s, inPlace(dir, "events"))
      val out = graft.streaming.EventsStream.windowedWeightedSample(src)
      runToMemory(s, out, "append")
    },
    Some("""WITH m AS (SELECT max(epoch_ms(ts)) - 7200000 AS wm FROM events),
           | e AS (SELECT date_trunc('hour', ts) AS window_start, event_id,
           |   ln((CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 12)
           |     AS BIGINT) + 0.5) / 281474976710656.0) / value AS esk
           |   FROM events WHERE value > 0),
           | f AS (SELECT e.* FROM e CROSS JOIN m
           |   WHERE epoch_ms(window_start) + 3600000 <= m.wm),
           | r AS (SELECT window_start, event_id, row_number() OVER
           |   (PARTITION BY window_start ORDER BY esk DESC, event_id)
           |   AS rank FROM f)
           | SELECT window_start, CAST(rank AS BIGINT) AS rank, event_id
           | FROM r WHERE rank <= 5""".stripMargin.replace("\n", "")))

  /** Streaming quality admission
    * ([[graft.streaming.DocsStream.qualityAdmission]]): the curation
    * funnel's quality+language gate as a stateless streaming ingest
    * stage — every doc streamed through the real readStream→memory-sink
    * path carries its langid, integer-bp quality score, and admission
    * verdict (the budgetAdmission filter-plus-audit idiom, map-only).
    * The oracle re-derives both scores batch-side, so the row hash
    * certifies stream/batch equivalence of the full gate. */
  val streamQuality = Q(
    "q_s_stream_quality",
    "Streaming quality+langid admission gate = batch scoring",
    (s, dir) => {
      val src = graft.streaming.DocsStream.readDocuments(s, inPlace(dir, "documents"))
      val out = graft.streaming.DocsStream.qualityAdmission(src, minBp = 5000L)
      runToMemory(s, out, "append")
    },
    Some("""WITH sc AS (SELECT doc_id,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('the','of','and','to','in','is','that','it','for'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 0 * 1e-9 AS s_en,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('le','la','les','de','des','et','en','que','une'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 1 * 1e-9 AS s_fr,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('el','la','los','de','que','y','en','un','una'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 2 * 1e-9 AS s_es,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('der','die','das','und','in','den','von','zu','mit'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 3 * 1e-9 AS s_de,
           | (len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) * 1.0
           |   / greatest(length(text), 1)) * 10.0 - 4 * 1e-9 AS s_zh
           | FROM documents),
           | p AS (SELECT doc_id, CASE
           | WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
           | WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
           | WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
           | WHEN s_de >= s_zh THEN 'de'
           | ELSE 'zh' END AS lang_pred FROM sc),
           | q AS (SELECT doc_id,
           |   CAST(floor(4000.0 * least(len(string_split(text, ' ')), 64) / 64.0) AS BIGINT)
           |   + CAST(floor(3000.0 * least(5 * len(list_filter(string_split(text, ' '), t -> t IN
           |     ('the','a','an','of','to','and','in','is','it','for','on','with','as','at','by','be'))),
           |     len(string_split(text, ' '))) / greatest(len(string_split(text, ' ')), 1)) AS BIGINT)
           |   + (CASE WHEN (length(replace(text, ' ', '')) * 1.0
           |     / greatest(len(string_split(text, ' ')), 1)) BETWEEN 3.0 AND 10.0
           |     THEN 3000 ELSE 0 END) AS quality_score_bp
           |   FROM documents)
           | SELECT p.doc_id, p.lang_pred, q.quality_score_bp,
           |   q.quality_score_bp >= 5000 AS admitted
           | FROM p JOIN q USING (doc_id)"""
      .stripMargin.replace("\n", "")))

  val all: Seq[Q] = Seq(streamDedup, streamWindow, streamJoin,
    streamJoinCapped, streamEnrich, streamSession, streamAsof, streamHeavy,
    streamScd2, streamEwma, streamFunnel, streamDistinct, streamHopping,
    streamJoinOuter, streamLate, streamBudget, streamDrift, streamSample,
    streamQuality)
}
