package graft
package registry

import graft.operators._
import graft.SparkEntry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EventsA query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegEventsA {

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_retention" -> ((s, dir) => {
      Events.retention(t(s, dir, "events"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),
    "events_gapfill" -> ((s, dir) => {
      Events.gapfillDaily(t(s, dir, "events"))
        .orderBy(col("event_type"), col("day"))
    }),
    "events_tumbling" -> ((s, dir) => {
      Events.tumbling(t(s, dir, "events"))
        .orderBy(col("window_start"), col("event_type"))
    }),
    "events_sliding" -> ((s, dir) => {
      Events.sliding(t(s, dir, "events")).orderBy(col("window_start"))
    }),
    "events_sessionize" -> ((s, dir) => {
      Events.sessionize(t(s, dir, "events"))
        .orderBy(col("user_id"), col("session_start"))
    }),
    "events_session_window" -> ((s, dir) => {
      // Spark's NATIVE gap-session operator — the built-in alternative
      // to the custom sessionizer. Boundary semantics differ by design:
      // session_window's window is [ts, ts+gap), so an event at
      // EXACTLY prev+gap starts a new session (>=), where
      // Events.sessionize continues it (>) — the oracle twin encodes >=
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("session_end"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),
    "events_funnel" -> ((s, dir) => {
      Events.funnel(t(s, dir, "events")).orderBy(col("user_id"))
    }),
    "events_anomaly" -> ((s, dir) => {
      // 1.5σ: the fixture values are uniform-ish (max deviation
      // ~1.73σ), so 3σ would never fire; 1.5σ flags a meaningful
      // minority and exercises both branches
      Events.anomalies(t(s, dir, "events"), sigmaTenths = 15)
        .orderBy(col("event_id"))
    }),
    "events_anomaly_robust" -> ((s, dir) => {
      // IQR boxplot outliers per event type at k=0.9 (the fixture's
      // near-uniform values put nothing outside the classic 1.5 fence
      // — 0.9 exercises both branches)
      Events.anomaliesRobust(t(s, dir, "events"), k = 0.9)
        .orderBy(col("event_id"))
    }),
    "events_ewma" -> ((s, dir) => {
      // exact truncated-EWMA smoothing (α=1/2, depth 8) of hourly
      // per-type value sums — integer weights, floor-normalized
      Events.ewmaHourly(t(s, dir, "events"), depth = 8)
        .orderBy(col("event_type"), col("hour"))
    }),
    "events_ewma_hourly" -> ((s, dir) => {
      // the ewma's input frame on its own — the diagnostic half of
      // the ewma gate: bisects any divergence to bucketing vs
      // smoothing in one run
      Events.hourlyQuantized(t(s, dir, "events"))
        .orderBy(col("event_type"), col("hour"))
    }),
    "events_transitions" -> ((s, dir) => {
      // first-order Markov next-event matrix with basis-point
      // transition probabilities
      Events.transitions(t(s, dir, "events"))
        .orderBy(col("prev_type"), col("next_type"))
    }),
    "events_anomaly_mad" -> ((s, dir) => {
      // median/MAD robust z-test at k=1.5 — completes the anomaly
      // trio (σ, IQR, MAD); dyadic-exact double medians both engines
      Events.anomaliesMad(t(s, dir, "events"), kTenths = 15)
        .orderBy(col("event_id"))
    }),
    "events_winsorize" -> ((s, dir) => {
      // rank-based p05/p95 winsorization per type — exact integer
      // bounds by rank, no quantile interpolation
      Events.winsorize(t(s, dir, "events"))
        .orderBy(col("event_id"))
    }),
    "events_stream_tumbling" -> ((s, dir) => {
      graft.streaming.EventsStream.tumblingToCompletion(s, dir)
        .orderBy(col("window_start"), col("event_type"))
    }),
    "events_stream_tumbling_append" -> ((s, dir) => {
      // append-mode twin: windows emit once, on watermark close
      // (sentinel-flushed); equals the batch tumbling aggregation
      graft.streaming.EventsStream.tumblingAppendToCompletion(s, dir)
        .orderBy(col("window_start"), col("event_type"))
    }),
    "events_state_inspect" -> ((s, dir) => {
      // offline state introspection: the tumbling count's RocksDB
      // checkpoint read back via format("statestore") with no query
      // running — complete-mode drain leaves state == final aggregate,
      // so the batch GROUP BY is the oracle
      graft.streaming.EventsStream.stateInspect(s, dir)
        .orderBy(col("window_start"), col("event_type"))
    }),
    "events_stream_sliding" -> ((s, dir) => {
      graft.streaming.EventsStream.slidingToCompletion(s, dir)
        .orderBy(col("window_start"))
    }),
    "events_stream_enrich" -> ((s, dir) => {
      // stream-static dimension join: stateless, append mode; same
      // oracle as the equivalent batch join
      graft.streaming.EventsStream.enrichToCompletion(s, dir)
        .orderBy(col("event_id"))
    }),
    "events_stream_session_window" -> ((s, dir) => {
      // native session_window merging state across micro-batches;
      // sentinel-flushed, same oracle as the batch twin
      graft.streaming.EventsStream.sessionWindowToCompletion(s, dir)
        .orderBy(col("user_id"), col("session_start"))
    }),
    "events_stream_enrich_outer" -> ((s, dir) => {
      // incomplete dimension: events of every 10th customer surface
      // with null cust_name instead of silently dropping
      graft.streaming.EventsStream.enrichOuterToCompletion(s, dir)
        .orderBy(col("event_id"))
    }),
    "events_stream_foreach" -> ((s, dir) => {
      // foreachBatch programmable sink: stream -> per-batch parquet
      // append -> re-read; hashed against the events table itself
      Scratch.landed("graft-feb") { tmp =>
        graft.streaming.EventsStream
          .foreachBatchToParquet(s, dir, tmp.toString)
      }.orderBy(col("event_id"))
    }),
    "events_stream_attribution" -> ((s, dir) => {
      // stream-stream interval join (click -> purchase within 1 h per
      // user), state bounded by watermark + two-sided range condition
      graft.streaming.EventsStream.attributionToCompletion(s, dir)
        .orderBy(col("click_id"), col("purchase_id"))
    }),
    "events_stream_attribution_outer" -> ((s, dir) => {
      // stream-stream LEFT OUTER interval join: unmatched clicks emit
      // with a null purchase side once the watermark passes their
      // eviction point (sentinel-driven in the completion harness)
      graft.streaming.EventsStream.attributionOuterToCompletion(s, dir)
        .orderBy(col("click_id"), col("purchase_id"))
    }),
    "events_stream_attribution_full" -> ((s, dir) => {
      // stream-stream FULL OUTER interval join: unmatched clicks AND
      // unmatched purchases emit null-sided rows, each flushed by its
      // own watermark-driven state eviction — the last cell of the
      // streaming join matrix
      graft.streaming.EventsStream.attributionFullOuterToCompletion(s, dir)
        .orderBy(col("click_id").asc_nulls_first,
          col("purchase_id").asc_nulls_first)
    }),

    // ---- north star: multimodal column plumbing ----
    "events_session_stats" -> ((s, dir) => {
      Events.sessionStats(t(s, dir, "events")).orderBy(col("user_id"))
    }),
    "events_stream_sessionize" -> ((s, dir) => {
      graft.streaming.EventsStream.sessionizeToCompletion(s, dir)
        .orderBy(col("user_id"), col("session_start"))
    }),

    "events_stream_sessionize_tws" -> ((s, dir) => {
      // transformWithState twin: Spark 4's arbitrary-state successor
      // of flatMapGroupsWithState — typed ValueState + explicit
      // event-time timers. Same rows as events_stream_sessionize,
      // same batch oracle.
      graft.streaming.EventsStream.sessionizeTwsToCompletion(s, dir)
        .orderBy(col("user_id"), col("session_start"))
    }),

    "events_stream_sessionize_warm" -> ((s, dir) => {
      // batch→streaming cutover: pre-cutover sessions computed in
      // batch, the open one per user bootstrapped into the stream as
      // transformWithState INITIAL STATE, post-cutover events
      // streamed — union equals the all-batch sessionize
      graft.streaming.EventsStream.sessionizeWarmStartToCompletion(s, dir)
        .orderBy(col("user_id"), col("session_start"))
    }),

    "events_stream_type_profile" -> ((s, dir) => {
      // MapState + ListState primitives: per-user type counts merged
      // across micro-batches, flushed exactly once by a fixed-horizon
      // timer; list emitted sorted so the batch GROUP BY oracles it
      graft.streaming.EventsStream.typeProfileToCompletion(s, dir)
        .orderBy(col("user_id"))
    }),
    "events_stream_heavy_hitters" -> ((s, dir) =>
      // Misra-Gries sketch LIVE in streaming MapState: per-shard
      // capacity-bounded counters with the decrement rule, timer-
      // flushed; capacity 8 > the fixture's 5 types makes every
      // counter exact, so the batch GROUP BY is the oracle (the
      // decrement regime is driver-gated at capacity 2 by
      // events_stream_heavy_hitters_bounds below, and spec-asserted)
      graft.streaming.EventsStream.heavyHittersToCompletion(s, dir)),

    "events_stream_heavy_hitters_bounds" -> ((s, dir) => {
      // the MG DECREMENT regime under the driver gate: capacity 2 <
      // the fixture's 5 types forces the decrement rule, so the
      // sketch is genuinely approximate; the classic telescoped
      // guarantee 0 <= true - est <= N/(capacity+1) must hold per
      // type (est never overestimates; an evicted type counts 0).
      // The oracle recomputes every numeric column from the dumped
      // sketch + batch truth and asserts the outcome booleans as
      // literal TRUE (GatesSpec convention).
      val est = graft.streaming.EventsStream
        .heavyHittersToCompletion(s, dir, capacity = 2)
      val dumped = dumpForOracle(s, dir,
        "events_stream_heavy_hitters_bounds", est)
      val truth = t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"))
      truth.join(dumped.select(col("event_type"),
          col("n_events").as("n_est")), Seq("event_type"), "left")
        .select(col("n_true"), coalesce(col("n_est"), lit(0L)).as("n_est"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("n_true")).as("true_total"),
          sum(col("n_est")).as("est_total"),
          max(col("n_true") - col("n_est")).as("max_deficit"),
          sum(when(col("n_est") <= col("n_true"), 0L).otherwise(1L))
            .as("n_over"))
        .selectExpr("n_types", "true_total", "est_total",
          "true_total div 3 AS err_bound", "max_deficit", "n_over",
          "n_over = 0 AS none_over",
          "max_deficit BETWEEN 0 AND true_total div 3 AS deficit_ok")
    }),
    "events_stream_dedup" -> ((s, dir) => {
      graft.streaming.EventsStream.dedupToCompletion(s, dir)
        .orderBy(col("event_type"))
    }),
    "events_stream_fingerprint_dedup" -> ((s, dir) => {
      graft.streaming.EventsStream.fingerprintDedupToCompletion(s, dir)
        .orderBy(col("norm"))
    }),

    // ---- training-data JSONL export (extended sink surface) ----
    "events_acf" -> ((s, dir) =>
      Events.acfDaily(t(s, dir, "events"), maxLag = 7)),
    "events_cusum" -> ((s, dir) =>
      Events.cusumDaily(t(s, dir, "events"))),
    "events_eb_shrinkage" -> ((s, dir) =>
      // Efron–Morris beta-binomial smoothing of the daily click rate:
      // method-of-moments prior strength from the day spectrum, each
      // day pulled toward the grand mean with s pseudo-events — the
      // small-n-day stabilizer, exact integer bp end to end
      Events.ebShrinkage(t(s, dir, "events"))),
    "events_seasonal" -> ((s, dir) =>
      Events.seasonalDow(t(s, dir, "events"))),
    "events_streaks" -> ((s, dir) =>
      Events.streaks(t(s, dir, "events")).orderBy(col("user_id"))),
    "events_trimmed_mean" -> ((s, dir) =>
      Events.trimmedMean(t(s, dir, "events"))
        .orderBy(col("event_type"))),
    "events_anomaly_seasonal" -> ((s, dir) =>
      Events.anomaliesSeasonal(t(s, dir, "events"))),
    "events_concurrency" -> ((s, dir) =>
      Events.maxConcurrencyDaily(t(s, dir, "events"))),
    "events_paths" -> ((s, dir) =>
      Events.eventPaths(t(s, dir, "events"), k = 20)),
    "events_error_rate" -> ((s, dir) =>
      // daily error share in exact bp — the SRE burn-rate input; one
      // conditional aggregation at daily grain
      t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("errors"))
        .withColumn("error_bp", expr("(10000 * errors) div n"))
        .orderBy(col("day"))),
    "events_dau_wau" -> ((s, dir) => {
      // DAU/WAU stickiness: daily actives vs 7-day rolling distinct
      // actives. The rolling distinct is computed by fanning each
      // (user, active-day) row onto the ≤7 window days it supports —
      // a bounded 7× expansion of the user-day frame, never a
      // distinct-over-window shuffle per day.
      val ud = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val dau = ud.groupBy(col("day"))
        .agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("day"))
        .distinct()
        .groupBy(col("day"))
        .agg(count(lit(1)).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          expr("(10000 * dau) div wau").as("stickiness_bp"))
        .orderBy(col("day"))
    }),
    "events_hourly_heatmap" -> ((s, dir) =>
      // (day-of-week, hour-of-day) activity matrix — the ops heatmap
      // feed; pure epoch integer arithmetic, one hash aggregation
      t(s, dir, "events")
        .groupBy(expr("(unix_micros(ts) div 86400000000) % 7")
            .as("dow"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hour"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("dow"), col("hour"))),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "events_anomaly_robust" -> """
      WITH q AS (SELECT event_type,
                   quantile_cont(value, 0.25) AS q1,
                   quantile_cont(value, 0.75) AS q3
                 FROM events GROUP BY 1)
      SELECT event_id, e.event_type, value,
             (value < q1 - 0.9 * (q3 - q1)
              OR value > q3 + 0.9 * (q3 - q1)) AS is_outlier
      FROM events e JOIN q ON e.event_type = q.event_type
      ORDER BY event_id""",
    "events_tumbling" -> """
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "events_stream_tumbling" -> """
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // the state read-back after a complete-mode drain IS the final
    // aggregate — the plain GROUP BY checks the introspection path
    "events_state_inspect" -> """
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // append-mode twin: identical final table once the sentinel closes
    // every real window
    "events_stream_tumbling_append" -> """
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "events_sliding" -> slidingSql,
    // streaming twins: same result tables as their batch/SQL
    // equivalents by construction, so the oracles are shared
    "events_stream_sliding" -> slidingSql,
    "events_stream_enrich_outer" -> """
      SELECT e.event_id, e.user_id, c.c_name AS cust_name
      FROM events e
      LEFT JOIN (SELECT c_custkey, c_name FROM customer
                 WHERE c_custkey % 10 <> 0) c
        ON e.user_id = c.c_custkey
      ORDER BY e.event_id""",
    "events_stream_enrich" -> """
      SELECT e.event_id, e.user_id, c.c_name AS cust_name,
             n.n_name AS nation_name
      FROM events e
      JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      ORDER BY e.event_id""",
    "events_funnel" -> """
      WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
                 WHERE event_type = 'signup' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.ts) AS click_ts
            FROM events e JOIN s ON e.user_id = s.user_id
            WHERE e.event_type = 'click' AND e.ts >= s.signup_ts
            GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
            GROUP BY e.user_id)
      SELECT s.user_id, s.signup_ts, c.click_ts, p.purchase_ts,
             CAST((CASE WHEN s.signup_ts IS NOT NULL THEN 1 ELSE 0 END)
                + (CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END)
                + (CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS stage
      FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      ORDER BY s.user_id""",
    "events_anomaly" -> """
      WITH b AS (SELECT event_id, user_id,
                   CAST(round(value * 10000) AS BIGINT) AS q
                 FROM events),
      a AS (SELECT user_id, count(*) AS n, sum(q) AS s,
                   sum(CAST(q AS HUGEINT) * q) AS qq
            FROM b GROUP BY user_id)
      SELECT event_id, b.user_id, q,
             (CAST(q AS HUGEINT) * n - s) * (CAST(q AS HUGEINT) * n - s)
               * 100 >
               225 * (CAST(n AS HUGEINT) * qq - CAST(s AS HUGEINT) * s)
               AS is_anomaly
      FROM b JOIN a USING (user_id) ORDER BY event_id""",
    // truncated EWMA, α=1/2 depth 8: explicit integer-weight lags,
    // floor-normalized over the weights actually present. Written in
    // DuckDB-version-stable primitives only: every operand is pinned
    // to BIGINT (no sum→HUGEINT leaking into the divide), and every
    // integer division — hour bucket and the final normalize alike —
    // is `(a - a % b) / b`: exact integers into a float divide whose
    // quotient is exactly representable, identical across engines and
    // versions (no `//`, whose result type/rounding has shifted
    // across DuckDB releases for mixed operands).
    "events_ewma" -> {
      val depth = 8
      val lagCols = (1 until depth)
        .map(j => s"lag(q, $j) OVER w AS q$j").mkString(", ")
      val wsum = (s"${1L << (depth - 1)} * q" +: (1 until depth)
        .map(j => s"coalesce(${1L << (depth - 1 - j)} * q$j, 0)"))
        .mkString(" + ")
      val wdiv = (s"${1L << (depth - 1)}" +: (1 until depth)
        .map(j =>
          s"CASE WHEN q$j IS NULL THEN 0 ELSE ${1L << (depth - 1 - j)} END"))
        .mkString(" + ")
      s"""
      WITH h AS (SELECT event_type,
                   CAST((epoch_us(ts) - (epoch_us(ts) % 3600000000))
                     / 3600000000 AS BIGINT)
                     AS hour,
                   CAST(sum(CAST(round(value * 10000) AS BIGINT))
                     AS BIGINT) AS q,
                   count(*) AS n
                 FROM events GROUP BY 1, 2),
      l AS (SELECT event_type, hour, n, q, $lagCols
            FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
      f AS (SELECT event_type, hour, n, q,
              CAST($wsum AS BIGINT) AS ws, CAST($wdiv AS BIGINT) AS wd
            FROM l)
      SELECT event_type, hour, n, q,
             CAST((ws - (ws % wd)) / wd AS BIGINT) AS ewma_q
      FROM f ORDER BY event_type, hour"""
    },
    "events_ewma_hourly" -> """
      SELECT event_type,
             CAST((epoch_us(ts) - (epoch_us(ts) % 3600000000))
                     / 3600000000 AS BIGINT) AS hour,
             CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS q,
             count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY event_type, hour""",
    "events_transitions" -> """
      WITH o AS (SELECT user_id, event_type AS prev_type,
                   lead(event_type) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS next_type
                 FROM events),
      p AS (SELECT prev_type, next_type, count(*) AS n FROM o
            WHERE next_type IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT prev_type, sum(n) AS tot FROM p GROUP BY 1)
      SELECT p.prev_type, p.next_type, n,
             CAST((10000 * n) // tot AS BIGINT) AS p_bp
      FROM p JOIN t USING (prev_type)
      ORDER BY prev_type, next_type""",
    // both medians interpolate at worst to dyadic rationals — exact
    // doubles on both engines, so the flag comparison is deterministic
    "events_anomaly_mad" -> """
      WITH b AS (SELECT event_id, user_id,
                   CAST(round(value * 10000) AS BIGINT) AS q
                 FROM events),
      m AS (SELECT user_id, median(q) AS med FROM b GROUP BY 1),
      d AS (SELECT b.event_id, b.user_id, b.q,
              abs(b.q - m.med) AS adev
            FROM b JOIN m USING (user_id)),
      md AS (SELECT user_id, median(adev) AS mad FROM d GROUP BY 1)
      SELECT event_id, d.user_id, q, (adev * 10 > mad * 15) AS is_anomaly
      FROM d JOIN md USING (user_id) ORDER BY event_id""",
    "events_winsorize" -> """
      WITH b AS (SELECT event_id, event_type,
                   CAST(round(value * 10000) AS BIGINT) AS q
                 FROM events),
      r AS (SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY q, event_id) AS rk,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM b),
      bounds AS (SELECT event_type,
                   max(CASE WHEN rk = (n + 19) // 20 THEN q END) AS lo,
                   max(CASE WHEN rk = n + 1 - (n + 19) // 20 THEN q END)
                     AS hi
                 FROM r GROUP BY event_type)
      SELECT event_id, b.event_type, q,
             CASE WHEN q < lo THEN lo WHEN q > hi THEN hi
                  ELSE q END AS q_clip,
             (q < lo OR q > hi) AS clipped
      FROM b JOIN bounds USING (event_type) ORDER BY event_id""",
    "events_stream_attribution" -> """
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS lag_us, p.value
      FROM events c JOIN events p ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      ORDER BY click_id, purchase_id""",
    // NULLS FIRST matches Spark's ascending default (DuckDB defaults to
    // NULLS LAST) — the null purchase side of unmatched clicks must sort
    // identically or the row-order-sensitive hash diverges
    "events_stream_attribution_outer" -> """
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS lag_us, p.value
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      ORDER BY click_id, purchase_id NULLS FIRST""",
    // full outer adds the purchase-only rows: click_id is now nullable
    // too, so BOTH sort keys pin NULLS FIRST (Spark's asc default;
    // DuckDB defaults to NULLS LAST)
    "events_stream_attribution_full" -> """
      SELECT coalesce(c.user_id, p.user_id) AS user_id,
             c.event_id AS click_id, p.event_id AS purchase_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS lag_us, p.value
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""",
    // >= on the gap (session_window's [ts, ts+gap) semantics), where
    // events_sessionize uses >
    "events_session_window" -> sessionWindowSql,
    // streaming twin merges the same sessions across micro-batches
    "events_stream_session_window" -> sessionWindowSql,
    "events_sessionize" -> """
      WITH s AS (SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS brk
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      t AS (SELECT user_id, ts,
              sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM s)
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM t GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "events_session_stats" -> """
      WITH s AS (SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS brk
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      t AS (SELECT user_id, ts,
              sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM s),
      sess AS (SELECT user_id,
                 epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us,
                 count(*) AS n
               FROM t GROUP BY user_id, sid)
      SELECT user_id, count(*) AS n_sessions,
             CAST(sum(n) AS BIGINT) AS n_events,
             median(dur_us) AS median_dur_us,
             max(dur_us) AS max_dur_us
      FROM sess GROUP BY user_id ORDER BY user_id""",
    "events_stream_dedup" -> """
      SELECT event_type, count(DISTINCT event_id) AS n_unique
      FROM events GROUP BY event_type ORDER BY event_type""",
    "events_stream_fingerprint_dedup" -> s"""
      WITH RECURSIVE u AS (SELECT DISTINCT
          trim(regexp_replace(lower(coalesce(props, '')), '\\s+', ' ', 'g'))
            AS norm
        FROM events),
      ${sdbmCte("u", "norm", "0", "norm")}
      SELECT s.hash AS fingerprint, u.norm
      FROM u JOIN sdbm s ON s.sid = u.norm
      ORDER BY norm""",
    "events_stream_sessionize" -> """
      WITH s AS (SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS brk
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      t AS (SELECT user_id, ts,
              sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM s)
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM t GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "events_stream_heavy_hitters" -> """
      SELECT event_type, count(*) AS n_events
      FROM events GROUP BY 1 ORDER BY 1""",
    "events_stream_heavy_hitters_bounds" -> s"""
      WITH est AS (SELECT event_type, n_events AS n_est
        FROM read_parquet(
          '$RecallDirToken/events_stream_heavy_hitters_bounds/*.parquet')),
      tr AS (SELECT event_type, count(*) AS n_true
             FROM events GROUP BY 1),
      j AS (SELECT t.event_type, t.n_true, coalesce(e.n_est, 0) AS n_est
            FROM tr t LEFT JOIN est e USING (event_type))
      SELECT count(*) AS n_types,
             CAST(sum(n_true) AS BIGINT) AS true_total,
             CAST(sum(n_est) AS BIGINT) AS est_total,
             CAST(sum(n_true) AS BIGINT) // 3 AS err_bound,
             CAST(max(n_true - n_est) AS BIGINT) AS max_deficit,
             CAST(sum(CASE WHEN n_est <= n_true THEN 0 ELSE 1 END)
               AS BIGINT) AS n_over,
             TRUE AS none_over,
             TRUE AS deficit_ok
      FROM j""",
    "events_stream_type_profile" -> """
      SELECT user_id, count(DISTINCT event_type) AS n_types,
             count(*) AS n_events,
             string_agg(DISTINCT event_type, ',' ORDER BY event_type)
               AS types_csv
      FROM events GROUP BY user_id ORDER BY user_id""",
    // the warm-start cutover computes the identical sessions: batch
    // half + bootstrapped streaming half = the all-batch result
    "events_stream_sessionize_warm" -> """
      WITH s AS (SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS brk
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      t AS (SELECT user_id, ts,
              sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM s)
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM t GROUP BY user_id, sid ORDER BY user_id, session_start""",
    // the transformWithState twin computes the identical sessions —
    // one oracle, two stateful implementations
    "events_stream_sessionize_tws" -> """
      WITH s AS (SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS brk
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      t AS (SELECT user_id, ts,
              sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM s)
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM t GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "events_stream_foreach" -> """
      SELECT event_id, ts, user_id, event_type, value, props
      FROM events ORDER BY event_id""",
    "events_retention" -> """
      WITH wk AS (SELECT user_id, epoch_us(ts) // 604800000000 AS w
                  FROM events),
      fw AS (SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY 1),
      cells AS (SELECT cohort_week, w - cohort_week AS week_offset,
                       count(DISTINCT user_id) AS n_users
                FROM wk JOIN fw USING (user_id) GROUP BY 1, 2),
      base AS (SELECT cohort_week, n_users AS cohort_size
               FROM cells WHERE week_offset = 0)
      SELECT c.cohort_week, c.week_offset, c.n_users,
             (10000 * c.n_users) // b.cohort_size AS pct_bp
      FROM cells c JOIN base b USING (cohort_week)
      ORDER BY cohort_week, week_offset""",
    "events_gapfill" -> """
      WITH daily AS (SELECT event_type,
                       epoch_us(ts) // 86400000000 AS day,
                       count(*) AS n,
                       sum(CAST(value AS DECIMAL(18,4))) AS day_sum
                     FROM events GROUP BY 1, 2),
      span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
               FROM daily GROUP BY 1),
      spine AS (SELECT event_type, d0 + u.i AS day
                FROM span, UNNEST(range(0, d1 - d0 + 1)) AS u(i))
      SELECT s.event_type, s.day, coalesce(d.n, 0) AS n,
             CAST(last_value(d.day_sum IGNORE NULLS) OVER (
                 PARTITION BY s.event_type ORDER BY s.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS filled
      FROM spine s LEFT JOIN daily d
        ON d.event_type = s.event_type AND d.day = s.day
      ORDER BY s.event_type, s.day""",
    "events_acf" -> """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   count(*) AS x FROM events GROUP BY 1),
      st AS (SELECT count(*) AS n, sum(x) AS sx FROM d),
      y AS (SELECT row_number() OVER (ORDER BY day) AS i,
              n * x - sx AS y FROM d, st),
      den AS (SELECT sum(CAST(y AS HUGEINT) * y) AS dd FROM y),
      lags AS (SELECT CAST(l AS INT) AS lag
               FROM unnest([1, 2, 3, 4, 5, 6, 7]) AS t(l))
      SELECT lag,
             CAST((1000000 * sum(CAST(a.y AS HUGEINT) * b.y)) // dd
               AS BIGINT) AS acf_micro
      FROM lags JOIN y a ON true JOIN y b ON b.i = a.i - lag, den
      GROUP BY lag, dd ORDER BY lag""",
    // prefix-sum closed form of the recursive CUSUM: S_t =
    // P_t − min(0, min_{j≤t} P_j) (mirror with max for the down side)
    "events_cusum" -> """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   count(*) AS x FROM events GROUP BY 1),
      st AS (SELECT count(*) AS n, sum(x) AS sx FROM d),
      p AS (SELECT day, x,
              sum(n * x - sx) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
            FROM d, st)
      SELECT day, x,
             CAST(p - least(0, min(p) OVER w) AS BIGINT) AS cusum_up,
             CAST(greatest(0, max(p) OVER w) - p AS BIGINT) AS cusum_down
      FROM p WINDOW w AS (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY day""",
    // denominator-cleared Welch t²; HUGEINT → VARCHAR → DOUBLE is
    // correctly rounded like Spark's BigDecimal path (q_stats_agg)
    "events_seasonal" -> """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   count(*) AS x FROM events GROUP BY 1),
      dw AS (SELECT day % 7 AS dow, count(*) AS dow_days,
               CAST(sum(x) AS BIGINT) AS dow_events FROM d GROUP BY 1),
      tot AS (SELECT count(*) AS n_days,
                CAST(sum(x) AS BIGINT) AS total FROM d)
      SELECT dow, dow_days, dow_events,
             (10000 * dow_events * n_days) // (dow_days * total)
               AS index_bp
      FROM dw, tot ORDER BY dow""",
    // global-window twin of the engine's two-stage prefix sum — same
    // values by associativity; RANGE frame gives peers one value
    "events_concurrency" -> """
      WITH s AS (SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                        THEN 1 ELSE 0 END AS brk
                 FROM events
                 WINDOW w AS (PARTITION BY user_id
                   ORDER BY ts, event_id)),
      t AS (SELECT user_id, ts,
              sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM s),
      sess AS (SELECT user_id, min(ts) AS st, max(ts) AS en
               FROM t GROUP BY user_id, sid),
      ep AS (SELECT epoch_us(st) AS t, 1 AS d FROM sess
             UNION ALL SELECT epoch_us(en) + 1, -1 FROM sess),
      e2 AS (SELECT t, d, t * 2 + (d + 1) // 2 AS ord FROM ep),
      c AS (SELECT t, d,
              sum(d) OVER (ORDER BY ord RANGE BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS conc FROM e2)
      SELECT t // 86400000000 AS day,
             CAST(max(conc) AS BIGINT) AS max_concurrency
      FROM c GROUP BY 1 ORDER BY day""",
    "events_paths" -> """
      WITH p AS (SELECT event_type AS t1,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT t1, t2, t3, count(*) AS n FROM p
      WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 20""",
    "events_eb_shrinkage" -> """
      WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                END) AS BIGINT) AS x
            FROM events GROUP BY 1),
      d2 AS (SELECT day, n, x, (10000 * x) // n AS raw_bp FROM daily),
      m AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(raw_bp) AS BIGINT) // count(*) AS m_bp
            FROM d2),
      pr AS (SELECT k, m_bp,
              CAST(CAST(sum((raw_bp - m_bp) * (raw_bp - m_bp))
                AS HUGEINT) // k AS BIGINT) AS v_bp2
            FROM d2, m GROUP BY k, m_bp),
      pr2 AS (SELECT k, m_bp, v_bp2,
              greatest((m_bp * (10000 - m_bp))
                // greatest(v_bp2, 1) - 1, 0) AS prior_s
            FROM pr)
      SELECT day, n, x, raw_bp,
             (10000 * x + prior_s * m_bp) // (n + prior_s)
               AS shrunk_bp,
             k, m_bp, v_bp2, prior_s
      FROM d2, pr2 ORDER BY day""",
    "events_error_rate" -> """
      SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
               END) AS BIGINT) AS errors,
             (10000 * CAST(sum(CASE WHEN event_type = 'error' THEN 1
               ELSE 0 END) AS BIGINT)) // count(*) AS error_bp
      FROM events GROUP BY 1 ORDER BY day""",
    "events_dau_wau" -> """
      WITH ud AS (SELECT DISTINCT user_id,
                    epoch_us(ts) // 86400000000 AS day FROM events),
      dau AS (SELECT day, count(*) AS n_dau FROM ud GROUP BY 1),
      fan AS (SELECT DISTINCT user_id, ud.day + CAST(i AS BIGINT)
                AS day
              FROM ud, unnest(range(0, 7)) AS t(i)),
      wau AS (SELECT day, count(*) AS n_wau FROM fan GROUP BY 1)
      SELECT dau.day, n_dau AS dau, n_wau AS wau,
             (10000 * n_dau) // n_wau AS stickiness_bp
      FROM dau JOIN wau ON wau.day = dau.day ORDER BY dau.day""",
    "events_hourly_heatmap" -> """
      SELECT (epoch_us(ts) // 86400000000) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hour,
             count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY dow, hour""",
    "events_anomaly_seasonal" -> """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   count(*) AS x FROM events GROUP BY 1),
      dd AS (SELECT day, day % 7 AS dow, x FROM d),
      st AS (SELECT dow, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
               sum(CAST(x AS HUGEINT) * x) AS qq FROM dd GROUP BY 1)
      SELECT day, dow, x,
             (CAST(dd.x AS HUGEINT) * n - s) *
               (CAST(dd.x AS HUGEINT) * n - s) * 100 >
               (CAST(n AS HUGEINT) * qq - CAST(s AS HUGEINT) * s) * 400
               AS is_anomaly
      FROM dd JOIN st USING (dow) ORDER BY day""",
    "events_trimmed_mean" -> """
      WITH b AS (SELECT event_type, event_id,
               CAST(round(value * 10000) AS BIGINT) AS q FROM events),
      r AS (SELECT event_type, q,
              row_number() OVER (PARTITION BY event_type
                ORDER BY q, event_id) AS rk,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM b),
      k AS (SELECT event_type, q, rk, n, (n + 19) // 20 AS klo FROM r)
      SELECT event_type, count(*) AS n_kept,
             (100 * CAST(sum(q) AS BIGINT)) // count(*)
               AS trimmed_mean_micro
      FROM k WHERE rk > klo AND rk <= n - klo
      GROUP BY event_type ORDER BY event_type""",
    "events_streaks" -> """
      WITH ud AS (SELECT DISTINCT user_id,
                    epoch_us(ts) // 86400000000 AS day FROM events),
      i AS (SELECT user_id, day,
              day - dense_rank() OVER (PARTITION BY user_id
                ORDER BY day) AS island FROM ud),
      st AS (SELECT user_id, island, count(*) AS len
             FROM i GROUP BY 1, 2)
      SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
             count(*) AS n_streaks,
             CAST(max(len) AS BIGINT) AS longest_streak
      FROM st GROUP BY 1 ORDER BY user_id""",
  )
}
