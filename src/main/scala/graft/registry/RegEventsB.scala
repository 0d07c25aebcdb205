package graft
package registry

import graft.functions._
import graft.operators._
import graft.SparkEntry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EventsB query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegEventsB {

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_drift_tv" -> ((s, dir) => {
      // day-over-day type-mix drift as exact total-variation distance
      // in basis points: TV = Σ|n_t/N − m_t/M|/2, cleared of
      // fractions to (10⁴·Σ|n_t·M − m_t·N|) div (2·N·M) — the data-
      // drift monitor for ingest mix shifts. One daily aggregation,
      // one self-join shifted a day, one |types|-bounded rollup.
      val d = t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val tot = d.groupBy(col("day")).agg(sum(col("n")).as("nd"))
      val days = tot.join(
        tot.select((col("day") + 1).as("day"), col("nd").as("md")),
        "day")
      val cu = d.select(col("day"), col("event_type"), col("n"))
      val pv = d.select((col("day") + 1).as("day"), col("event_type"),
        col("n").as("m"))
      cu.join(pv, Seq("day", "event_type"), "full_outer")
        .select(col("day"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("m"), lit(0L)).as("m"))
        .join(days, "day") // inner: only days with a previous day
        .groupBy(col("day"), col("nd"), col("md"))
        .agg(sum(abs(col("n") * col("md") - col("m") * col("nd")))
          .as("s"))
        .select(col("day"),
          expr("(10000 * s) div (2 * nd * md)").as("tv_bp"))
        .orderBy(col("day"))
    }),
    "events_wow_growth" -> ((s, dir) => {
      // week-over-week volume growth per event type in exact basis
      // points: one hash aggregation to (type, epoch-week) grain,
      // then a lag window over the calendar-bounded week sequence
      // per type; growth null on each type's first week
      val wk = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 604800000000").as("week"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("week"))
      wk.withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("growth_bp",
          expr("(10000 * (n - prev_n)) div prev_n"))
        .orderBy(col("event_type"), col("week"))
    }),
    "events_funnel_windowed" -> ((s, dir) =>
      // signup→click→purchase with each step due within 24h of the
      // previous — the bounded-conversion funnel variant
      Events.funnelWindowed(t(s, dir, "events"),
        maxDelayUs = 86400000000L).orderBy(col("user_id"))),
    "events_cumulative_users" -> ((s, dir) => {
      // user-growth curve: first-seen day per user (one user-keyed
      // aggregation), daily new-user counts, cumulative over the
      // calendar-bounded day sequence — the novelty-attribution shape
      // (min-key first-touch) on the acquisition axis
      val first = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(expr("min(unix_micros(ts) div 86400000000)").as("day"))
      val perDay = first.groupBy(col("day"))
        .agg(count(lit(1)).as("new_users"))
      perDay.withColumn("cum_users",
          sum(col("new_users")).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("day"))
              .rowsBetween(org.apache.spark.sql.expressions.Window
                .unboundedPreceding, 0)))
        .orderBy(col("day"))
    }),
    "events_pareto" -> ((s, dir) =>
      Events.paretoConcentration(t(s, dir, "events"))),
    "events_attribution_position" -> ((s, dir) =>
      Events.positionAttribution(t(s, dir, "events"))
        .orderBy(col("channel"))),
    "events_mann_whitney" -> ((s, dir) =>
      // nonparametric click-vs-purchase value shift: exact doubled
      // U statistics from value-domain-grain counts (no global rank
      // window) — see Events.mannWhitneyU
      Events.mannWhitneyU(t(s, dir, "events"))),
    "events_life_table" -> ((s, dir) =>
      // Kaplan–Meier churn curve over per-user activity lifetimes;
      // survival recurrence as exact truncating-integer fold, the
      // oracle unrolls it with a recursive CTE
      Events.lifeTable(t(s, dir, "events"))),
    "events_kendall" -> ((s, dir) =>
      // concordant/discordant day-pair census between click and
      // purchase daily volumes — the τ-b sufficient statistics
      Events.kendallDaily(t(s, dir, "events"))),
    "events_theil_sen" -> ((s, dir) =>
      // robust daily-volume trend: median pairwise slope in exact
      // floor-division micro-units, doubled to dodge .5 fractions
      Events.theilSenDaily(t(s, dir, "events"))),
    "events_ks" -> ((s, dir) =>
      // Kolmogorov–Smirnov click-vs-purchase CDF gap at the
      // value-domain grain, DECIMAL cross-products (Events.ksTest)
      Events.ksTest(t(s, dir, "events"))),
    "events_gini" -> ((s, dir) =>
      // activity-inequality monitor: exact Gini over per-user volume
      // via the count-of-counts grain (Events.giniUserActivity)
      Events.giniUserActivity(t(s, dir, "events"))),
    "events_chi2_dow" -> ((s, dir) =>
      // type × weekday independence: per-cell χ² terms in exact
      // micro-units, arithmetic weekday (Events.chiSquareDow)
      Events.chiSquareDow(t(s, dir, "events"))),
    "events_holt" -> ((s, dir) =>
      // level+trend double exponential smoothing over the gapfilled
      // daily series, exact floor-division integer recurrence
      // (Events.holtDaily; oracle = recursive CTE)
      Events.holtDaily(t(s, dir, "events"))),
    "events_decompose" -> ((s, dir) =>
      // trend / weekday-seasonal / residual split of the daily
      // volume in exact milli-units (Events.decomposeDaily)
      Events.decomposeDaily(t(s, dir, "events"))),
    "events_changepoint" -> ((s, dir) =>
      // exact integer contrast argmax over prefix/suffix splits of
      // the gapfilled day sequence (Events.changepointDaily)
      Events.changepointDaily(t(s, dir, "events"))),
    "events_rfm" -> ((s, dir) =>
      // recency/frequency/monetary quintile census; boundaries from
      // count-of-counts distributions, no per-user global ranking
      // (Events.rfmSegments)
      Events.rfmSegments(t(s, dir, "events"))),
    "events_funnel_latency" -> ((s, dir) =>
      // signup→purchase delay quartiles at the minute-domain grain —
      // exact order statistics, no user-ranked window
      // (Events.funnelLatency)
      Events.funnelLatency(t(s, dir, "events"))),
    "events_srm" -> ((s, dir) =>
      // 50/50 sample-ratio-mismatch gate: exact micro-χ² on user-id
      // parity arms + the 3.84-critical flag (Events.srmCheck)
      Events.srmCheck(t(s, dir, "events"))),
    "events_uplift_ci" -> ((s, dir) =>
      // the experiment decision row: parity-arm uplift with a
      // Poisson-bootstrap normal-approx CI, all integer
      // (Events.upliftCI)
      Events.upliftCI(t(s, dir, "events"))),
    "events_lag_features" -> ((s, dir) =>
      // feature-store frame: calendar-true lag-1/lag-7 and trailing
      // 7-day mean per type over the gapfilled day spine
      // (Events.lagFeatures)
      Events.lagFeatures(t(s, dir, "events"))
        .orderBy(col("event_type"), col("day"))),
    "events_mde" -> ((s, dir) =>
      // pre-experiment power analysis: per-type conversion baseline
      // and the two-proportion MDE at alpha=0.05/80% power under the
      // 50/50 split — exact ppm via isqrt (Events.mdeByType). The
      // experiment unit is the USER-DAY (user_id composite-keyed with
      // the epoch day): at per-user grain this fixture converts
      // everyone on every type (p = 1, MDE 0 — degenerate), while
      // daily conversion sits near 40%, which is what a
      // daily-randomized experiment would power against
      Events.mdeByType(t(s, dir, "events").select(col("event_type"),
        expr("user_id * 100000 + unix_micros(ts) div 86400000000")
          .as("user_id")))
        .orderBy(col("event_type"))),
    "events_coverage" -> ((s, dir) =>
      // true engaged time per user: 5-minute presence windows merged
      // by gaps-and-islands interval union (Events.activityCoverage)
      Events.activityCoverage(t(s, dir, "events"))),
    "events_pattern_match" -> ((s, dir) =>
      // browse-to-buy sequence detection: regex v+cp over per-user
      // type-initial strings, MATCH_RECOGNIZE semantics without the
      // SQL surface (Events.patternMatch)
      Events.patternMatch(t(s, dir, "events"))),
    "events_forecast_eval" -> ((s, dir) =>
      // one-step Holt forecast vs naive persistence, exact summed
      // absolute errors — the smoother earns its keep or not
      // (Events.holtForecastEval)
      Events.holtForecastEval(t(s, dir, "events"))),
    "events_burst_rate" -> ((s, dir) =>
      // peak trailing-60s event rate per user — RANGE-frame window,
      // tie-timestamp-safe (Events.burstRate)
      Events.burstRate(t(s, dir, "events"))),
    "events_conversion_curve" -> ((s, dir) =>
      // conversion CDF at 1h/6h/24h/72h horizons in exact basis
      // points — one pass over the shared signup→purchase delay
      // frame (Events.conversionCurve)
      Events.conversionCurve(t(s, dir, "events"))),
    "events_decompose_strength" -> ((s, dir) =>
      // how much detrended variation the weekday pattern explains —
      // exact bp shares over the decomposition frame
      // (Events.decomposeStrength)
      Events.decomposeStrength(t(s, dir, "events"))),
    "events_kpi_daily" -> ((s, dir) =>
      // the dashboard mart in one pass: DAU, volume, error rate,
      // buyers, buyer share, revenue — a single day-keyed hash
      // aggregation (distincts expand in the same shuffle), exact
      // integer rates and 1e-4-unit revenue
      t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count_distinct(col("user_id")).as("dau"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("errors"),
          count_distinct(when(col("event_type") === "purchase",
            col("user_id"))).as("buyers"),
          coalesce(sum(when(col("event_type") === "purchase",
            round(col("value") * 10000).cast("long"))), lit(0L))
            .as("revenue_q"))
        .select(col("day"), col("dau"), col("n_events"),
          expr("(10000 * errors) div n_events").as("error_bp"),
          col("buyers"),
          expr("(10000 * buyers) div dau").as("buyer_share_bp"),
          col("revenue_q"))
        .orderBy(col("day"))),
    "events_cohort_ltv" -> ((s, dir) => {
      // cohort lifetime value: purchase revenue per signup-week
      // cohort by week offset, with the cumulative running sum —
      // the money twin of events_retention's count matrix; shuffles
      // key on user then (cohort, offset), the cumulative window is
      // calendar-bounded per cohort
      val wk = expr("unix_micros(ts) div 604800000000")
      val cohort = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(wk).as("cohort_week"))
      val rev = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), wk.as("week"),
          round(col("value") * 10000).cast("long").as("q"))
      val grid = rev.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(sum(col("q")).as("revenue_q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cohort_week")).orderBy(col("week_offset"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      grid.withColumn("cum_revenue_q", sum(col("revenue_q")).over(w))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),
    "events_new_returning" -> ((s, dir) => {
      // daily acquisition mix: users (and their events) split by
      // whether today is their first-seen day — the growth-health
      // readout behind events_cumulative_users
      val day = expr("unix_micros(ts) div 86400000000")
      val first = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(day).as("fd"))
      t(s, dir, "events")
        .select(col("user_id"), day.as("day"))
        .join(first, "user_id")
        .groupBy(col("day"))
        .agg(
          count_distinct(when(col("fd") === col("day"),
            col("user_id"))).as("new_users"),
          count_distinct(when(col("fd") < col("day"),
            col("user_id"))).as("returning_users"),
          sum(when(col("fd") === col("day"), 1L).otherwise(0L))
            .as("new_events"),
          sum(when(col("fd") < col("day"), 1L).otherwise(0L))
            .as("returning_events"))
        .orderBy(col("day"))
    }),
    "events_lorenz_deciles" -> ((s, dir) => {
      // full Lorenz concentration table: users ranked by activity
      // fold into ten equal-width rank deciles with exact bp event
      // shares — events_pareto's single 80%-point readout
      // generalized. Works at the count-of-counts grain (activity
      // levels × 10 rows), so no per-user global sort exists
      // anywhere in the plan: a level's nu users occupy the
      // contiguous rank span (cum_us-nu, cum_us] and are
      // interchangeable, so each decile takes its exact slice of the
      // span arithmetically. The global window below orders the
      // level histogram, not users — same bounded-grain shape as
      // events_pareto.
      val uc = t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("c"))
      val hist = uc.groupBy(col("c")).agg(count(lit(1)).as("nu"))
      val w = Window.orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = uc.agg(count(lit(1)).as("total_users"),
        sum(col("c")).as("total_events"))
      hist
        .withColumn("cum_us", sum(col("nu")).over(w))
        .crossJoin(tot) // 1-row broadcast
        .withColumn("d", explode(sequence(lit(0L), lit(9L))))
        // decile d owns rank positions (d*N) div 10 + 1 .. ((d+1)*N)
        // div 10; operands non-negative, idiv == floor
        .withColumn("lo_d",
          idiv(col("d") * col("total_users"), lit(10L)) + lit(1L))
        .withColumn("hi_d",
          idiv((col("d") + lit(1L)) * col("total_users"), lit(10L)))
        .withColumn("lo", col("cum_us") - col("nu") + lit(1L))
        .withColumn("take",
          least(col("hi_d"), col("cum_us")) -
            greatest(col("lo_d"), col("lo")) + lit(1L))
        .filter(col("take") > 0L)
        .groupBy(col("d"))
        .agg(sum(col("take")).as("n_users"),
          sum(col("take") * col("c")).as("n_events"),
          max(col("total_events")).as("te"))
        .select(col("d").as("decile"), col("n_users"),
          col("n_events"),
          idiv(lit(10000L) * col("n_events"), col("te"))
            .as("share_bp"))
        .orderBy(col("decile"))
    }),
    "events_interarrival" -> ((s, dir) => {
      // per-type inter-arrival quartiles: same-user gap to the
      // previous event (any type), attributed to the later event's
      // type — exact order statistics at the (type, gap_s) grain.
      // user-partitioned lag, then type-partitioned cumulative
      // windows; nothing global. Complements events_burst_rate's
      // peak-rate readout with the full gap distribution.
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val g = t(s, dir, "events")
        .withColumn("prev", lag(col("ts"), 1).over(wu))
        .filter(col("prev").isNotNull)
        // gaps are non-negative by the window order: idiv == floor
        .select(col("event_type"),
          idiv(expr("unix_micros(ts) - unix_micros(prev)"),
            lit(1000000L)).as("gap_s"))
      val cc = g.groupBy(col("event_type"), col("gap_s"))
        .agg(count(lit(1)).as("m"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("gap_s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.partitionBy(col("event_type"))
      cc.withColumn("cum", sum(col("m")).over(w))
        .withColumn("n", sum(col("m")).over(wall))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_gaps"),
          min(when(col("cum") * 4 >= col("n"), col("gap_s")))
            .as("p25_s"),
          min(when(col("cum") * 4 >= col("n") * 2, col("gap_s")))
            .as("p50_s"),
          min(when(col("cum") * 4 >= col("n") * 3, col("gap_s")))
            .as("p75_s"))
        .orderBy(col("event_type"))
    }),
    "events_bot_score" -> ((s, dir) =>
      // bot-likelihood triage: peak 60s burst + type monotony + min
      // inter-arrival, flagged heuristically (Events.botScore)
      Events.botScore(t(s, dir, "events"))),
    "events_daily_bands" -> ((s, dir) =>
      // daily-volume control bands per type: quartiles of per-day
      // counts at the (value, count) grain (Events.dailyVolumeBands)
      Events.dailyVolumeBands(t(s, dir, "events"))),
    "events_mad_outliers" -> ((s, dir) =>
      // robust outlier-day census: median + MAD per type (both via
      // the count-of-counts idiom), days beyond 3 MAD flagged — the
      // breakdown-resistant twin of the bands (Events.madOutlierDays)
      Events.madOutlierDays(t(s, dir, "events"))),
    "events_attribution_credit" -> ((s, dir) =>
      // multi-touch linear attribution ledger: each purchase splits
      // 1e6 micro-credits across its 7-day touch window
      // (Events.attributionCredit)
      Events.attributionCredit(t(s, dir, "events"))),
    "events_abandon_rate" -> ((s, dir) =>
      // same-day cart abandonment at the (user, day) grain
      // (Events.abandonRate)
      Events.abandonRate(t(s, dir, "events"))),
    "events_spearman" -> ((s, dir) =>
      // Spearman rank correlation of daily click vs purchase volume:
      // doubled midranks, exact 4·Σd², floor-division rho_micro
      // (Events.spearmanDaily)
      Events.spearmanDaily(t(s, dir, "events"))),
    "events_cross_corr" -> ((s, dir) =>
      // lagged click→purchase cross-correlation: exact per-lag
      // sufficient statistics + Pearson numerator over observed day
      // pairs (Events.crossCorrDaily)
      Events.crossCorrDaily(t(s, dir, "events"))),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "events_drift_tv" -> """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   event_type, count(*) AS n
                 FROM events GROUP BY 1, 2),
      tot AS (SELECT day, CAST(sum(n) AS BIGINT) AS nd
              FROM d GROUP BY 1),
      days AS (SELECT t1.day, t1.nd, t2.nd AS md
               FROM tot t1 JOIN tot t2 ON t2.day = t1.day - 1),
      cu AS (SELECT day, event_type, n FROM d),
      pv AS (SELECT day + 1 AS day, event_type, n AS m FROM d),
      fo AS (SELECT coalesce(cu.day, pv.day) AS day,
               coalesce(cu.event_type, pv.event_type) AS event_type,
               coalesce(cu.n, 0) AS n, coalesce(pv.m, 0) AS m
             FROM cu FULL OUTER JOIN pv
               ON cu.day = pv.day AND cu.event_type = pv.event_type)
      SELECT fo.day,
             (10000 * CAST(sum(abs(n * md - m * nd)) AS BIGINT))
               // (2 * nd * md) AS tv_bp
      FROM fo JOIN days ON days.day = fo.day
      GROUP BY fo.day, nd, md ORDER BY fo.day""",
    "events_wow_growth" -> """
      WITH wk AS (SELECT event_type,
                    epoch_us(ts) // 604800000000 AS week,
                    count(*) AS n
                  FROM events GROUP BY 1, 2),
      g AS (SELECT event_type, week, n,
              lag(n) OVER (PARTITION BY event_type ORDER BY week)
                AS prev_n
            FROM wk)
      SELECT event_type, week, n, prev_n,
             (10000 * (n - prev_n)) // prev_n AS growth_bp
      FROM g ORDER BY event_type, week""",
    // 5 greedy MMR rounds (λ = 1/2) over materialized pool CTEs
    "events_funnel_windowed" -> """
      WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
                 WHERE event_type = 'signup' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.ts) AS click_ts
            FROM events e JOIN s ON e.user_id = s.user_id
            WHERE e.event_type = 'click' AND e.ts >= s.signup_ts
              AND epoch_us(e.ts) - epoch_us(s.signup_ts)
                <= 86400000000
            GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
              AND epoch_us(e.ts) - epoch_us(c.click_ts)
                <= 86400000000
            GROUP BY e.user_id)
      SELECT s.user_id, s.signup_ts, c.click_ts, p.purchase_ts,
             CAST((CASE WHEN s.signup_ts IS NOT NULL THEN 1 ELSE 0 END)
                + (CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END)
                + (CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0
                   END) AS BIGINT) AS stage
      FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      ORDER BY s.user_id""",
    "events_cumulative_users" -> """
      WITH f AS (SELECT user_id,
                   min(epoch_us(ts) // 86400000000) AS day
                 FROM events GROUP BY 1),
      d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
      SELECT day, new_users,
             CAST(sum(new_users) OVER (ORDER BY day ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users
      FROM d ORDER BY day""",
    "events_pareto" -> """
      WITH uc AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
      h AS (SELECT c, count(*) AS nu FROM uc GROUP BY 1),
      tot AS (SELECT count(*) AS n_users,
                CAST(sum(c) AS BIGINT) AS n_events FROM uc),
      cw AS (SELECT c, nu,
               CAST(sum(c * nu) OVER (ORDER BY c DESC ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_ev,
               CAST(sum(nu) OVER (ORDER BY c DESC ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_us
             FROM h),
      x AS (SELECT cw.c, cw.nu, cw.cum_ev, cw.cum_us, n_users,
              n_events, (4 * n_events + 4) // 5 AS target
            FROM cw, tot WHERE cum_ev >= (4 * n_events + 4) // 5
            ORDER BY c DESC LIMIT 1)
      SELECT n_users, n_events, target AS target_events, c AS cstar,
             cum_us - nu + (target - (cum_ev - c * nu) + c - 1) // c
               AS users_for_80pct,
             (10000 * (cum_us - nu +
               (target - (cum_ev - c * nu) + c - 1) // c)) // n_users
               AS share_bp
      FROM x""",
    // 5 greedy max-coverage rounds over materialized gram CTEs
    "events_attribution_position" -> """
      WITH conv AS (SELECT user_id, event_id AS conv_id,
                      epoch_us(ts) AS ct
                    FROM events WHERE event_type = 'purchase'),
      touch AS (SELECT user_id, event_type AS channel,
                  event_id AS touch_id, epoch_us(ts) AS tt
                FROM events WHERE event_type <> 'purchase'),
      j AS (SELECT t.channel, t.touch_id, t.tt, c.conv_id
            FROM touch t JOIN conv c ON c.user_id = t.user_id
              AND t.tt < c.ct),
      r AS (SELECT channel, conv_id,
              row_number() OVER (PARTITION BY conv_id
                ORDER BY tt, touch_id) AS rk,
              count(*) OVER (PARTITION BY conv_id) AS k FROM j),
      cr AS (SELECT channel,
               CASE WHEN k = 1 THEN 10000
                    WHEN rk = 1 OR rk = k THEN
                      CASE WHEN k = 2 THEN 5000 ELSE 4000 END
                    ELSE 2000 // (k - 2) END AS credit_bp FROM r)
      SELECT channel, count(*) AS n_touches,
             CAST(sum(credit_bp) AS BIGINT) AS credit_bp_sum
      FROM cr GROUP BY 1 ORDER BY channel""",
    "events_mann_whitney" -> """
      WITH b AS (SELECT event_type,
                   CAST(round(value * 10000) AS BIGINT) AS q
                 FROM events
                 WHERE event_type IN ('click', 'purchase')),
      d AS (SELECT q,
              CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                END) AS BIGINT) AS na,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                END) AS BIGINT) AS nb
            FROM b GROUP BY 1),
      c AS (SELECT na, nb,
              CAST(coalesce(sum(na) OVER (ORDER BY q
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS na_less,
              CAST(coalesce(sum(nb) OVER (ORDER BY q
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS nb_less
            FROM d)
      SELECT CAST(sum(na) AS BIGINT) AS n_a,
             CAST(sum(nb) AS BIGINT) AS n_b,
             CAST(sum(na * (2 * nb_less + nb)) AS BIGINT) AS u2_a,
             CAST(sum(nb * (2 * na_less + na)) AS BIGINT) AS u2_b
      FROM c""",
    "events_life_table" -> """
      WITH RECURSIVE days AS (SELECT user_id,
                   epoch_us(ts) // 86400000000 AS day FROM events),
      life AS (SELECT user_id, min(day) AS d0, max(day) AS d1
               FROM days GROUP BY 1),
      mx AS (SELECT max(day) AS dmax FROM days),
      obs AS (SELECT d1 - d0 AS t,
                CASE WHEN d1 < dmax - 7 THEN 1 ELSE 0 END AS dead
              FROM life, mx),
      tab AS (SELECT t, count(*) AS ended,
                CAST(sum(dead) AS BIGINT) AS deaths
              FROM obs GROUP BY 1),
      risk AS (SELECT t, ended, deaths,
                 CAST(sum(ended) OVER (ORDER BY t ROWS BETWEEN
                   CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
                   AS at_risk,
                 row_number() OVER (ORDER BY t) AS rn
               FROM tab),
      rec AS (SELECT rn, t, ended, deaths, at_risk,
                (1000000 * (at_risk - deaths)) // at_risk AS surv
              FROM risk WHERE rn = 1
              UNION ALL
              SELECT r.rn, r.t, r.ended, r.deaths, r.at_risk,
                (rec.surv * (r.at_risk - r.deaths)) // r.at_risk
              FROM risk r JOIN rec ON r.rn = rec.rn + 1)
      SELECT t, ended, deaths, at_risk, CAST(surv AS BIGINT)
               AS surv_micro
      FROM rec ORDER BY t""",
    "events_kendall" -> """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1
                     ELSE 0 END) AS BIGINT) AS x,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                     ELSE 0 END) AS BIGINT) AS y
                 FROM events
                 WHERE event_type IN ('click', 'purchase')
                 GROUP BY 1),
      p AS (SELECT a.x - b.x AS dx, a.y - b.y AS dy
            FROM d a JOIN d b ON a.day < b.day),
      s AS (SELECT count(*) AS n_pairs,
              CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS concordant,
              CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS discordant,
              CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0
                END) AS BIGINT) AS ties_x,
              CAST(sum(CASE WHEN dx <> 0 AND dy = 0 THEN 1 ELSE 0
                END) AS BIGINT) AS ties_y,
              CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0
                END) AS BIGINT) AS ties_xy
            FROM p)
      SELECT (SELECT count(*) FROM d) AS n_days, n_pairs, concordant,
             discordant, ties_x, ties_y, ties_xy,
             concordant - discordant AS tau_num
      FROM s""",
    "events_theil_sen" -> """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   count(*) AS y
                 FROM events GROUP BY 1),
      p AS (SELECT (b.y - a.y) * 1000000 AS dy, b.day - a.day AS dx
            FROM d a JOIN d b ON a.day < b.day),
      sl AS (SELECT (dy - ((dy % dx) + dx) % dx) // dx AS slope
             FROM p),
      r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rk,
              count(*) OVER () AS m
            FROM sl)
      SELECT (SELECT count(*) FROM d) AS n_days,
             CAST(max(m) AS BIGINT) AS n_pairs,
             CAST((sum(slope) * 2) // count(*) AS BIGINT)
               AS median2_slope_micro
      FROM r WHERE rk = (m + 1) // 2 OR rk = (m + 2) // 2""",
    "events_ks" -> """
      WITH b AS (SELECT event_type,
                   CAST(round(value * 10000) AS BIGINT) AS q
                 FROM events
                 WHERE event_type IN ('click', 'purchase')),
      d AS (SELECT q,
              CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                END) AS BIGINT) AS na,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                END) AS BIGINT) AS nb
            FROM b GROUP BY 1),
      c AS (SELECT sum(na) OVER (ORDER BY q) AS cum_a,
              sum(nb) OVER (ORDER BY q) AS cum_b,
              sum(na) OVER () AS n_a, sum(nb) OVER () AS n_b
            FROM d)
      SELECT CAST(max(n_a) AS BIGINT) AS n_a,
             CAST(max(n_b) AS BIGINT) AS n_b,
             CAST((1000000 * max(abs(cum_a * n_b - cum_b * n_a)))
               // (max(n_a) * max(n_b)) AS BIGINT) AS ks_micro
      FROM c""",
    "events_gini" -> """
      WITH u AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
      cc AS (SELECT c, count(*) AS m FROM u GROUP BY 1),
      r AS (SELECT c, m, sum(m) OVER (ORDER BY c) AS b FROM cc),
      s AS (SELECT CAST(sum(m) AS BIGINT) AS n_users,
              CAST(sum(c * m) AS BIGINT) AS total_events,
              sum(CAST(c AS HUGEINT) * (2 * b - m + 1) * m) AS s2
            FROM r)
      SELECT n_users, total_events,
             CAST(((s2 - (CAST(n_users AS HUGEINT) + 1) * total_events)
                   * 1000000)
               // (CAST(n_users AS HUGEINT) * total_events) AS BIGINT)
               AS gini_micro
      FROM s""",
    "events_chi2_dow" -> """
      WITH cell AS (SELECT event_type,
                      (epoch_us(ts) // 86400000000) % 7 AS dw,
                      count(*) AS o
                    FROM events GROUP BY 1, 2),
      r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
            FROM cell GROUP BY 1),
      c AS (SELECT dw, CAST(sum(o) AS BIGINT) AS ct
            FROM cell GROUP BY 1),
      n AS (SELECT CAST(sum(o) AS BIGINT) AS nt FROM cell),
      d AS (SELECT cell.event_type, cell.dw, cell.o,
              CAST((1000 * CAST(rt AS HUGEINT) * ct) // nt AS BIGINT)
                AS exp_milli,
              (CAST(cell.o AS HUGEINT) * nt - rt * ct) *
                (CAST(cell.o AS HUGEINT) * nt - rt * ct) AS d2,
              CAST(nt AS HUGEINT) * rt * ct AS dd
            FROM cell JOIN r USING (event_type) JOIN c USING (dw), n)
      SELECT event_type, dw, o, exp_milli,
             CAST((d2 // dd) * 1000000 + (1000000 * (d2 % dd)) // dd
               AS BIGINT) AS chi2_micro
      FROM d ORDER BY event_type, dw""",
    "events_holt" -> holtOracleSql,
    "events_decompose" -> s"""
      $decomposeCteSql
      SELECT day, y, trend_milli, detr_milli, seasonal_milli,
             detr_milli - seasonal_milli AS resid_milli
      FROM tt JOIN ss ON ss.dw = tt.day % 7 ORDER BY day""",
    "events_decompose_strength" -> s"""
      $decomposeCteSql,
      j AS (SELECT detr_milli, seasonal_milli,
              detr_milli - seasonal_milli AS resid_milli
            FROM tt JOIN ss ON ss.dw = tt.day % 7),
      a AS (SELECT count(*) AS n_days,
              sum(CAST(seasonal_milli AS HUGEINT) * seasonal_milli)
                AS ss2,
              sum(CAST(resid_milli AS HUGEINT) * resid_milli) AS sr2,
              sum(CAST(detr_milli AS HUGEINT) * detr_milli) AS sd2
            FROM j)
      SELECT n_days,
             CAST(CASE WHEN sd2 <> 0 THEN (10000 * ss2) // sd2 END
               AS BIGINT) AS seasonal_share_bp,
             CAST(CASE WHEN sd2 <> 0 THEN (10000 * sr2) // sd2 END
               AS BIGINT) AS resid_share_bp
      FROM a""",
    "events_kpi_daily" -> """
      WITH a AS (SELECT epoch_us(ts) // 86400000000 AS day,
               count(DISTINCT user_id) AS dau,
               count(*) AS n_events,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                 END) AS BIGINT) AS errors,
               count(DISTINCT CASE WHEN event_type = 'purchase'
                 THEN user_id END) AS buyers,
               CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 10000) AS BIGINT) END), 0)
                 AS BIGINT) AS revenue_q
             FROM events GROUP BY 1)
      SELECT day, dau, n_events,
             (10000 * errors) // n_events AS error_bp,
             buyers, (10000 * buyers) // dau AS buyer_share_bp,
             revenue_q
      FROM a ORDER BY day""",
    "events_cohort_ltv" -> """
      WITH c AS (SELECT user_id,
               min(epoch_us(ts) // 604800000000) AS cohort_week
             FROM events GROUP BY 1),
      r AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week,
              CAST(round(value * 10000) AS BIGINT) AS q
            FROM events WHERE event_type = 'purchase'),
      g AS (SELECT cohort_week, week - cohort_week AS week_offset,
              CAST(sum(q) AS BIGINT) AS revenue_q
            FROM r JOIN c USING (user_id) GROUP BY 1, 2)
      SELECT cohort_week, week_offset, revenue_q,
             CAST(sum(revenue_q) OVER (PARTITION BY cohort_week
               ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS cum_revenue_q
      FROM g ORDER BY cohort_week, week_offset""",
    "events_new_returning" -> """
      WITH f AS (SELECT user_id,
               min(epoch_us(ts) // 86400000000) AS fd
             FROM events GROUP BY 1),
      e AS (SELECT e.user_id, epoch_us(ts) // 86400000000 AS day, fd
            FROM events e JOIN f USING (user_id))
      SELECT day,
             count(DISTINCT CASE WHEN fd = day THEN user_id END)
               AS new_users,
             count(DISTINCT CASE WHEN fd < day THEN user_id END)
               AS returning_users,
             CAST(sum(CASE WHEN fd = day THEN 1 ELSE 0 END)
               AS BIGINT) AS new_events,
             CAST(sum(CASE WHEN fd < day THEN 1 ELSE 0 END)
               AS BIGINT) AS returning_events
      FROM e GROUP BY 1 ORDER BY 1""",
    "events_lorenz_deciles" -> """
      WITH uc AS (SELECT user_id, count(*) AS c
                  FROM events GROUP BY 1),
      hist AS (SELECT c, count(*) AS nu FROM uc GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS total_users,
                CAST(sum(c) AS BIGINT) AS total_events FROM uc),
      spans AS (SELECT c, nu,
                  CAST(sum(nu) OVER (ORDER BY c DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_us,
                  total_users, total_events
                FROM hist CROSS JOIN tot),
      sl AS (SELECT d, c, nu, cum_us, total_events,
               (d * total_users) // 10 + 1 AS lo_d,
               ((d + 1) * total_users) // 10 AS hi_d,
               cum_us - nu + 1 AS lo
             FROM spans
             CROSS JOIN (SELECT unnest(range(10)) AS d) ds),
      tk AS (SELECT d, c, total_events,
               least(hi_d, cum_us) - greatest(lo_d, lo) + 1 AS take
             FROM sl)
      SELECT d AS decile, CAST(sum(take) AS BIGINT) AS n_users,
             CAST(sum(take * c) AS BIGINT) AS n_events,
             CAST((10000 * sum(take * c)) // max(total_events)
               AS BIGINT) AS share_bp
      FROM tk WHERE take > 0 GROUP BY 1 ORDER BY 1""",
    "events_interarrival" -> """
      WITH g AS (SELECT event_type,
              (epoch_us(ts) - epoch_us(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)))
                // 1000000 AS gap_s
            FROM events),
      cc AS (SELECT event_type, gap_s, count(*) AS m FROM g
             WHERE gap_s IS NOT NULL GROUP BY 1, 2),
      cw AS (SELECT event_type, gap_s,
               CAST(sum(m) OVER (PARTITION BY event_type
                 ORDER BY gap_s ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(sum(m) OVER (PARTITION BY event_type)
                 AS BIGINT) AS n
             FROM cc)
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
             min(CASE WHEN cum * 4 >= n THEN gap_s END) AS p25_s,
             min(CASE WHEN cum * 4 >= n * 2 THEN gap_s END)
               AS p50_s,
             min(CASE WHEN cum * 4 >= n * 3 THEN gap_s END)
               AS p75_s
      FROM cw GROUP BY 1 ORDER BY 1""",
    "events_changepoint" -> """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   count(*) AS y FROM events GROUP BY 1),
      spine AS (SELECT unnest(range((SELECT min(day) FROM d),
                  (SELECT max(day) FROM d) + 1)) AS day),
      f AS (SELECT spine.day, CAST(coalesce(d.y, 0) AS BIGINT) AS y
            FROM spine LEFT JOIN d USING (day)),
      c AS (SELECT day,
              CAST(sum(y) OVER (ORDER BY day) AS BIGINT) AS sl,
              CAST(count(*) OVER (ORDER BY day) AS BIGINT) AS nl,
              CAST(sum(y) OVER () AS BIGINT) AS s,
              CAST(count(*) OVER () AS BIGINT) AS n
            FROM f)
      SELECT day AS split_day, nl AS n_left, n - nl AS n_right,
             sl AS sum_left, s - sl AS sum_right,
             abs(sl * (n - nl) - (s - sl) * nl) AS contrast
      FROM c WHERE nl < n ORDER BY contrast DESC, split_day LIMIT 1""",
    "events_rfm" -> rfmOracleSql,
    "events_funnel_latency" -> """
      WITH su AS (SELECT user_id, min(epoch_us(ts)) AS s_us
                  FROM events WHERE event_type = 'signup' GROUP BY 1),
      pu AS (SELECT user_id, epoch_us(ts) AS p_us
             FROM events WHERE event_type = 'purchase'),
      d AS (SELECT su.user_id, min(p_us - s_us) AS d_us
            FROM su JOIN pu ON pu.user_id = su.user_id
              AND p_us >= s_us
            GROUP BY 1),
      dm AS (SELECT d_us // 60000000 AS d_min FROM d),
      cc AS (SELECT d_min, count(*) AS m FROM dm GROUP BY 1),
      cw AS (SELECT d_min, sum(m) OVER (ORDER BY d_min) AS cum,
               sum(m) OVER () AS n
             FROM cc)
      SELECT CAST(max(n) AS BIGINT) AS n_converted,
             min(CASE WHEN cum * 4 >= n THEN d_min END) AS p25_min,
             min(CASE WHEN cum * 4 >= n * 2 THEN d_min END) AS p50_min,
             min(CASE WHEN cum * 4 >= n * 3 THEN d_min END) AS p75_min
      FROM cw""",
    "events_srm" -> """
      WITH u AS (SELECT DISTINCT user_id FROM events),
      a AS (SELECT CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n0,
              CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n1
            FROM u)
      SELECT n0 AS n_users_0, n1 AS n_users_1,
             (1000000 * (n0 - n1) * (n0 - n1)) // (n0 + n1)
               AS chi2_micro,
             (1000000 * (n0 - n1) * (n0 - n1)) // (n0 + n1) > 3841459
               AS srm_flag
      FROM a""",
    "events_uplift_ci" -> s"""
      WITH RECURSIVE
      pu AS (SELECT user_id,
               CAST(sum(CAST(round(value * 10000) AS HUGEINT))
                 AS BIGINT) AS u4,
               ((user_id % 2) + 2) % 2 AS arm
             FROM events GROUP BY 1),
      ${sdbmCte(
        "(SELECT user_id, r FROM pu, UNNEST(range(0, 8)) AS t(r))",
        "user_id * 8 + r", "r", "CAST(user_id AS VARCHAR)")},
      pairs AS (SELECT p.user_id, p.arm, p.u4, t.r
                FROM pu p, UNNEST(range(0, 8)) AS t(r)),
      hs AS (SELECT p.arm, p.u4, p.r,
               (((((s.hash % 2147483647) + 2147483647) % 2147483647)
                 * 48271) % 2147483647) % 10000 AS u
             FROM pairs p JOIN sdbm s ON s.sid = p.user_id * 8 + p.r),
      wts AS (SELECT arm, u4, r,
               CASE WHEN u < 3678 THEN 0 WHEN u < 7357 THEN 1
                    WHEN u < 9196 THEN 2 WHEN u < 9810 THEN 3
                    WHEN u < 9963 THEN 4 WHEN u < 9994 THEN 5
                    WHEN u < 9999 THEN 6 ELSE 7 END AS w
             FROM hs),
      rep AS (SELECT arm, r,
                CAST(CASE WHEN sum(w) = 0 THEN 0
                     ELSE sum(CAST(w AS HUGEINT) * u4) // sum(w)
                END AS BIGINT) AS m
              FROM wts GROUP BY 1, 2),
      boot AS (SELECT arm,
                 CAST((count(*) * sum(CAST(m AS HUGEINT) * m)
                       - sum(CAST(m AS HUGEINT))
                         * sum(CAST(m AS HUGEINT)))
                      // (count(*) * count(*)) AS BIGINT) AS bv
               FROM rep GROUP BY 1),
      fl AS (SELECT arm, count(*) AS n,
               CAST(sum(CAST(u4 AS HUGEINT)) // count(*) AS BIGINT)
                 AS est
             FROM pu GROUP BY 1),
      jj AS (SELECT
               max(CASE WHEN f.arm = 0 THEN f.n END) AS n_users_0,
               max(CASE WHEN f.arm = 1 THEN f.n END) AS n_users_1,
               max(CASE WHEN f.arm = 0 THEN f.est END) AS est0_u4,
               max(CASE WHEN f.arm = 1 THEN f.est END) AS est1_u4,
               max(CASE WHEN f.arm = 0 THEN b.bv END)
                 + max(CASE WHEN f.arm = 1 THEN b.bv END) AS var_sum
             FROM fl f JOIN boot b ON b.arm = f.arm),
      q AS (SELECT *,
              CASE WHEN (s0 + 1) * (s0 + 1) <= var_sum THEN s0 + 1
                   WHEN s0 * s0 > var_sum THEN s0 - 1
                   ELSE s0 END AS sv
            FROM (SELECT *, CAST(floor(sqrt(CAST(var_sum AS DOUBLE)))
                    AS BIGINT) AS s0 FROM jj))
      SELECT n_users_0, n_users_1, est0_u4, est1_u4,
             est1_u4 - est0_u4 AS diff_u4,
             (1960 * sv) // 1000 AS ci_half_u4,
             abs(est1_u4 - est0_u4) > (1960 * sv) // 1000 AS significant
      FROM q""",
    "events_lag_features" -> """
      WITH daily AS (SELECT event_type,
              epoch_us(ts) // 86400000000 AS day,
              count(*) AS n, sum(CAST(value AS DECIMAL(18,4))) AS vs
            FROM events GROUP BY 1, 2),
      sp AS (SELECT event_type, CAST(d AS BIGINT) AS day
             FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
                   FROM daily GROUP BY 1),
                  UNNEST(range(d0, d1 + 1)) AS t(d)),
      g AS (SELECT s.event_type, s.day,
              CAST(coalesce(d.n, 0) AS BIGINT) AS n,
              CAST(coalesce(d.vs, 0) AS DOUBLE) AS v_sum
            FROM sp s LEFT JOIN daily d
              ON d.event_type = s.event_type AND d.day = s.day)
      SELECT event_type, day, n, v_sum,
             CAST(lag(n, 1) OVER w AS BIGINT) AS n_lag1,
             CAST(lag(n, 7) OVER w AS BIGINT) AS n_lag7,
             CAST(sum(n) OVER w7 AS BIGINT) AS n_sum_7d,
             (1000 * CAST(sum(n) OVER w7 AS BIGINT))
               // count(*) OVER w7 AS n_ma7_milli
      FROM g
      WINDOW w AS (PARTITION BY event_type ORDER BY day),
             w7 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY event_type, day""",
    "events_mde" -> """
      WITH ud AS (SELECT event_type,
                    user_id * 100000 + epoch_us(ts) // 86400000000
                      AS uid
                  FROM events),
      nu AS (SELECT count(*) AS n_users FROM (
               SELECT DISTINCT uid FROM ud)),
      cv AS (SELECT event_type, count(*) AS n_conv FROM (
               SELECT DISTINCT event_type, uid FROM ud)
             GROUP BY 1),
      b AS (SELECT cv.event_type, nu.n_users, cv.n_conv,
              (1000000 * cv.n_conv) // nu.n_users AS p_ppm,
              nu.n_users // 2 AS arm_n
            FROM cv, nu),
      r AS (SELECT event_type, n_users, n_conv, p_ppm,
              (2 * p_ppm * (1000000 - p_ppm)) // arm_n AS rad
            FROM b),
      q AS (SELECT event_type, n_users, n_conv, p_ppm,
              CASE WHEN (s0 + 1) * (s0 + 1) <= rad THEN s0 + 1
                   WHEN s0 * s0 > rad THEN s0 - 1
                   ELSE s0 END AS s_ppm
            FROM (SELECT *, CAST(floor(sqrt(CAST(rad AS DOUBLE)))
                    AS BIGINT) AS s0 FROM r))
      SELECT event_type, n_users, n_conv, p_ppm,
             (2802 * s_ppm) // 1000 AS mde_ppm
      FROM q ORDER BY event_type""",
    "events_coverage" -> """
      WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      m AS (SELECT user_id, us,
              CASE WHEN lag(us) OVER w IS NULL
                     OR us > lag(us) OVER w + 300000000
                   THEN 1 ELSE 0 END AS ni
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      i AS (SELECT user_id, us,
              sum(ni) OVER (PARTITION BY user_id ORDER BY us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS island
            FROM m),
      g AS (SELECT user_id, island, count(*) AS ne,
              max(us) + 300000000 - min(us) AS len_us
            FROM i GROUP BY 1, 2)
      SELECT user_id, CAST(sum(ne) AS BIGINT) AS n_events,
             count(*) AS n_islands,
             CAST(sum(len_us) AS BIGINT) // 1000000 AS covered_sec
      FROM g GROUP BY 1 ORDER BY 1""",
    "events_pattern_match" -> """
      WITH s AS (SELECT user_id,
               string_agg(lower(substr(event_type, 1, 1)), ''
                 ORDER BY epoch_us(ts), event_id) AS s
             FROM events GROUP BY 1)
      SELECT user_id, CAST(length(s) AS BIGINT) AS seq_len,
             CAST(len(regexp_extract_all(s, 'v+cp')) AS BIGINT)
               AS n_matches
      FROM s ORDER BY user_id""",
    "events_forecast_eval" -> s"""
      $holtRecCteSql,
      fc AS (SELECT day, y * 1000000 AS ym,
               lag(l + b) OVER (ORDER BY day) AS fc_holt,
               lag(y * 1000000) OVER (ORDER BY day) AS fc_naive
             FROM rec)
      SELECT count(*) AS n_scored,
             CAST(sum(abs(ym - fc_holt)) AS BIGINT) AS abs_err_holt,
             CAST(sum(abs(ym - fc_naive)) AS BIGINT) AS abs_err_naive
      FROM fc WHERE fc_holt IS NOT NULL""",
    "events_burst_rate" -> """
      WITH b AS (SELECT user_id,
               count(*) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts)
                 RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW)
                 AS burst
             FROM events)
      SELECT user_id, count(*) AS n_events,
             CAST(max(burst) AS BIGINT) AS max_burst
      FROM b GROUP BY 1 ORDER BY 1""",
    "events_conversion_curve" -> s"""
      WITH su AS (SELECT user_id, min(epoch_us(ts)) AS s_us
                  FROM events WHERE event_type = 'signup' GROUP BY 1),
      pu AS (SELECT user_id, epoch_us(ts) AS p_us
             FROM events WHERE event_type = 'purchase'),
      d AS (SELECT su.user_id, min(p_us - s_us) AS d_us
            FROM su JOIN pu ON pu.user_id = su.user_id
              AND p_us >= s_us
            GROUP BY 1),
      agg AS (SELECT count(*) AS n,
              ${Seq(60L, 360L, 1440L, 4320L).map(h =>
                s"CAST(coalesce(sum(CASE WHEN d_us <= ${h * 60000000L}" +
                s" THEN 1 ELSE 0 END), 0) AS BIGINT) AS h_$h")
                .mkString(", ")}
            FROM d)
      ${Seq(60L, 360L, 1440L, 4320L).map(h => s"""
      SELECT CAST($h AS BIGINT) AS horizon_min,
             CAST(n AS BIGINT) AS n_converted, h_$h AS n_within,
             (10000 * h_$h) // n AS share_bp
      FROM agg""").mkString(" UNION ALL ")}
      ORDER BY horizon_min""",
    "events_bot_score" -> """
      WITH e AS (SELECT user_id, event_type,
                   epoch_us(ts) AS us FROM events),
      b AS (SELECT user_id, event_type, us,
              count(*) OVER (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW)
                AS burst,
              us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                AS gap_us
            FROM e),
      p AS (SELECT user_id, count(*) AS n_events,
              CAST(max(burst) AS BIGINT) AS max_burst,
              CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
              min(gap_us) // 1000000 AS min_gap_s
            FROM b GROUP BY user_id)
      SELECT user_id, n_events, max_burst, n_types,
             CAST(min_gap_s AS BIGINT) AS min_gap_s,
             (max_burst >= 5 AND n_types <= 2) AS is_bot
      FROM p ORDER BY max_burst DESC, n_events DESC, user_id
      LIMIT 50""",
    "events_mad_outliers" -> """
      WITH daily AS (SELECT event_type,
              epoch_us(ts) // 86400000000 AS day, count(*) AS x
            FROM events GROUP BY 1, 2),
      d1 AS (SELECT event_type, x AS v, count(*) AS m
             FROM daily GROUP BY 1, 2),
      c1 AS (SELECT event_type, v,
               sum(m) OVER (PARTITION BY event_type ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum,
               sum(m) OVER (PARTITION BY event_type) AS n
             FROM d1),
      med AS (SELECT event_type,
                CAST(min(CASE WHEN cum * 2 >= n THEN v END) AS BIGINT)
                  AS med
              FROM c1 GROUP BY 1),
      dev AS (SELECT daily.event_type, daily.day, daily.x,
                abs(daily.x - med.med) AS d, med.med
              FROM daily JOIN med USING (event_type)),
      d2 AS (SELECT event_type, d AS v, count(*) AS m
             FROM dev GROUP BY 1, 2),
      c2 AS (SELECT event_type, v,
               sum(m) OVER (PARTITION BY event_type ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum,
               sum(m) OVER (PARTITION BY event_type) AS n
             FROM d2),
      mad AS (SELECT event_type,
                CAST(min(CASE WHEN cum * 2 >= n THEN v END) AS BIGINT)
                  AS mad
              FROM c2 GROUP BY 1),
      j AS (SELECT dev.event_type, dev.day, dev.x, dev.d, dev.med,
              mad.mad
            FROM dev JOIN mad USING (event_type)),
      base AS (SELECT event_type, count(*) AS n_days,
                 CAST(max(med) AS BIGINT) AS med_x,
                 CAST(max(mad) AS BIGINT) AS mad_x,
                 CAST(sum(CASE WHEN d > 3 * mad THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_outliers
               FROM j GROUP BY 1),
      wst AS (SELECT event_type, CAST(day AS BIGINT) AS worst_day,
                CAST(d AS BIGINT) AS worst_dev
              FROM (SELECT event_type, day, d, row_number() OVER (
                      PARTITION BY event_type ORDER BY d DESC, day)
                      AS rk FROM j)
              WHERE rk = 1)
      SELECT b.event_type, n_days, med_x, mad_x, n_outliers,
             worst_day, worst_dev
      FROM base b JOIN wst USING (event_type) ORDER BY event_type""",
    "events_daily_bands" -> """
      WITH daily AS (SELECT event_type,
                       epoch_us(ts) // 86400000000 AS day,
                       count(*) AS x
                     FROM events GROUP BY 1, 2),
      dist AS (SELECT event_type, x, count(*) AS m
               FROM daily GROUP BY 1, 2),
      c AS (SELECT event_type, x,
              sum(m) OVER (PARTITION BY event_type ORDER BY x) AS cum,
              sum(m) OVER (PARTITION BY event_type) AS n
            FROM dist)
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
             CAST(min(x) AS BIGINT) AS min_day,
             CAST(min(CASE WHEN cum * 4 >= n THEN x END) AS BIGINT)
               AS p25_day,
             CAST(min(CASE WHEN cum * 2 >= n THEN x END) AS BIGINT)
               AS p50_day,
             CAST(min(CASE WHEN cum * 4 >= n * 3 THEN x END) AS BIGINT)
               AS p75_day,
             CAST(max(x) AS BIGINT) AS max_day
      FROM c GROUP BY event_type ORDER BY event_type""",
    "events_attribution_credit" -> """
      WITH p AS (SELECT user_id, event_id AS conv_id,
                   epoch_us(ts) AS p_us
                 FROM events WHERE event_type = 'purchase'),
      tc AS (SELECT user_id, event_type, epoch_us(ts) AS t_us
             FROM events WHERE event_type IN ('click', 'view')),
      pairs AS (SELECT p.conv_id, tc.event_type
                FROM p JOIN tc ON p.user_id = tc.user_id
                 AND tc.t_us < p.p_us
                 AND tc.t_us >= p.p_us - 604800000000),
      pc AS (SELECT conv_id, count(*) AS n_touch
             FROM pairs GROUP BY conv_id)
      SELECT event_type,
             CAST(count(DISTINCT pairs.conv_id) AS BIGINT)
               AS n_conversions,
             count(*) AS n_touches,
             CAST(sum(1000000 // n_touch) AS BIGINT) AS credit_micro
      FROM pairs JOIN pc USING (conv_id)
      GROUP BY event_type ORDER BY event_type""",
    "events_abandon_rate" -> """
      WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                      END) AS clicked,
                    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS purchased
                  FROM events GROUP BY 1, 2)
      SELECT day, count(*) AS n_engaged,
             CAST(sum(purchased) AS BIGINT) AS n_converted,
             CAST((10000 * (count(*) - sum(purchased))) // count(*)
               AS BIGINT) AS abandon_bp
      FROM ud WHERE clicked = 1
      GROUP BY day ORDER BY day""",
    "events_spearman" -> """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1
                     ELSE 0 END) AS BIGINT) AS x,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                     ELSE 0 END) AS BIGINT) AS y
                 FROM events
                 WHERE event_type IN ('click', 'purchase')
                 GROUP BY 1),
      r AS (SELECT
              count(*) OVER (PARTITION BY x) AS cx,
              count(*) OVER (PARTITION BY y) AS cy,
              2 * rank() OVER (ORDER BY x)
                + count(*) OVER (PARTITION BY x) - 1 AS rx2,
              2 * rank() OVER (ORDER BY y)
                + count(*) OVER (PARTITION BY y) - 1 AS ry2
            FROM d)
      SELECT count(*) AS n_days,
             CAST(sum((rx2 - ry2) * (rx2 - ry2)) AS BIGINT) AS sd2_4,
             CAST(sum(CASE WHEN cx > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS ties_x,
             CAST(sum(CASE WHEN cy > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS ties_y,
             CAST(CASE WHEN count(*) > 1 THEN
               1000000 - (6000000 * sum((rx2 - ry2) * (rx2 - ry2)))
                 // (4 * count(*) * (count(*) * count(*) - 1))
               END AS BIGINT) AS rho_micro
      FROM r""",
    "events_cross_corr" -> """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1
                     ELSE 0 END) AS BIGINT) AS x,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                     ELSE 0 END) AS BIGINT) AS y
                 FROM events
                 WHERE event_type IN ('click', 'purchase')
                 GROUP BY 1),
      lg AS (SELECT unnest(range(0, 8)) AS lag),
      p AS (SELECT lg.lag, a.x, b.y
            FROM lg CROSS JOIN d a
            JOIN d b ON a.day + lg.lag = b.day)
      SELECT lag, count(*) AS n_pairs,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
               AS cov_num
      FROM p GROUP BY lag ORDER BY lag""",
  )
}
