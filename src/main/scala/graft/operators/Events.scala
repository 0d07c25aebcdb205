package graft.operators

import graft.functions.{idiv, Dec38}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window analytics over the events stream table — the extended
  * surface's streaming-shaped operators in batch form (the Structured
  * Streaming twin lives in graft.streaming.EventsStream and shares
  * these query shapes).
  *
  * Sums go through DECIMAL so results are associativity-independent
  * (exact) — a double sum would vary with partition merge order at
  * scale. The FINAL output column is cast to DOUBLE: a DECIMAL output
  * stringifies with trailing fractional zeros ('38.40') which the
  * driver's hash canonicalization treats differently from shortest
  * double repr ('38.4'); both engines print the identical
  * nearest-double for the same exact decimal value.
  */
object Events {

  /** Tumbling-window counts/sums per event type.
    * Output: (window_start, event_type, n, sum_value).
    */
  def tumbling(events: DataFrame, width: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)"))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window counts (width/slide), e.g. 1h windows every 15m.
    * Output: (window_start, n, sum_value).
    */
  def sliding(events: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)"))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value"))

  /** Sessionization with an inactivity gap: classic lag + running sum
    * of session-break flags, then per-session aggregation. Timestamp
    * arithmetic in exact integer microseconds (unix_micros ≡ DuckDB
    * epoch_us). Output: (user_id, session_start, session_end, n_events).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newSession = when(
      lag(col("ts"), 1).over(byUser).isNull ||
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)) > gapUs,
      1L).otherwise(0L)
    events
      .withColumn("brk", newSession) // separate step: no nested windows
      .withColumn("session_id",
        sum(col("brk")).over(byUser
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
  }

  /** Per-user session rollup: session count, total events, exact
    * median and max session duration in integer microseconds. Uses
    * Spark's EXACT `percentile` aggregate (not percentile_approx):
    * its even-count interpolation `(a+b)/2` over exact integer inputs
    * is the same correctly-rounded double DuckDB's `median`
    * (quantile_cont) produces, so the rollup stays oracle-checkable.
    * Reuses the sessionize shuffle; adds one groupBy on user_id.
    */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .withColumn("dur_us", unix_micros(col("session_end")) -
        unix_micros(col("session_start")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        expr("percentile(dur_us, 0.5)").as("median_dur_us"),
        max(col("dur_us")).as("max_dur_us"))

  /** Per-user outlier flagging in EXACT integer arithmetic: an event
    * is anomalous when its value deviates from the user's mean by
    * more than `sigmaTenths/10` population standard deviations. The
    * σ-test is evaluated with integers only — quantize to int
    * (round(v·10⁴), the engine's standard trick), then
    *
    *   |q − S/n| > k·σ  ⟺  (q·n − S)²·100 > k₁₀²·(n·Q − S²)
    *
    * with S = Σq, Q = Σq² — no mean, no sqrt, no FP accumulation, so
    * the flag is bit-identical on any engine or partitioning.
    * Arithmetic runs in DECIMAL(38,0) (DuckDB twin: HUGEINT): the
    * squared terms pass 2⁶³ long before the inputs do. Singleton
    * users flag false (0 > 0). One groupBy + one join, both on the
    * user key.
    */
  /** Robust (boxplot/IQR) outlier flagging per group — the
    * quantile-based complement to the σ-test [[anomalies]]: immune to
    * the outliers' own pull on the threshold (a heavy tail inflates
    * σ and hides itself; quartiles don't move). Flags values outside
    * `[Q1 - k·IQR, Q3 + k·IQR]` with exact interpolated quartiles.
    *
    * Shape: one map-side-combinable per-group percentile aggregate
    * (constant-size result per group) joined back — the group stats
    * frame is tiny at any corpus size, so Catalyst broadcasts it. All
    * arithmetic on the same doubles in the same order as the DuckDB
    * `quantile_cont` twin, so the flags hash-match exactly.
    */
  def anomaliesRobust(events: DataFrame, groupCol: String = "event_type",
      k: Double = 1.5): DataFrame = {
    require(k > 0, "k must be positive")
    val q = events.groupBy(col(groupCol))
      .agg(expr("percentile(value, array(0.25, 0.75))").as("_qs"))
      .select(col(groupCol), element_at(col("_qs"), 1).as("_q1"),
        element_at(col("_qs"), 2).as("_q3"))
    val iqr = col("_q3") - col("_q1")
    events.join(q, groupCol)
      .withColumn("is_outlier",
        col("value") < col("_q1") - lit(k) * iqr ||
          col("value") > col("_q3") + lit(k) * iqr)
      .select(col("event_id"), col(groupCol), col("value"),
        col("is_outlier"))
  }

  def anomalies(events: DataFrame, sigmaTenths: Int = 15): DataFrame = {
    require(sigmaTenths > 0, "sigma must be positive")
    val b = events.select(col("event_id"), col("user_id"),
      round(col("value") * 10000).cast("long").as("q"))
    // widen BEFORE multiplying: q*q in long overflows at |value| ≈
    // 3e5 (ANSI mode would abort; the DuckDB twin is HUGEINT all the
    // way) — the decimal cast must wrap the operand, not the product
    val qd = col("q").cast("decimal(38,0)")
    val a = b.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(qd).as("s"),
      sum(qd * col("q")).as("qq"))
    val dev = qd * col("n") - col("s")
    val varTerm = col("n").cast("decimal(38,0)") * col("qq") -
      col("s").cast("decimal(38,0)") * col("s")
    b.join(a, Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("q"),
        (dev * dev * 100 >
          varTerm * (sigmaTenths.toLong * sigmaTenths))
          .as("is_anomaly"))
  }

  /** Ordered funnel analysis: for each user who performed `steps(0)`,
    * the earliest time of each step that happened AT OR AFTER the
    * previous step's earliest time — the standard product-analytics
    * funnel (a step counts only if it follows the prior one; a
    * purchase before the first qualifying click does not complete a
    * signup→click→purchase funnel). Output: (user_id, <step>_ts per
    * step — null once the chain breaks, monotone non-decreasing
    * across a row — and `stage` = completed step count).
    *
    * Shape: one filtered min-aggregate plus one equi-join per step,
    * every shuffle on the same user key — co-partitioned end to end
    * after the first exchange; no windows over full event history and
    * no per-user event collection, so user fan-in is bounded by the
    * step count at any corpus size.
    */
  def funnel(events: DataFrame,
      steps: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = events.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as(s"${steps.head}_ts"))
    val full = steps.zipWithIndex.tail.foldLeft(first) {
      case (acc, (s, i)) =>
        val prevCol = s"${steps(i - 1)}_ts"
        val nxt = events.filter(col("event_type") === s)
          .select(col("user_id").as("__u"), col("ts").as("__t"))
          .join(acc.select(col("user_id").as("__u"), col(prevCol))
              .filter(col(prevCol).isNotNull),
            Seq("__u"))
          .filter(col("__t") >= col(prevCol))
          .groupBy(col("__u")).agg(min(col("__t")).as(s"${s}_ts"))
          .withColumnRenamed("__u", "user_id")
        acc.join(nxt, Seq("user_id"), "left")
    }
    full.withColumn("stage",
      steps.map(s => when(col(s"${s}_ts").isNotNull, 1).otherwise(0))
        .reduce(_ + _).cast("long"))
  }

  /** [[funnel]] with a per-step completion window: a step counts only
    * if it happens within `maxDelayUs` of the PREVIOUS step's
    * qualifying time (the product-analytics "converted within N
    * hours" funnel — an unbounded funnel overstates conversion by
    * crediting purchases weeks after the click). Same join shape as
    * [[funnel]] (one filtered min-aggregate + user-key equi-join per
    * step); the window is one extra residual predicate on the join,
    * zero extra shuffles.
    */
  def funnelWindowed(events: DataFrame,
      steps: Seq[String] = Seq("signup", "click", "purchase"),
      maxDelayUs: Long = 86400000000L): DataFrame = {
    require(steps.nonEmpty && maxDelayUs >= 0)
    val first = events.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as(s"${steps.head}_ts"))
    val full = steps.zipWithIndex.tail.foldLeft(first) {
      case (acc, (s, i)) =>
        val prevCol = s"${steps(i - 1)}_ts"
        val nxt = events.filter(col("event_type") === s)
          .select(col("user_id").as("__u"), col("ts").as("__t"))
          .join(acc.select(col("user_id").as("__u"), col(prevCol))
              .filter(col(prevCol).isNotNull),
            Seq("__u"))
          .filter(col("__t") >= col(prevCol) &&
            unix_micros(col("__t")) - unix_micros(col(prevCol))
              <= maxDelayUs)
          .groupBy(col("__u")).agg(min(col("__t")).as(s"${s}_ts"))
          .withColumnRenamed("__u", "user_id")
        acc.join(nxt, Seq("user_id"), "left")
    }
    full.withColumn("stage",
      steps.map(s => when(col(s"${s}_ts").isNotNull, 1).otherwise(0))
        .reduce(_ + _).cast("long"))
  }

  /** Cohort retention matrix: cohort = each user's first active week,
    * cell = distinct users from that cohort active `week_offset` weeks
    * later. Week index is pure integer arithmetic on epoch
    * microseconds (`epoch_us div µs-per-week`), NOT date_trunc — both
    * engines agree bit-for-bit and no week-start convention leaks in.
    * Output: (cohort_week, week_offset, n_users, pct_bp — retention as
    * integer basis points of the cohort's week-0 size).
    *
    * Shape: one aggregate keyed on user_id (first-seen week), a
    * user-key equi-join back to the fact rows (co-partitioned with the
    * aggregate's shuffle), then one aggregate on (cohort, offset);
    * the week-0 cohort sizes re-attach by a broadcast-sized join on
    * cohort_week. No windows over event history, nothing collected.
    */
  def retention(events: DataFrame): DataFrame = {
    val usPerWeek = 7L * 24 * 3600 * 1000000L
    val week = expr(s"unix_micros(ts) div $usPerWeek")
    val firstWeek = events.groupBy(col("user_id"))
      .agg(min(week).as("cohort_week"))
    val cells = events.select(col("user_id"), week.as("w"))
      .join(firstWeek, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("w") - col("cohort_week")).as("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
    val base = cells.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("cohort_size"))
    cells.join(base, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        expr("(10000 * n_users) div cohort_size").as("pct_bp"))
  }

  /** Gap-filled daily resample with forward fill: one row per day of
    * the observed [min, max] span per event type, `n` = that day's
    * event count (0 on gap days) and `filled` = the most recent
    * day's exact aggregate value carried forward (IGNORE NULLS
    * navigation window). The day spine is `sequence()` + explode —
    * generated, not read, so the fill never depends on which days
    * happen to exist in the data. Sums are exact DECIMAL, surfaced as
    * DOUBLE per the oracle-hash convention.
    *
    * Shape: daily pre-aggregation first (shuffle carries ≤ one row per
    * (type, day), not raw events), the spine explode is ~span-days per
    * type, and the forward fill partitions by type — bounded state per
    * partition at any scale.
    */
  def gapfillDaily(events: DataFrame): DataFrame = {
    val day = expr("unix_micros(ts) div 86400000000")
    val daily = events.groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("day_sum"))
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("day_sum"), ignoreNulls = true).over(byType)
          .cast("double").as("filled"))
  }

  /** Daily lag/rolling feature frame per event type — the feature-
    * store shape an ML training pipeline materializes (yesterday's
    * count, same-day-last-week, trailing 7-day mean): built over the
    * GAPFILLED day spine so lag-7 means seven calendar days, not
    * seven observed rows (the classic feature bug on sparse series).
    * Counts and their lags are exact longs; the 7-day mean is an
    * integer milli-unit truncating division over the rows actually in
    * the trailing frame (warm-up days average over fewer); the value
    * sum rides DECIMAL internally and surfaces as DOUBLE per the
    * oracle-hash convention. Leading lags are NULL — a feature row
    * that does not exist must read as missing, not zero.
    *
    * Output: (event_type, day, n, v_sum, n_lag1, n_lag7, n_sum_7d,
    * n_ma7_milli), one row per (type, spine day).
    *
    * Shape: daily pre-aggregation (shuffle carries one row per
    * (type, day)), a generated spine, and ONE type-partitioned window
    * pass for every feature column — bounded state per partition.
    */
  def lagFeatures(events: DataFrame): DataFrame = {
    val day = expr("unix_micros(ts) div 86400000000")
    val daily = events.groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("vs"))
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val last7 = w.rowsBetween(-6, Window.currentRow)
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("vs"), lit(0).cast("decimal(18,4)"))
          .cast("double").as("v_sum"))
      .select(col("event_type"), col("day"), col("n"), col("v_sum"),
        lag(col("n"), 1).over(w).as("n_lag1"),
        lag(col("n"), 7).over(w).as("n_lag7"),
        sum(col("n")).over(last7).as("n_sum_7d"),
        expr("1000 * sum(n) OVER (PARTITION BY event_type ORDER BY day" +
          " ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) div count(1)" +
          " OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6" +
          " PRECEDING AND CURRENT ROW)").as("n_ma7_milli"))
  }

  /** Truncated exponentially-weighted moving average per event type
    * over hourly buckets, EXACT: values quantize to 1e-4 units
    * (`round(value·10000)`, the [[anomalies]] convention), α = 1/2,
    * and the exponential tail truncates at `depth` buckets so every
    * weight is the integer 2^(depth−1−j) for lag j — the smoothed
    * value is `Σ wⱼ·xⱼ div Σ wⱼ` with no FP accumulation anywhere.
    * The dropped tail carries < 2^−depth of the mass (< 0.4% at the
    * default 8), the price of making an inherently-recursive smoother
    * a FIXED window expression — which is also what makes it a single
    * codegen'd window pass instead of a sequential scan, and lets the
    * oracle re-derive it with the same `depth` explicit lags.
    *
    * Lags are observation-indexed over the buckets that exist; for
    * time-indexed smoothing over sparse series, densify with
    * [[gapfillDaily]]'s spine pattern first (empty hours then enter
    * as zero observations). Leading buckets with fewer than `depth`
    * predecessors renormalize over the weights actually present —
    * the standard `adjust=true` EWM convention.
    *
    * Shape at scale: hourly pre-aggregation shuffles ≤ one row per
    * (type, hour); the smoother is one window over that already-small
    * frame, partitioned by type — no self-join, no state beyond
    * `depth` rows per partition.
    */
  def ewmaHourly(events: DataFrame, depth: Int = 8): DataFrame = {
    require(depth >= 1 && depth <= 62, "depth must keep 2^depth in long")
    val hourly = hourlyQuantized(events)
    val byType = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val terms = (0 until depth).map { j =>
      val wj = 1L << (depth - 1 - j)
      val x = lag(col("q"), j).over(byType)
      (when(x.isNotNull, lit(wj) * x).otherwise(lit(0L)),
        when(x.isNotNull, lit(wj)).otherwise(lit(0L)))
    }
    val wsum = terms.map(_._1).reduce(_ + _)
    val wdiv = terms.map(_._2).reduce(_ + _)
    hourly
      .withColumn("ewma_q", idiv(wsum, wdiv))
      .select(col("event_type"), col("hour"), col("n"), col("q"),
        col("ewma_q"))
  }

  /** The hourly pre-aggregation [[ewmaHourly]] smooths over, exposed
    * on its own: per (event_type, hour-since-epoch) bucket, the count
    * and the exact 1e-4-quantized value sum. Exists both as a reusable
    * building block and as the DIAGNOSTIC half of the ewma gate — its
    * own oracle bisects any cross-engine divergence to "bucketing"
    * (this frame differs) vs "smoothing" (this frame matches, the
    * window pass differs) in a single run. One shuffle, ≤ one row out
    * per (type, hour) — the same scale shape as any hourly rollup.
    */
  def hourlyQuantized(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour"))
      .agg(sum(expr("cast(round(value * 10000) as long)")).as("q"),
        count(lit(1)).as("n"))

  /** First-order Markov transition matrix over per-user event
    * sequences: count every consecutive (prev_type → next_type) pair
    * (ordered by ts, event_id ties) and emit the per-source transition
    * probability in exact integer basis points
    * (`(10000·n) div Σ_next n`) — the product-analytics "what happens
    * after X" table, and the model behind next-event prediction
    * baselines.
    *
    * Shape at scale: one per-user window (`lead`) — the shuffle is on
    * user_id, state one row — then a (prev, next) count aggregate
    * whose output is |event-type|² rows at most; the per-source
    * totals re-attach by a join on prev_type that AQE broadcasts
    * (type-cardinality-sized, not data-sized).
    */
  def transitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("event_type").as("prev_type"),
        lead(col("event_type"), 1).over(byUser).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("tot"))
    pairs.join(totals, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        idiv(lit(10000L) * col("n"), col("tot"))
          .as("p_bp"))
  }

  /** Median/MAD robust outlier test — the third of the anomaly trio
    * ([[anomalies]] σ-test, [[anomaliesRobust]] IQR fences): flag
    * events where `|q − median| · 10 > mad · kTenths`, with MAD the
    * median absolute deviation. Both medians interpolate at worst to
    * .5 (then .25 for the MAD) — dyadic rationals that doubles carry
    * EXACTLY and both engines compute identically from exact integer
    * operands, so the flag is deterministic like its two siblings.
    * MAD's 50% breakdown point beats both: the σ-test's moments and
    * even the IQR fence can be dragged by a heavy contaminated tail.
    *
    * Two grouped medians over the user key (same shuffle twice, AQE
    * reuses the partitioning) + one join back; no window, no sort
    * beyond the median's own.
    */
  def anomaliesMad(events: DataFrame, kTenths: Int = 15): DataFrame = {
    require(kTenths > 0, "k must be positive")
    val b = events.select(col("event_id"), col("user_id"),
      round(col("value") * 10000).cast("long").as("q"))
    val m = b.groupBy(col("user_id")).agg(median(col("q")).as("med"))
    val d = b.join(m, "user_id")
      .withColumn("adev", abs(col("q") - col("med")))
    val md = d.groupBy(col("user_id")).agg(median(col("adev")).as("mad"))
    d.join(md, "user_id")
      .select(col("event_id"), col("user_id"), col("q"),
        (col("adev") * 10 > col("mad") * kTenths).as("is_anomaly"))
  }

  /** Autocorrelation of the daily event-count series at lags
    * 1..`maxLag` — the seasonality probe run before windowed feature
    * engineering (a strong lag-7 spike says "weekly cycle; bucket by
    * day-of-week", a lag-1 spike says "momentum; EWMA features help",
    * cf. [[ewmaHourly]]). The estimator is the standard
    * sample ACF r_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄) / Σ_t(x_t−x̄)²,
    * made EXACTLY cross-engine-reproducible by n-scaling the
    * centering: y_t = n·x_t − Σx is an exact integer, and r_k in
    * micro-units is 10⁶·Σ y_t·y_{t−k} div Σ y_t² (the n² factors
    * cancel). Products accumulate in DECIMAL(38,0) — at large scale
    * daily counts are ~10⁹ and y² overflows int64 long before the
    * series gets long.
    *
    * Scale shape: ONE hash aggregation over raw events (to daily
    * grain) does all the data-sized work; everything after runs on
    * the day series, which is calendar-bounded (365 rows/year — the
    * global day-index window is a deliberately tiny single partition,
    * same justification as [[gapfillDaily]]). The lag shift is a
    * self-equi-join on day index against a `maxLag`-row lag frame,
    * not `maxLag` window passes.
    *
    * Degenerate input: a CONSTANT daily series has den Σy² = 0, and
    * the integer division yields NULL acf_micro for every lag (DuckDB
    * agrees — division by zero is NULL there too). Consumers must
    * treat an all-NULL column as "ACF undefined: the series has no
    * variance", not as missing data.
    */
  def acfDaily(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1)
    acfFromDaily(events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x")), maxLag)
  }

  /** [[acfDaily]]'s arithmetic over an explicit (day, x) daily-count
    * frame — split out so OverflowSpec can drive the exact
    * expressions at the claimed magnitudes (x up to ~1e12/day keeps
    * y = n·x − Σx inside int64 for calendar-bounded n, while
    * Σy·y_lag and Σy² ride DECIMAL(38,0) at ~1e32 ≪ 10³⁸; the 1e6
    * scale-up clears likewise). Counts x are int64-safe by
    * construction, so the clearing claim lives in this arithmetic.
    */
  private[graft] def acfFromDaily(d: DataFrame, maxLag: Int): DataFrame = {
    val st = d.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    // tiny; reused three times below
    val y = graft.Scratch.pin("acf centered series",
      d.crossJoin(st) // 1-row broadcast
        .select(row_number().over(Window.orderBy(col("day"))).as("i"),
          (col("n") * col("x") - col("sx")).as("y")))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val den = y.agg(sum(dec(col("y")) * col("y")).as("dd"))
    val lags = y.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    y.as("a").crossJoin(lags)
      .join(y.as("b"), col("b.i") === col("a.i") - col("lag"))
      .groupBy(col("lag"))
      .agg(sum(dec(col("a.y")) * col("b.y")).as("num"))
      .crossJoin(den) // 1-row broadcast
      .withColumn("nm", col("num") * 1000000L)
      .select(col("lag"), expr("nm div dd").as("acf_micro"))
      .orderBy(col("lag"))
  }

  /** Day-of-week seasonal index: each weekday's mean daily volume
    * relative to the overall mean, in exact integer basis points —
    * the companion readout to [[acfDaily]] (a lag-7 ACF spike says
    * "weekly cycle exists"; this says WHICH days carry it). dow is
    * epoch-day mod 7 (day 0 = 1970-01-01 = a Thursday, documented
    * rather than localized — both engines share it by construction).
    * index_bp = 10⁴·(dow_sum/dow_days)/(S/N) cleared of fractions:
    * 10⁴·dow_sum·N div (dow_days·S).
    *
    * Scale shape: one data-sized hash aggregation to daily grain;
    * everything after runs on the ≤7-row dow rollup with the 1-row
    * total attached as a bounded broadcast.
    */
  def seasonalDow(events: DataFrame): DataFrame = {
    val d = events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val dw = d.groupBy(expr("day % 7").as("dow"))
      .agg(count(lit(1)).as("dow_days"), sum(col("x")).as("dow_events"))
    val tot = d.agg(count(lit(1)).as("n_days"), sum(col("x")).as("total"))
    dw.crossJoin(tot) // 1-row broadcast
      .select(col("dow"), col("dow_days"), col("dow_events"),
        expr("(10000 * dow_events * n_days) div (dow_days * total)")
          .as("index_bp"))
      .orderBy(col("dow"))
  }

  /** CUSUM change detection on the daily event-count series (Page
    * 1954), in the closed prefix-sum form: with the n-scaled centered
    * series z_t = n·x_t − Σx (exact integers, mean zero), the upward
    * CUSUM S_t = max(0, S_{t−1} + z_t) equals P_t − min(0, min_{j≤t}
    * P_j) for the prefix sums P_t — which turns the recursive
    * definition into two ordered-window passes (running sum, running
    * min) that any engine evaluates identically. The downward CUSUM
    * is the mirror with running max. A sustained level shift shows as
    * a ramp in one of the two sides; the argmax day is the classic
    * changepoint estimate.
    *
    * Scale shape: identical to [[acfDaily]] — one data-sized hash
    * aggregation to daily grain, then calendar-bounded windows.
    * Output: (day, x, cusum_up, cusum_down) in n-scaled units,
    * ordered by day.
    */
  def cusumDaily(events: DataFrame): DataFrame = {
    val d = events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.crossJoin(d.agg(count(lit(1)).as("n"), sum(col("x")).as("sx")))
      .withColumn("p", sum(col("n") * col("x") - col("sx")).over(w))
      .withColumn("cusum_up", col("p") - least(lit(0L), min(col("p")).over(w)))
      .withColumn("cusum_down", greatest(lit(0L), max(col("p")).over(w)) - col("p"))
      .select(col("day"), col("x"), col("cusum_up"), col("cusum_down"))
      .orderBy(col("day"))
  }

  /** Longest consecutive-active-day streak per user — the classic
    * gaps-and-islands rewrite: an island of consecutive days has
    * constant (day − dense_rank(day)), so grouping on that difference
    * turns each streak into one aggregation key; no self-join, no
    * recursion. Engagement streaks are the standard retention feature
    * the cohort matrix ([[retention]]) can't see (it buckets by week,
    * not contiguity).
    *
    * Scale shape: one hash aggregation to (user, day) grain, one
    * user-partitioned window for the dense rank (parallel across
    * users, frame bounded by a user's active days), two more
    * user-keyed aggregations — everything shuffles on user_id once.
    * Output: (user_id, n_active_days, n_streaks, longest_streak).
    */
  def streaks(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    ud.withColumn("island", col("day") - dense_rank().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
  }

  /** Pareto concentration of activity — "how many users produce 80%
    * of events", computed scale-safely through the COUNT-OF-COUNTS
    * histogram: per-user counts roll up to (activity level c →
    * n_users), and the cumulative walk runs over activity LEVELS
    * (bounded by max per-user activity, not by the user population),
    * never a user-ranked global window. The partial level at the
    * threshold is filled by exact ceiling division. All integers:
    * target = ⌈0.8·E⌉ via (4E+4) div 5.
    *
    * Output: 1 row (n_users, n_events, target_events, cstar,
    * users_for_80pct, share_bp) — cstar the activity level where the
    * cumulative crosses the target, share_bp = 10⁴·users/total.
    */
  def paretoConcentration(events: DataFrame): DataFrame = {
    val uc = events.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val hist = uc.groupBy(col("c")).agg(count(lit(1)).as("nu"))
    val w = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = uc.agg(count(lit(1)).as("n_users"),
      sum(col("c")).as("n_events"))
    val cum = hist
      .withColumn("cum_ev", sum(col("c") * col("nu")).over(w))
      .withColumn("cum_us", sum(col("nu")).over(w))
      .crossJoin(tot) // 1-row broadcast
      .withColumn("target", expr("(4 * n_events + 4) div 5"))
      .filter(col("cum_ev") >= col("target"))
      .orderBy(col("c").desc).limit(1)
    cum.select(col("n_users"), col("n_events"), col("target")
        .as("target_events"), col("c").as("cstar"),
        (col("cum_us") - col("nu") +
          // events still missing above this level, filled at c* rate
          expr("(target - (cum_ev - c * nu) + c - 1) div c"))
          .as("users_for_80pct"))
      .withColumn("share_bp",
        expr("(10000 * users_for_80pct) div n_users"))
  }

  /** Maximum concurrent sessions per day — the interval-overlap sweep
    * (capacity planning's "peak simultaneous users"), computed
    * WITHOUT a global endpoint sort: session intervals become ±1
    * deltas, per-HOUR delta sums roll up first (time-domain-bounded
    * table), an ordered window over that small table provides each
    * hour's carry-in level, and the within-hour running sum is a
    * window PARTITIONED by hour — the same two-stage prefix-sum shape
    * as the skyline and the equi-depth histogram. Ties (equal
    * instants) are made deterministic by folding the delta into the
    * RANGE-frame ordering key (ord = 2t + [d>0], ends sort before
    * starts so touching sessions never overlap), and the RANGE frame
    * gives every peer the same running value.
    *
    * Output: (day, max_concurrency) — the max over state-change
    * points inside each day; sessions are [start, end] closed (the
    * end delta fires at end + 1 µs). Reuses [[sessionize]].
    */
  def maxConcurrencyDaily(events: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    val s = sessionize(events, gapMinutes)
    val ep = s.select(unix_micros(col("session_start")).as("t"),
        lit(1L).as("d"))
      .unionByName(s.select(
        (unix_micros(col("session_end")) + 1L).as("t"),
        lit(-1L).as("d")))
    val e2 = ep.withColumn("ord", col("t") * 2 + expr("(d + 1) div 2"))
      .withColumn("bk", expr("t div 3600000000"))
    val carry = e2.groupBy(col("bk")).agg(sum(col("d")).as("bd"))
      .withColumn("carry",
        coalesce(sum(col("bd")).over(Window.orderBy(col("bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bk"), col("carry"))
    val wIn = Window.partitionBy(col("bk")).orderBy(col("ord"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    e2.join(carry, "bk")
      .withColumn("conc", col("carry") + sum(col("d")).over(wIn))
      .groupBy(expr("t div 86400000000").as("day"))
      .agg(max(col("conc")).as("max_concurrency"))
      .orderBy(col("day"))
  }

  /** Top-k most frequent length-3 event-type paths (per-user ordered
    * trigrams) — [[transitions]]' bigram matrix extended one step,
    * the "what do journeys actually look like" readout. Two lead
    * windows per user (parallel across users), one |types|³-bounded
    * aggregation, full tiebreak for a deterministic top-k.
    * Output: (t1, t2, t3, n).
    */
  def eventPaths(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(k)
  }

  /** Seasonally-adjusted volume anomalies: each day's event count is
    * tested against ITS OWN WEEKDAY's distribution — the σ-test of
    * [[anomalies]] re-grouped by day-of-week, so a quiet Sunday is not
    * flagged merely for being a Sunday (the classic false positive of
    * an unconditional volume alarm; [[seasonalDow]] quantifies exactly
    * the cycle this test removes). Integer cross-multiplied form:
    * (n·x − S)²·100 > k²·(n·Q − S²) with per-dow sufficient
    * statistics — n² cancels, no division, bit-identical anywhere.
    *
    * One data-sized aggregation to daily grain; the dow stats table
    * is 7 rows. Output: (day, dow, x, is_anomaly) by day.
    */
  def anomaliesSeasonal(events: DataFrame,
      sigmaTenths: Int = 20): DataFrame = {
    require(sigmaTenths > 0)
    val d = events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("dow", expr("day % 7"))
    val xd = col("x").cast("decimal(38,0)")
    val st = d.groupBy(col("dow")).agg(count(lit(1)).as("n"),
      sum(col("x")).as("s"), sum(xd * col("x")).as("qq"))
    val dev = xd * col("n") - col("s")
    val varTerm = col("n").cast("decimal(38,0)") * col("qq") -
      col("s").cast("decimal(38,0)") * col("s")
    d.join(st, Seq("dow"))
      .select(col("day"), col("dow"), col("x"),
        (dev * dev * 100 >
          varTerm * (sigmaTenths.toLong * sigmaTenths))
          .as("is_anomaly"))
      .orderBy(col("day"))
  }

  /** Position-based (U-shaped) multi-touch attribution: every
    * conversion distributes 10⁴ basis points of credit over the
    * user's PRECEDING touches — 40% to the first touch, 40% to the
    * last, the middle 20% split evenly (the standard 40/20/40 model;
    * 1 touch takes all 10⁴, 2 touches split 5000/5000). Credits are
    * exact integers (the middle split truncates — the lost remainder
    * is < (k−2) micro-bp per conversion, documented rather than
    * redistributed).
    *
    * Shape: one user-keyed equi-join of touches to conversions with
    * the time predicate as residual (fan-out bounded by per-user
    * activity), one per-conversion rank window, one channel rollup.
    * Output: (channel, n_touches, credit_bp_sum).
    */
  def positionAttribution(events: DataFrame,
      convType: String = "purchase"): DataFrame = {
    val conv = events.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("conv_id"),
        unix_micros(col("ts")).as("ct"))
    val touch = events.filter(col("event_type") =!= convType)
      .select(col("user_id"), col("event_type").as("channel"),
        col("event_id").as("touch_id"), unix_micros(col("ts")).as("tt"))
    val j = touch.join(conv, "user_id").filter(col("tt") < col("ct"))
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("tt"), col("touch_id"))
    j.withColumn("rk", row_number().over(w))
      .withColumn("k", count(lit(1))
        .over(Window.partitionBy(col("conv_id"))))
      .withColumn("credit_bp",
        when(col("k") === 1, 10000L)
          .when(col("rk") === 1 || col("rk") === col("k"),
            when(col("k") === 2, 5000L).otherwise(4000L))
          .otherwise(expr("2000 div (k - 2)")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit_bp")).as("credit_bp_sum"))
  }

  /** Two-sided trimmed mean per event type — [[winsorize]]'s sibling:
    * instead of clipping the tail VALUES to the rank bounds, the tail
    * ROWS (⌈n/20⌉ per side, ≈ p05/p95) are dropped and the middle
    * averaged. Rank-defined cut, exact integer mean in micro-units —
    * no interpolation, no FP accumulation. One per-type rank window
    * (parallel across types) + one hash aggregation.
    * Output: (event_type, n_kept, trimmed_mean_micro).
    */
  def trimmedMean(events: DataFrame): DataFrame = {
    val b = events.select(col("event_type"), col("event_id"),
      round(col("value") * 10000).cast("long").as("q"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("q"), col("event_id"))
    b.withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("event_type"))))
      .withColumn("klo", expr("(n + 19) div 20"))
      .filter(col("rk") > col("klo") && col("rk") <= col("n") - col("klo"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"), sum(col("q")).as("sum_q"))
      .select(col("event_type"), col("n_kept"),
        expr("(100 * sum_q) div n_kept").as("trimmed_mean_micro"))
  }

  /** Rank-based two-sided winsorization per event type: clip values
    * below the ⌈n/20⌉-th smallest (≈ p05) or above the mirrored rank
    * (≈ p95) to those bound VALUES — the standard heavy-tail taming
    * step before training on a numeric feature. Bounds are defined by
    * RANK, not interpolated quantiles, so they are exact integers
    * with no interpolation-formula cross-engine hazard; ties rank
    * deterministically by event_id.
    *
    * One per-type window pass (rank + count) and a per-type bounds
    * aggregate re-attached by a tiny join — the bound table has one
    * row per type. At scale the rank window is the cost: it shuffles
    * on event_type; heavy single types are exactly the case where
    * the [[Profile]] sketch quantiles replace rank bounds.
    */
  def winsorize(events: DataFrame): DataFrame = {
    val b = events.select(col("event_id"), col("event_type"),
      round(col("value") * 10000).cast("long").as("q"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("q"), col("event_id"))
    val r = b.withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("event_type"))))
      .withColumn("klo", expr("(n + 19) div 20"))
    val bounds = r.groupBy(col("event_type")).agg(
      max(when(col("rk") === col("klo"), col("q"))).as("lo"),
      max(when(col("rk") === col("n") + 1 - col("klo"), col("q")))
        .as("hi"))
    b.join(bounds, "event_type")
      .select(col("event_id"), col("event_type"), col("q"),
        when(col("q") < col("lo"), col("lo"))
          .when(col("q") > col("hi"), col("hi"))
          .otherwise(col("q")).as("q_clip"),
        (col("q") < col("lo") || col("q") > col("hi")).as("clipped"))
  }

  /** Mann–Whitney U between two event types' value distributions —
    * the nonparametric two-sample location test (Mann & Whitney
    * 1947), exact and rank-window-free. Instead of ranking N rows in
    * one global window (the textbook plan — a single-partition sort
    * that dies at scale), the samples are first collapsed to the
    * VALUE-DOMAIN grain: one hash aggregation to (q, n_a, n_b)
    * counts, then one cumulative window over the distinct-value
    * frame, which is bounded by the value domain (two-decimal values
    * quantized to 1e-4 units → ≤ ~50k rows however many events).
    * U is derived from the counts with the tie-aware identity
    * 2·U_a = Σ_q n_a(q)·(2·N_b(<q) + n_b(q)) — all integer, so the
    * doubled statistics are exact (no .5 midranks). Invariant:
    * u2_a + u2_b = 2·n_a·n_b (pinned in EventsSpec).
    *
    * Output: 1 row (n_a, n_b, u2_a, u2_b).
    */
  def mannWhitneyU(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase"): DataFrame = {
    val b = events.filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        round(col("value") * 10000).cast("long").as("q"))
    val d = b.groupBy(col("q")).agg(
      sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("na"),
      sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("nb"))
    val w = Window.orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.select(col("na"), col("nb"),
        coalesce(sum(col("na")).over(w), lit(0L)).as("na_less"),
        coalesce(sum(col("nb")).over(w), lit(0L)).as("nb_less"))
      .agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
        sum(col("na") * (lit(2L) * col("nb_less") + col("nb")))
          .as("u2_a"),
        sum(col("nb") * (lit(2L) * col("na_less") + col("na")))
          .as("u2_b"))
  }

  /** Kaplan–Meier life table over per-user activity lifetimes
    * (Kaplan & Meier 1958) — the survival/churn curve of the user
    * base. A user's observed time t is last-day − first-day; users
    * still active within `censorDays` of the corpus end are
    * right-censored (their churn is not yet observed). For each
    * distinct lifetime t the table reports how many observations end
    * there (`ended`), how many of those are churns (`deaths`), the
    * at-risk count n_t = #users with lifetime ≥ t, and the product-
    * limit survival estimate in exact integer micro-units with
    * per-step truncating division: S_t = (S_prev·(n_t−d_t)) div n_t,
    * S_start = 1e6 — a pure integer recurrence any engine re-derives
    * (the DuckDB twin unrolls it with a recursive CTE).
    *
    * Scale shape: one user-keyed aggregation (lifetimes), one
    * lifetime-keyed aggregation (the table), a reverse-cumulative
    * window plus the sequential fold — BOTH on the distinct-lifetime
    * frame, which is calendar-bounded (≤ observation-window days),
    * never user-bounded. The fold runs via the `aggregate` HOF on
    * one collected array of that bounded frame; the only scalar
    * crossed in is the 1-row corpus max-day (adjudicated pattern).
    *
    * Output: (t, ended, deaths, at_risk, surv_micro) ordered by t.
    */
  def lifeTable(events: DataFrame, censorDays: Long = 7): DataFrame = {
    val days = events.select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"))
    val life = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val mx = days.agg(max(col("day")).as("dmax"))
    val obs = life.crossJoin(mx)
      .select((col("d1") - col("d0")).as("t"),
        (col("d1") < col("dmax") - censorDays).cast("long").as("dead"))
    val tab = obs.groupBy(col("t"))
      .agg(count(lit(1)).as("ended"), sum(col("dead")).as("deaths"))
    val wge = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = tab.withColumn("at_risk", sum(col("ended")).over(wge))
    risk
      .agg(sort_array(collect_list(struct(col("t"), col("ended"),
        col("deaths"), col("at_risk")))).as("a"))
      .select(col("a"), expr(
        """aggregate(a,
             named_struct('s', CAST(1000000 AS BIGINT),
                          'o', CAST(array() AS ARRAY<BIGINT>)),
             (acc, x) -> named_struct(
               's', (acc.s * (x.at_risk - x.deaths)) div x.at_risk,
               'o', array_append(acc.o,
                 (acc.s * (x.at_risk - x.deaths)) div x.at_risk)),
             acc -> acc.o)""").as("survs"))
      .select(posexplode(arrays_zip(col("a"), col("survs"))))
      .select(col("col.a.t").as("t"), col("col.a.ended").as("ended"),
        col("col.a.deaths").as("deaths"),
        col("col.a.at_risk").as("at_risk"),
        col("col.survs").as("surv_micro"))
      .orderBy(col("t"))
  }

  /** Kendall concordance census between two event types' daily
    * volumes — the rank-correlation complement to the Pearson-style
    * q_stats_agg: counts of concordant, discordant, and tied day
    * pairs (the τ-b sufficient statistics, left un-normalized so
    * every output is an exact integer; τ-b's denominator needs a
    * square root, which is presentation, not statistic). Days with
    * neither type present contribute nothing; a day with one type
    * present counts the other as 0 (full-outer day alignment).
    *
    * Scale shape: one hash aggregation to the (day, x, y) grain,
    * then an all-pairs self-join RESTRICTED to the daily frame —
    * calendar-bounded (d days → d·(d−1)/2 pairs; ~500k pairs for a
    * 3-year window), independent of event volume, the same
    * domain-bounded-quadratic adjudication as the ACF/seasonal
    * family. Nothing about this plan changes at 100× data: only the
    * calendar grows it.
    *
    * Output: 1 row (n_days, n_pairs, concordant, discordant,
    * ties_x, ties_y, ties_xy, tau_num = concordant − discordant).
    */
  def kendallDaily(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase"): DataFrame = {
    val d = events.filter(col("event_type").isin(typeA, typeB))
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L))
          .as("y"))
    val pairs = d.as("a").join(d.as("b"), col("a.day") < col("b.day"))
      .select((col("a.x") - col("b.x")).as("dx"),
        (col("a.y") - col("b.y")).as("dy"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L))
          .as("concordant"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L))
          .as("discordant"),
        sum(when(col("dx") === 0 && col("dy") =!= 0, 1L).otherwise(0L))
          .as("ties_x"),
        sum(when(col("dx") =!= 0 && col("dy") === 0, 1L).otherwise(0L))
          .as("ties_y"),
        sum(when(col("dx") === 0 && col("dy") === 0, 1L).otherwise(0L))
          .as("ties_xy"))
      .withColumn("tau_num", col("concordant") - col("discordant"))
      .crossJoin(d.agg(count(lit(1)).as("n_days")))
      .select(col("n_days"), col("n_pairs"), col("concordant"),
        col("discordant"), col("ties_x"), col("ties_y"),
        col("ties_xy"), col("tau_num"))
  }

  /** Theil–Sen slope of the daily total-volume trend (Theil 1950,
    * Sen 1968) — the median of all pairwise day-slopes, the robust
    * alternative to the least-squares trend that one outage day
    * cannot drag. Slopes are exact integers in micro-events/day via
    * FLOOR division — spelled as (a − pmod(a, b)) div b because dy
    * can be negative and both Spark's `div` and DuckDB's integer
    * `//` truncate toward zero (verified: -7 // 2 = -3 in DuckDB
    * 1.0); the explicit pmod adjustment, mirrored verbatim in the
    * twin, is what makes both engines floor (b = day gap > 0
    * always). The median is reported DOUBLED
    * (sum of the two middle order statistics; 2× the middle one for
    * odd counts) so it stays an exact integer with no .5 fraction.
    *
    * Scale shape: identical to [[kendallDaily]] — one daily
    * aggregation, then the all-pairs join and one rank window, both
    * on the calendar-bounded daily frame. Volume changes the daily
    * counts, not the plan.
    *
    * Output: 1 row (n_days, n_pairs, median2_slope_micro).
    */
  def theilSenDaily(events: DataFrame): DataFrame = {
    val d = events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val pairs = d.as("a").join(d.as("b"), col("a.day") < col("b.day"))
      .select(((col("b.y") - col("a.y")) * 1000000L).as("dy"),
        (col("b.day") - col("a.day")).as("dx"))
      .select(expr("(dy - pmod(dy, dx)) div dx").as("slope"))
    val w = Window.orderBy(col("slope"))
    val ranked = pairs
      .withColumn("rk", row_number().over(w))
      .withColumn("m", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    ranked
      .filter(col("rk") === expr("(m + 1) div 2") ||
        col("rk") === expr("(m + 2) div 2"))
      // c = 1 (odd m: median2 = 2·middle) or 2 (even: s1 + s2); the
      // division is exact (2·sum always divisible by c), so trunc
      // vs floor is moot even for negative slopes
      .agg(max(col("m")).as("n_pairs"),
        expr("(sum(slope) * 2) div count(1)")
          .as("median2_slope_micro"))
      .crossJoin(d.agg(count(lit(1)).as("n_days")))
      .select(col("n_days"), col("n_pairs"),
        col("median2_slope_micro"))
  }

  /** Two-sample Kolmogorov–Smirnov distance between two event types'
    * value distributions — the shape-sensitive complement to
    * [[mannWhitneyU]]'s location test, computed on the same
    * value-domain grain (one hash aggregation + one cumulative window
    * over the distinct-value frame; no global row ranking). The
    * statistic is the max CDF gap cleared of fractions:
    * D = max_q |F_a(q) − F_b(q)| = max |cum_a·n_b − cum_b·n_a| /
    * (n_a·n_b), reported in truncating micro-units. Cross-products
    * ride DECIMAL(38,0) — cum·n overflows int64 past ~3e9 rows per
    * side, well inside the 100 TB envelope — and only the ≤1e6 micro
    * result is cast back to long.
    *
    * Output: 1 row (n_a, n_b, ks_micro).
    */
  def ksTest(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase"): DataFrame = {
    val b = events.filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        round(col("value") * 10000).cast("long").as("q"))
    val d = b.groupBy(col("q")).agg(
      sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("na"),
      sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("nb"))
    val wc = Window.orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    d.select(
        sum(col("na")).over(wc).as("cum_a"),
        sum(col("nb")).over(wc).as("cum_b"),
        sum(col("na")).over(wall).as("n_a"),
        sum(col("nb")).over(wall).as("n_b"))
      .select(col("n_a"), col("n_b"),
        abs(dec(col("cum_a")) * col("n_b") -
          dec(col("cum_b")) * col("n_a")).as("dev"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("dev")).as("ks_num"))
      .select(col("n_a"), col("n_b"),
        expr("(1000000 * ks_num) div (CAST(n_a AS DECIMAL(38,0)) * n_b)")
          .cast("long").as("ks_micro"))
  }

  /** Gini concentration of per-user event volume — "how unequal is
    * activity across users", the inequality monitor for bot/power-user
    * detection. Exact integers throughout via the COUNT-OF-COUNTS
    * grain: per-user totals collapse to (c, m_c) = (activity level,
    * #users at that level), so the sort the textbook formula needs
    * runs over the activity-level domain, not the user base. For a
    * run of m equal values c at ranks a..b, 2·Σ i·x_i contributes
    * c·(a+b)·m exactly, so G = (2Σi·xᵢ − (n+1)T) / (nT) needs one
    * cumulative window over the level frame and one aggregate.
    * Products ride DECIMAL(38,0) (n²·c̄ passes int64 around 1e9
    * users); the ≤1e6 micro result casts back to long.
    *
    * Output: 1 row (n_users, total_events, gini_micro).
    */
  def giniUserActivity(events: DataFrame): DataFrame = {
    val u = events.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    giniFromLevels(u.groupBy(col("c")).agg(count(lit(1)).as("m")))
  }

  /** [[giniUserActivity]]'s arithmetic over an explicit
    * (c = activity level, m = #users at that level) frame — split out
    * so OverflowSpec can drive the exact expressions at the claimed
    * magnitudes (n ≈ 1e9 users: s2 ≈ c̄·n² rides DECIMAL(38,0) at
    * ~1e2·1e18·1e6-scaled ≈ 1e26 ≪ 10³⁸; the counts themselves are
    * int64-safe by construction).
    */
  private[graft] def giniFromLevels(cc: DataFrame): DataFrame = {
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    cc.select(col("c"), col("m"), sum(col("m")).over(w).as("b"))
      .agg(sum(col("m")).as("n_users"),
        sum(col("c") * col("m")).as("total_events"),
        // 2·Σ i·xᵢ = Σ_levels c·(a+b)·m with a = b−m+1
        sum(dec(col("c")) * (lit(2) * col("b") - col("m") + 1) *
          col("m")).as("s2"))
      .select(col("n_users"), col("total_events"),
        expr("""((s2 - (CAST(n_users AS DECIMAL(38,0)) + 1) *
                 total_events) * 1000000)
                div (CAST(n_users AS DECIMAL(38,0)) * total_events)""")
          .cast("long").as("gini_micro"))
  }

  /** Chi-square independence census for event type × day-of-week —
    * "does the type mix depend on the weekday", the seasonality
    * screen before shipping a day-partitioned sampler. Day-of-week is
    * epoch-day mod 7 (a pure arithmetic weekday — no calendar API to
    * diverge between engines). Each cell reports its observed count,
    * the expected count in milli-units (r·c/N), and its χ² term in
    * micro-units via the fraction-cleared identity
    * (o·N − r·c)²/(N·r·c); squares ride DECIMAL(38,0) through the
    * two-limb division in [[chiSquareFromCells]] (exact while
    * diff² < 10³⁸ — N up to ~6.3e9 events at the maximally dependent
    * worst case). Three hash aggregations on bounded
    * grains (cells = types × 7) + two tiny joins.
    *
    * Output: (event_type, dw, o, exp_milli, chi2_micro) per cell.
    */
  def chiSquareDow(events: DataFrame): DataFrame =
    chiSquareFromCells(events.select(col("event_type"),
        expr("pmod(unix_micros(ts) div 86400000000, 7)").as("dw"))
      .groupBy(col("event_type"), col("dw"))
      .agg(count(lit(1)).as("o")))

  /** [[chiSquareDow]]'s arithmetic over an explicit
    * (event_type, dw, o) cell frame — split out so OverflowSpec can
    * drive the exact expressions at claimed magnitudes. The χ² term
    * is emitted through an exact TWO-LIMB long division
    * (q·10⁶ + (10⁶·rem) div D, value-identical to (10⁶·diff²) div D
    * for the non-negative operands here): the single-limb spelling
    * 10⁶·diff² overflows DECIMAL(38,0) once N ≈ 6.3e8 with maximally
    * dependent margins (diff → N²/4) — round 13's OverflowSpec
    * caught exactly that, retiring the old "o·N passes int64 near
    * 3e9" comment, which named the wrong ceiling. The two-limb form
    * clears while diff² < 10³⁸, i.e. N < ~6.3e9 at the adversarial
    * worst case and far beyond on real mixes (diff ≪ N²/4).
    */
  private[graft] def chiSquareFromCells(cell: DataFrame): DataFrame = {
    val r = cell.groupBy(col("event_type")).agg(sum(col("o")).as("rt"))
    val c = cell.groupBy(col("dw")).agg(sum(col("o")).as("ct"))
    val n = cell.agg(sum(col("o")).as("nt"))
    cell.join(r, "event_type").join(c, "dw").crossJoin(n)
      .select(col("event_type"), col("dw"), col("o"),
        expr("(1000 * CAST(rt AS DECIMAL(38,0)) * ct) div nt")
          .as("exp_milli"),
        expr("""(CAST(o AS DECIMAL(38,0)) * nt - rt * ct) *
                (CAST(o AS DECIMAL(38,0)) * nt - rt * ct)""")
          .as("d2"),
        expr("CAST(nt AS DECIMAL(38,0)) * rt * ct").as("dd"))
      .select(col("event_type"), col("dw"), col("o"), col("exp_milli"),
        (expr("(d2 div dd)") * 1000000L +
          expr("(1000000 * pmod(d2, dd)) div dd"))
          .cast("long").as("chi2_micro"))
      .orderBy(col("event_type"), col("dw"))
  }

  /** Holt double-exponential smoothing (level + trend) of the daily
    * event volume — [[ewmaHourly]]'s trend-aware sibling, the
    * short-horizon forecaster's state. The day spine is gapfilled
    * (missing days count 0 — a forecast state that skips quiet days
    * would overshoot), and the recurrence runs in exact integer
    * micro-units with FLOOR division (trend goes negative, so
    * truncation would diverge between engines; pmod spells floor both
    * sides): l_t = ⌊(2·y_t·1e6 + 8·(l+b))/10⌋ (α = 0.2),
    * b_t = ⌊((l_t − l) + 9·b)/10⌋ (β = 0.1), seeded l_0 = y_0·1e6,
    * b_0 = 0. Like [[lifeTable]], the sequential fold runs via the
    * `aggregate` HOF over ONE collected array of the calendar-bounded
    * day frame; the DuckDB twin unrolls the identical recurrence with
    * a recursive CTE.
    *
    * Output: (day, y, level_micro, trend_micro) ordered by day.
    */
  def holtDaily(events: DataFrame): DataFrame = {
    val filled = dailyFilled(events)
    // no let-bindings in SQL lambdas: the level update is composed
    // Scala-side and inlined wherever the trend update references it
    val lRaw = "2 * x.y * 1000000 + 8 * (acc.l + acc.b)"
    val lNew = s"(($lRaw) - pmod($lRaw, 10)) div 10"
    val bRaw = s"($lNew) - acc.l + 9 * acc.b"
    val bNew = s"(($bRaw) - pmod($bRaw, 10)) div 10"
    filled
      .agg(sort_array(collect_list(struct(col("day"), col("y"))))
        .as("a"))
      .select(col("a"), expr(
        s"""aggregate(a,
             named_struct('l', CAST(0 AS BIGINT),
                          'b', CAST(0 AS BIGINT),
                          'o', CAST(array() AS
                            ARRAY<STRUCT<l: BIGINT, b: BIGINT>>)),
             (acc, x) -> IF(size(acc.o) = 0,
               named_struct('l', x.y * 1000000, 'b', CAST(0 AS BIGINT),
                 'o', array(named_struct('l', x.y * 1000000,
                   'b', CAST(0 AS BIGINT)))),
               named_struct('l', $lNew, 'b', $bNew,
                 'o', array_append(acc.o,
                   named_struct('l', $lNew, 'b', $bNew)))),
             acc -> acc.o)""").as("st"))
      .select(posexplode(arrays_zip(col("a"), col("st"))))
      .select(col("col.a.day").as("day"), col("col.a.y").as("y"),
        col("col.st.l").as("level_micro"),
        col("col.st.b").as("trend_micro"))
      .orderBy(col("day"))
  }

  /** Gapfilled daily spine + counts, shared by [[holtDaily]] /
    * [[decomposeDaily]] / [[changepointDaily]]: a day with no events
    * is y = 0, not absent — trend and split statistics over a frame
    * with holes would silently skip quiet days.
    */
  private def dailyFilled(events: DataFrame): DataFrame = {
    val d = events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val spine = d.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    spine.join(d, Seq("day"), "left")
      .select(col("day"), coalesce(col("y"), lit(0L)).as("y"))
  }

  /** Classical seasonal decomposition of the daily volume (the
    * moving-average STL ancestor): trend = centered 7-day moving
    * average (full windows only), detrended = series − trend,
    * seasonal = per-weekday mean of the detrended values, residual =
    * detrended − seasonal. Everything in exact milli-units: the MA
    * divides non-negative sums (truncation safe), the weekday mean
    * divides a possibly-NEGATIVE detrended sum, so it is spelled as
    * FLOOR division via pmod on both engines — the ewma-class
    * division hazard, handled the [[theilSenDaily]] way. Weekday is
    * epoch-day mod 7 (arithmetic, calendar-API-free). Windows and
    * aggregations all live on the calendar-bounded day frame.
    *
    * Output: (day, y, trend_milli, detr_milli, seasonal_milli,
    * resid_milli) for days with a full MA window, ordered by day.
    */
  def decomposeDaily(events: DataFrame): DataFrame = {
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val t = dailyFilled(events)
      .withColumn("nw", count(lit(1)).over(w7))
      .withColumn("s7", sum(col("y")).over(w7))
      .filter(col("nw") === 7)
      .select(col("day"), col("y"),
        expr("(1000 * s7) div 7").as("trend_milli"))
      .withColumn("detr_milli", lit(1000L) * col("y") - col("trend_milli"))
    val seas = t.groupBy(expr("pmod(day, 7)").as("dw"))
      .agg(sum(col("detr_milli")).as("sd"), count(lit(1)).as("m"))
      .select(col("dw"),
        expr("(sd - pmod(sd, m)) div m").as("seasonal_milli"))
    t.join(seas, expr("pmod(day, 7)") === seas("dw"))
      .select(col("day"), col("y"), col("trend_milli"),
        col("detr_milli"), col("seasonal_milli"),
        (col("detr_milli") - col("seasonal_milli")).as("resid_milli"))
      .orderBy(col("day"))
  }

  /** One-row strength summary of [[decomposeDaily]]: how much of the
    * detrended variation the weekday pattern explains vs what remains
    * as residual, in exact basis points — the "is there real weekly
    * seasonality" gate before shipping a dow-aware sampler. Shares
    * are Σ seasonal² / Σ detrended² and Σ residual² / Σ detrended²
    * (squares ride DECIMAL(38,0)); they need not sum to exactly 10⁴
    * — the cross term and truncation absorb the gap. NULL shares on
    * a constant series (zero detrended variation is undefined, not
    * zero-seasonal).
    *
    * Output: 1 row (n_days, seasonal_share_bp, resid_share_bp).
    */
  def decomposeStrength(events: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    decomposeDaily(events)
      .agg(count(lit(1)).as("n_days"),
        sum(dec(col("seasonal_milli")) * col("seasonal_milli"))
          .as("ss2"),
        sum(dec(col("resid_milli")) * col("resid_milli")).as("sr2"),
        sum(dec(col("detr_milli")) * col("detr_milli")).as("sd2"))
      .select(col("n_days"),
        when(col("sd2") =!= 0, expr("(10000 * ss2) div sd2"))
          .as("seasonal_share_bp"),
        when(col("sd2") =!= 0, expr("(10000 * sr2) div sd2"))
          .as("resid_share_bp"))
  }

  /** Single-changepoint detection on the daily volume by exact
    * integer contrast maximization (the binary-segmentation step of
    * Scott & Knott / CUSUM-style mean-shift detection): for every
    * prefix/suffix split of the gapfilled day sequence, score
    * |S_l·n_r − S_r·n_l| — the cross-multiplied weighted mean gap
    * |m_l − m_r|·n_l·n_r, fraction-free so the argmax is engine-exact
    * — and return the boundary with the largest contrast (ties →
    * earliest day). One cumulative window over the calendar-bounded
    * day frame + a top-1; recursing on the halves gives full binary
    * segmentation.
    *
    * Output: 1 row (split_day = last day of the left segment, n_left,
    * n_right, sum_left, sum_right, contrast).
    */
  def changepointDaily(events: DataFrame): DataFrame = {
    val wc = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    dailyFilled(events)
      .select(col("day"),
        sum(col("y")).over(wc).as("sl"),
        count(lit(1)).over(wc).as("nl"),
        sum(col("y")).over(wall).as("s"),
        count(lit(1)).over(wall).as("n"))
      .filter(col("nl") < col("n"))
      .select(col("day").as("split_day"), col("nl").as("n_left"),
        (col("n") - col("nl")).as("n_right"),
        col("sl").as("sum_left"), (col("s") - col("sl")).as("sum_right"),
        abs(col("sl") * (col("n") - col("nl")) -
          (col("s") - col("sl")) * col("nl")).as("contrast"))
      .orderBy(col("contrast").desc, col("split_day"))
      .limit(1)
  }

  /** RFM segmentation (recency / frequency / monetary) — the classic
    * behavioral user segmentation, made engine-exact: each dimension
    * scores 1–5 by quintile of its own distribution, with boundaries
    * derived at the VALUE-DOMAIN grain (count-of-counts cumulative
    * distribution, the [[giniUserActivity]] trick) so no per-user
    * global ranking exists anywhere. Boundary k is the smallest value
    * v with 5·cum(v) ≥ k·n (the ≥ k·n/5 quantile, fraction-free);
    * a user's score is 1 + #boundaries strictly below their value
    * (ascending — R scores 1 = most recent, 5 = longest gone; invert
    * downstream if the marketing convention is wanted). Monetary is
    * exact integer 1e-4 value units. The three 1-row boundary frames
    * cross in as broadcast scalars; output is the segment census.
    *
    * Output: (r_q, f_q, m_q, n_users) ordered by the triple.
    */
  def rfmSegments(events: DataFrame): DataFrame = {
    val day = expr("unix_micros(ts) div 86400000000")
    val u = events.groupBy(col("user_id")).agg(
      max(day).as("last_day"),
      count(lit(1)).as("f"),
      sum(round(col("value") * 10000).cast("long")).as("mq"))
    val mx = events.agg(max(day).as("dmax"))
    val ur = graft.Scratch.pin("rfm user rows",
      u.crossJoin(broadcast(mx)).select(col("user_id"),
        (col("dmax") - col("last_day")).as("r"), col("f"), col("mq")))
    def bounds(dim: String): DataFrame = {
      val cc = ur.groupBy(col(dim).as("v")).agg(count(lit(1)).as("m"))
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val bs = (1 to 4).map(k =>
        min(when(col("cum") * 5 >= col("n") * k, col("v")))
          .as(s"${dim}_b$k"))
      cc.select(col("v"), sum(col("m")).over(w).as("cum"),
          sum(col("m")).over(wall).as("n"))
        .agg(bs.head, bs.tail: _*)
    }
    val withB = ur.crossJoin(broadcast(bounds("r")))
      .crossJoin(broadcast(bounds("f")))
      .crossJoin(broadcast(bounds("mq")))
    def score(dim: String): Column =
      (1 to 4).map(k =>
        (col(dim) > col(s"${dim}_b$k")).cast("long"))
        .foldLeft(lit(1L))(_ + _)
    withB
      .select(score("r").as("r_q"), score("f").as("f_q"),
        score("mq").as("m_q"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** Funnel latency quartiles: minutes from each user's FIRST signup
    * to their first purchase AFTER it, with the quartile boundaries
    * extracted at the MINUTE-DOMAIN grain (count-of-counts cumulative
    * distribution — the [[rfmSegments]] boundary trick), so the only
    * window runs over the calendar-bounded distinct-delay frame,
    * never over users. Boundary q_k is the smallest delay d with
    * 4·cum(d) ≥ k·n (exact order statistics — no interpolation
    * formula to diverge between engines).
    *
    * Output: 1 row (n_converted, p25_min, p50_min, p75_min).
    */
  /** Per-user first-signup → first-subsequent-purchase delay in
    * microseconds — shared by [[funnelLatency]] and
    * [[conversionCurve]]. Users with no signup or no purchase at or
    * after it are absent (not converted).
    */
  private def conversionDelayUs(events: DataFrame): DataFrame = {
    val su = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(expr("unix_micros(ts)")).as("s_us"))
    val pu = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_micros(ts)").as("p_us"))
    su.join(pu, "user_id")
      .filter(col("p_us") >= col("s_us"))
      .groupBy(col("user_id"))
      .agg(min(col("p_us") - col("s_us")).as("d_us"))
  }

  def funnelLatency(events: DataFrame): DataFrame = {
    val delays = conversionDelayUs(events)
      .select(expr("d_us div 60000000").as("d_min"))
    val cc = delays.groupBy(col("d_min")).agg(count(lit(1)).as("m"))
    val w = Window.orderBy(col("d_min"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    cc.select(col("d_min"), sum(col("m")).over(w).as("cum"),
        sum(col("m")).over(wall).as("n"))
      .agg(max(col("n")).as("n_converted"),
        min(when(col("cum") * 4 >= col("n"), col("d_min")))
          .as("p25_min"),
        min(when(col("cum") * 4 >= col("n") * 2, col("d_min")))
          .as("p50_min"),
        min(when(col("cum") * 4 >= col("n") * 3, col("d_min")))
          .as("p75_min"))
  }

  /** Conversion CDF at fixed horizons — "what share of converters
    * convert within 1h / 6h / 24h / 72h", the curve behind SLA-style
    * funnel targets, over the same delay frame as [[funnelLatency]].
    * One aggregate computes every horizon's count in a single pass;
    * shares are exact basis points; the output is horizon-bounded.
    *
    * Output: (horizon_min, n_converted, n_within, share_bp) per
    * horizon, ordered.
    */
  def conversionCurve(events: DataFrame,
      horizonsMin: Seq[Long] = Seq(60L, 360L, 1440L, 4320L)): DataFrame = {
    require(horizonsMin.nonEmpty)
    val d = conversionDelayUs(events)
    val aggs = count(lit(1)).as("n") +: horizonsMin.map(h =>
      coalesce(sum(when(col("d_us") <= h * 60000000L, 1L)
        .otherwise(0L)), lit(0L)).as(s"h_$h"))
    val wide = d.agg(aggs.head, aggs.tail: _*)
    val rows = horizonsMin.map(h =>
      struct(lit(h).as("horizon_min"), col("n").as("n_converted"),
        col(s"h_$h").as("n_within")))
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.horizon_min").as("horizon_min"),
        col("r.n_converted").as("n_converted"),
        col("r.n_within").as("n_within"))
      // NULL share when nobody converted — a 0 would claim "0% within
      // the horizon" about an empty population (and ANSI div throws)
      .withColumn("share_bp",
        when(col("n_converted") > 0,
          expr("(10000 * n_within) div n_converted")))
      .orderBy(col("horizon_min"))
  }

  /** Sample-ratio mismatch (SRM) check for a 50/50 experiment split —
    * the A/B-test hygiene gate: with arms assigned by user-id parity
    * (deterministic, engine-free), a healthy assignment has
    * χ² = (n₀−n₁)²/n below the 3.84 critical value (α = 0.05, 1 df).
    * Exact integer micro-χ²; the flag fires when the allocation is
    * broken (the single most common cause of invalid experiment
    * reads). Two hash aggregations, nothing else.
    *
    * Output: 1 row (n_users_0, n_users_1, chi2_micro, srm_flag).
    */
  def srmCheck(events: DataFrame): DataFrame =
    events.select(col("user_id")).distinct()
      .select(pmod(col("user_id"), lit(2L)).as("arm"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
      .select(col("n0").as("n_users_0"), col("n1").as("n_users_1"),
        expr("(1000000 * (n0 - n1) * (n0 - n1)) div (n0 + n1)")
          .as("chi2_micro"))
      .withColumn("srm_flag", col("chi2_micro") > 3841459L)

  /** Minimal detectable effect per conversion metric — the power
    * analysis run BEFORE an experiment ships (how small a lift could
    * this traffic even detect?): for each event type, the per-user
    * conversion baseline p and the two-proportion MDE at α = 0.05 /
    * 80% power under the [[srmCheck]] 50/50 split,
    * `MDE = (z_{0.975} + z_{0.8})·√(2·p(1−p)/n)` with the z
    * constants in milli (1960 + 842 = 2802). Everything is exact
    * integer: p in ppm, the radicand `2·p_ppm·(10⁶−p_ppm) div n`
    * ≤ 5·10¹¹ (inside [[Sampling.isqrt]]'s 2⁵² range at any n), and
    * the final scale-down a truncating div — the DuckDB twin replays
    * the identical arithmetic.
    *
    * Output: (event_type, n_users, n_conv, p_ppm, mde_ppm), one row
    * per type; mde_ppm is the detectable absolute lift in ppm of the
    * conversion rate.
    *
    * 100 TB shape: one distinct-user frame, one (type, user) distinct
    * aggregate, one |types|-row join against the broadcast user
    * count — no windows, nothing quadratic.
    */
  def mdeByType(events: DataFrame): DataFrame = {
    val users = events.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val conv = events.select(col("event_type"), col("user_id"))
      .distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_conv"))
    conv.crossJoin(broadcast(users))
      .withColumn("p_ppm", expr("(1000000 * n_conv) div n_users"))
      .withColumn("arm_n", expr("n_users div 2"))
      .withColumn("s_ppm", graft.operators.Sampling.isqrt(
        expr("(2 * p_ppm * (1000000 - p_ppm)) div arm_n")))
      .select(col("event_type"), col("n_users"), col("n_conv"),
        col("p_ppm"), expr("(2802 * s_ppm) div 1000").as("mde_ppm"))
  }

  /** A/B uplift readout with a one-pass bootstrap confidence interval
    * — the experiment decision row, built from this module's own
    * primitives: arms are the [[srmCheck]] user-parity split, the
    * per-user outcome is the exact ×10⁴-quantized value total, each
    * arm's estimate uncertainty is the Poisson(1)-bootstrap variance
    * of B deterministic replicate means ([[Sampling.poissonBootstrap]]'s
    * weight scheme, replayed at UNIT scale so the variance stays
    * inside [[Sampling.isqrt]]'s 2⁵² exact range — exact while an
    * arm's replicate-mean spread is < 6.7·10⁷, far above any real
    * per-user value total), and the interval is the normal
    * approximation `±z₀.₉₇₅·√(var₀ + var₁)` with z in milli. All
    * integer, both engines identical.
    *
    * Output: 1 row — (n_users_0, n_users_1, est0_u4, est1_u4,
    * diff_u4, ci_half_u4, significant); `_u4` columns are in ×10⁻⁴
    * value units.
    *
    * 100 TB shape: one user-grain aggregate, the constant-B replicate
    * explode, two bounded (arm, replicate) aggregates, then scalar
    * arithmetic — the corpus is scanned once.
    */
  def upliftCI(events: DataFrame, b: Int = 8): DataFrame = {
    require(b >= 2)
    val perUser = events.groupBy(col("user_id"))
      .agg(expr("CAST(sum(CAST(round(value * 10000) AS DECIMAL(38,0)))" +
        " AS BIGINT)").as("u4"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
    // weight table shared with the sampler (one correction site):
    // Sampling.poisson1Cdf1e4, the correctly-truncated Poisson(1) CDF
    val u = {
      val h = graft.functions.sdbm_hash(col("r"),
        col("user_id").cast("string"))
      pmod(pmod(h, lit(2147483647L)) * lit(48271L), lit(2147483647L)) %
        lit(10000L)
    }
    val weight = graft.operators.Sampling.poisson1Weight(u)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val rep = perUser
      .select(col("arm"), col("user_id"), col("u4"),
        explode(sequence(lit(0L), lit(b - 1L))).as("r"))
      .select(col("arm"), col("u4"), col("r"), weight.as("w"))
      .groupBy(col("arm"), col("r"))
      .agg(sum(d(col("w")) * d(col("u4"))).as("wv"), sum(col("w")).as("sw"))
      .select(col("arm"), expr("CAST(CASE WHEN sw = 0 THEN 0" +
        " ELSE wv div sw END AS BIGINT)").as("m"))
    val boot = rep.groupBy(col("arm"))
      .agg(count(lit(1)).as("nb"), sum(d(col("m"))).as("sm"),
        sum(d(col("m")) * d(col("m"))).as("sm2"))
      .select(col("arm"), expr(
        "CAST((nb * sm2 - sm * sm) div (nb * nb) AS BIGINT)").as("bv"))
    val full = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(CAST(u4 AS DECIMAL(38,0))) div count(1)" +
          " AS BIGINT)").as("est"))
    val j = full.join(boot, Seq("arm"))
      .agg(
        max(when(col("arm") === 0, col("n"))).as("n_users_0"),
        max(when(col("arm") === 1, col("n"))).as("n_users_1"),
        max(when(col("arm") === 0, col("est"))).as("est0_u4"),
        max(when(col("arm") === 1, col("est"))).as("est1_u4"),
        (max(when(col("arm") === 0, col("bv"))) +
          max(when(col("arm") === 1, col("bv")))).as("var_sum"))
    j.withColumn("sv", graft.operators.Sampling.isqrt(col("var_sum")))
      .select(col("n_users_0"), col("n_users_1"),
        col("est0_u4"), col("est1_u4"),
        (col("est1_u4") - col("est0_u4")).as("diff_u4"),
        expr("(1960 * sv) div 1000").as("ci_half_u4"),
        (abs(col("est1_u4") - col("est0_u4")) >
          expr("(1960 * sv) div 1000")).as("significant"))
  }

  /** Sequence-pattern detection per user — the MATCH_RECOGNIZE shape
    * without the unsupported SQL surface: each user's event history
    * (ordered by (ts, event_id) — total order, engine-exact) encodes
    * as a string of type initials (c/e/p/s/v), and a regular
    * expression counts non-overlapping matches. The default
    * `v+cp` is "one or more views, then a click, then a purchase" —
    * browse-to-buy. Greedy left-to-right scan is identical in Java
    * regex and RE2 for this pattern class (no backreferences, no
    * lookaround — keep patterns in that subset). One user-keyed
    * aggregation; the per-user string is bounded by that user's
    * activity, the corpus never concatenates.
    *
    * Output: (user_id, seq_len, n_matches) ordered by user.
    */
  def patternMatch(events: DataFrame,
      pattern: String = "v+cp"): DataFrame =
    events
      .select(col("user_id"), struct(expr("unix_micros(ts)").as("us"),
        col("event_id"),
        lower(substring(col("event_type"), 1, 1)).as("ini")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_join(expr("transform(array_sort(collect_list(e)), " +
        "x -> x.ini)"), "").as("s"))
      .select(col("user_id"), length(col("s")).cast("long")
        .as("seq_len"),
        regexp_count(col("s"), lit(pattern)).cast("long")
          .as("n_matches"))
      .orderBy(col("user_id"))

  /** Forecast backtest for [[holtDaily]]: one-step-ahead Holt
    * forecast (level + trend of day t−1) against the naive
    * persistence forecast (yesterday's value) on the same gapfilled
    * series — "is the smoother actually better than doing nothing",
    * the question every forecasting deployment must answer. Scored
    * days are t ≥ 1; errors are exact integer micro-unit absolute
    * deviations, SUMMED (not averaged — no division, no rounding
    * choice to diverge). One lag window over the calendar-bounded
    * day frame on top of the Holt fold.
    *
    * Output: 1 row (n_scored, abs_err_holt, abs_err_naive).
    */
  def holtForecastEval(events: DataFrame): DataFrame = {
    val h = holtDaily(events)
    val w = Window.orderBy(col("day"))
    h.select(col("day"), (col("y") * 1000000L).as("ym"),
        lag(col("level_micro") + col("trend_micro"), 1).over(w)
          .as("fc_holt"),
        lag(col("y") * 1000000L, 1).over(w).as("fc_naive"))
      .filter(col("fc_holt").isNotNull)
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("ym") - col("fc_holt"))).as("abs_err_holt"),
        sum(abs(col("ym") - col("fc_naive"))).as("abs_err_naive"))
  }

  /** Peak trailing-window event rate per user — the burst detector
    * behind rate limiting and bot screening: for every event, count
    * the user's events in the trailing `windowUs` microseconds (a
    * RANGE window frame — tie-timestamps all see the same count, so
    * the result is total-order-free), and report each user's maximum.
    * User-partitioned window + one aggregation; at 100× the shuffle
    * keys on the user and a hot user concentrates only their own
    * rows.
    *
    * Output: (user_id, n_events, max_burst) ordered by user.
    */
  def burstRate(events: DataFrame,
      windowUs: Long = 60000000L): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-windowUs, 0)
    events.select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .withColumn("burst", count(lit(1)).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("burst")).as("max_burst"))
      .orderBy(col("user_id"))
  }

  /** Per-user activity coverage by interval union: each event opens a
    * 5-minute presence window, overlapping windows merge
    * (gaps-and-islands — the [[streaks]] move on the micro-timestamp
    * axis), and the user's covered time is the summed island lengths.
    * The standard "true engaged time" metric that naive
    * count·5min double-counts. One user-partitioned window pass
    * (lag + running max island id) and one aggregation — shuffles key
    * on the user, never global.
    *
    * Output: (user_id, n_events, n_islands, covered_sec) ordered.
    */
  def activityCoverage(events: DataFrame,
      windowUs: Long = 300000000L): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val marked = events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_island",
        when(col("prev_us").isNull ||
          col("us") > col("prev_us") + windowUs, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("ne"),
        (max(col("us")) + windowUs - min(col("us"))).as("len_us"))
      .groupBy(col("user_id"))
      .agg(sum(col("ne")).as("n_events"),
        count(lit(1)).as("n_islands"),
        expr("sum(len_us) div 1000000").as("covered_sec"))
      .orderBy(col("user_id"))
  }

  /** Bot-likelihood triage — the per-user abuse fingerprint a
    * training-data pipeline runs before trusting behavioral signals:
    * peak 60-second burst ([[burstRate]]'s RANGE frame), event-type
    * diversity, and the tightest inter-event gap, flagged when a user
    * combines machine-like burst with machine-like monotony
    * (`max_burst ≥ minBurst` AND `n_types ≤ maxTypes`). Heuristics,
    * not verdicts — the flag names candidates for the expensive
    * checks downstream.
    *
    * Scale shape: two user-partitioned window passes (RANGE count +
    * lag) and one hash aggregate, all shuffle-keyed on user_id; the
    * top-k readout is TakeOrderedAndProject, never a global sort.
    * Output: (user_id, n_events, max_burst, n_types, min_gap_s,
    * is_bot) — top `k` by (max_burst, n_events) desc.
    */
  def botScore(events: DataFrame, windowUs: Long = 60000000L,
      minBurst: Long = 5L, maxTypes: Long = 2L, k: Int = 50): DataFrame = {
    val wr = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-windowUs, 0)
    val wl = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val per = events
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("burst", count(lit(1)).over(wr))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(wl))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("burst")).as("max_burst"),
        countDistinct(col("event_type")).as("n_types"),
        expr("min(gap_us) div 1000000").as("min_gap_s"))
    per.select(col("user_id"), col("n_events"), col("max_burst"),
        col("n_types"), col("min_gap_s"),
        (col("max_burst") >= minBurst && col("n_types") <= maxTypes)
          .as("is_bot"))
      .orderBy(col("max_burst").desc, col("n_events").desc, col("user_id"))
      .limit(k)
  }

  /** Daily-volume control bands per event type: quartiles of the
    * per-day event count — the alerting envelope ops teams draw
    * around a traffic series ("today's purchase volume is below the
    * p25 of its history"). Order statistics run at the
    * (type, daily-count, #days) grain via the min-when-cum idiom (the
    * funnel-quartile discipline): the window frames are bounded by
    * the calendar × type-count domain, never by event rows.
    *
    * Output: (event_type, n_days, min_day, p25_day, p50_day, p75_day,
    * max_day) ordered by type.
    */
  def dailyVolumeBands(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val dist = daily.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dist
      .select(col("event_type"), col("x"),
        sum(col("m")).over(w).as("cum"), sum(col("m")).over(wall).as("n"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        min(col("x")).as("min_day"),
        min(when(col("cum") * 4 >= col("n"), col("x"))).as("p25_day"),
        min(when(col("cum") * 2 >= col("n"), col("x"))).as("p50_day"),
        min(when(col("cum") * 4 >= col("n") * 3, col("x"))).as("p75_day"),
        max(col("x")).as("max_day"))
      .orderBy(col("event_type"))
  }

  /** Robust daily-volume outlier census via MAD (median absolute
    * deviation; Hampel 1974) — the robust twin of
    * [[dailyVolumeBands]]: mean±kσ control bands break exactly when
    * they're needed (the outlier inflates σ and hides itself), while
    * the median and MAD have a 50% breakdown point. Per event type,
    * the daily-count median and the median of |x − median| both come
    * from the count-of-counts min-when-cum idiom (no row ranks,
    * partitioning-invariant), and a day flags when
    * |x − med| > 3·MAD — all integer, both engines identical. A
    * degenerate type (MAD = 0: over half its days identical) flags
    * every deviating day, the correct robust-statistics reading.
    *
    * Output: one census row per type — (event_type, n_days, med_x,
    * mad_x, n_outliers, worst_day, worst_dev); worst = the maximum
    * deviation, ties to the earliest day.
    *
    * 100 TB shape: one day-grain aggregate (the only corpus-grain
    * work), then two count-of-counts windows over (type, value)
    * distributions — value-domain bounded, never row-ranked — and
    * type-cardinality joins.
    */
  def madOutlierDays(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    def medianOf(df: DataFrame, valCol: String): DataFrame = {
      val dist = df.groupBy(col("event_type"), col(valCol).as("v"))
        .agg(count(lit(1)).as("m"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.partitionBy(col("event_type"))
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      dist
        .select(col("event_type"), col("v"),
          sum(col("m")).over(w).as("cum"),
          sum(col("m")).over(wall).as("n"))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("n"), col("v"))).as("med"))
    }
    val med = medianOf(daily, "x")
    val dev = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("d", abs(col("x") - col("med")))
    val mad = medianOf(dev.select(col("event_type"), col("d")), "d")
      .withColumnRenamed("med", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("med")).as("med_x"),
        max(col("mad")).as("mad_x"),
        sum(when(col("d") > lit(3L) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        min(struct((-col("d")).as("nd"), col("day"))).as("w"))
      .select(col("event_type"), col("n_days"), col("med_x"),
        col("mad_x"), col("n_outliers"),
        col("w.day").as("worst_day"), (-col("w.nd")).as("worst_dev"))
      .orderBy(col("event_type"))
  }

  /** Multi-touch linear attribution — the marketing-credit ledger:
    * every purchase distributes 1e6 micro-credits equally across the
    * user's touch events (clicks/views) in the preceding `lookbackUs`
    * window, and the ledger rolls up per touch type. The truncating
    * per-touch share (1e6 div n_touches) is identical in both
    * engines, so the ledger is engine-exact; conversions with no
    * in-window touch simply assign no credit (the unattributable
    * remainder — reported via n_conversions vs the credited set).
    *
    * Scale shape: one user-keyed equi-join with a time-range
    * predicate — work is per-user bounded (a user's purchases × their
    * window touches), shuffled on user_id, never global; the rollup
    * is a type-cardinality hash aggregate.
    *
    * Output: (event_type, n_conversions, n_touches, credit_micro)
    * ordered by type.
    */
  def attributionCredit(events: DataFrame,
      lookbackUs: Long = 7L * 86400000000L,
      touchTypes: Seq[String] = Seq("click", "view")): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        expr("unix_micros(ts)").as("p_us"))
    val touch = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t_us"))
    val pairs = p.join(touch,
      p("user_id") === touch("user_id") &&
        col("t_us") < col("p_us") &&
        col("t_us") >= col("p_us") - lookbackUs)
      .select(col("conv_id"), col("event_type"))
    val perConv = pairs.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_touch"))
    pairs.join(perConv, "conv_id")
      .select(col("conv_id"), col("event_type"),
        expr("1000000 div n_touch").as("credit"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("conv_id")).as("n_conversions"),
        count(lit(1)).as("n_touches"),
        sum(col("credit")).cast("long").as("credit_micro"))
      .orderBy(col("event_type"))
  }

  /** Same-day cart abandonment rate: of the users who clicked on a
    * given day, how many did NOT purchase that day. The (user, day)
    * grain makes it exact without sessionization; the funnel
    * completes or abandons within the calendar day.
    *
    * Output: (day, n_engaged, n_converted, abandon_bp) ordered by
    * day — abandon_bp = 10000·(engaged−converted) div engaged.
    */
  def abandonRate(events: DataFrame): DataFrame = {
    val ud = events
      .groupBy(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicked"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchased"))
    ud.filter(col("clicked") === 1L)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_engaged"),
        sum(col("purchased")).as("n_converted"))
      .select(col("day"), col("n_engaged"), col("n_converted"),
        expr("(10000 * (n_engaged - n_converted)) div n_engaged")
          .as("abandon_bp"))
      .orderBy(col("day"))
  }

  /** Spearman rank correlation between the daily volumes of two
    * event types (Spearman 1904) — the monotone-association twin of
    * [[kendallDaily]]: rank the daily click and purchase counts,
    * then score Σd² over the rank difference. Ranks are DOUBLED
    * midranks (for a value with m strictly-smaller days and c ties,
    * 2·midrank = 2m + c + 1 — always an integer), so `sd2_4` is
    * exactly 4·Σd² with no .5 fractions; `rho_micro` applies the
    * classic 1 − 6Σd²/(n(n²−1)) formula in floor-division
    * micro-units (the numerator 6·10⁶·sd2_4 is nonnegative, so
    * Spark's truncating `div` and DuckDB's flooring `//` agree).
    * With ties present this is the Σd²-formula Spearman over
    * midranks — the deterministic, integer-exact convention; the
    * tie census rides along so a reader can apply the correction.
    *
    * Scale shape: one day-grain hash aggregate (the only pass over
    * the raw events), then rank windows over the tiny daily frame —
    * identical posture to [[kendallDaily]] / [[theilSenDaily]].
    * Magnitudes: sd2_4 ≤ 4·n(n²−1)/3 itself clears int64 past
    * n = 10⁶ days, but the 6·10⁶ numerator multiply would wrap at
    * n ≈ 10⁴ — so BOTH rho_micro operands ride DECIMAL(38,0)
    * (numerator ≤ 8·10²⁴ at n = 10⁶, well inside 38 digits) and the
    * final `div` emits a small long. OverflowSpec proves the claim
    * at n = 10⁶ with worst-case anticorrelated ranks.
    */
  def spearmanDaily(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase"): DataFrame = {
    val d = events.filter(col("event_type").isin(typeA, typeB))
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L))
          .as("y"))
    spearmanFromDaily(d)
  }

  /** Rank-and-score stage of [[spearmanDaily]] over an already-built
    * (day, x, y) frame — split out so OverflowSpec can drive the
    * clearing-level claim at n = 10⁶ days directly.
    */
  private[graft] def spearmanFromDaily(d: DataFrame): DataFrame = {
    val wx = Window.orderBy(col("x"))
    val wy = Window.orderBy(col("y"))
    val ranked = d
      .withColumn("cx", count(lit(1)).over(Window.partitionBy(col("x"))))
      .withColumn("cy", count(lit(1)).over(Window.partitionBy(col("y"))))
      .withColumn("rx2",
        lit(2L) * rank().over(wx) + col("cx") - lit(1L))
      .withColumn("ry2",
        lit(2L) * rank().over(wy) + col("cy") - lit(1L))
    ranked
      .agg(count(lit(1)).as("n_days"),
        sum((col("rx2") - col("ry2")) * (col("rx2") - col("ry2")))
          .as("sd2_4"),
        sum(when(col("cx") > 1, 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("cy") > 1, 1L).otherwise(0L)).as("ties_y"))
      .select(col("n_days"), col("sd2_4"), col("ties_x"), col("ties_y"),
        when(col("n_days") > 1,
          lit(1000000L) - expr(
            "(6000000 * CAST(sd2_4 AS DECIMAL(38,0))) div " +
              "(4 * CAST(n_days AS DECIMAL(38,0)) * " +
              "(CAST(n_days AS DECIMAL(38,0)) * n_days - 1))"))
          .as("rho_micro"))
  }

  /** Lagged cross-correlation between two event types' daily
    * volumes — "do purchases follow clicks k days later?" For each
    * lag 0..`maxLag` the leading series x(day) pairs with the lagged
    * y(day+lag) on OBSERVED day pairs (a missing day contributes no
    * pair — the convention that needs no gapfill and stays exact),
    * and the output carries the exact integer sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy²) plus the Pearson numerator
    * n·Σxy − Σx·Σy, whose sign and relative magnitude across lags
    * locate the transfer delay. The correlation itself is a derived
    * quotient the reader (or a notebook) forms from the exact parts.
    *
    * Scale shape: one day-grain hash aggregate over the raw events,
    * then an 8-way lag self-join of the tiny daily frame (days ×
    * lags rows) — never touches raw-event grain again. Magnitudes:
    * int64 clears while n_days·(daily count)² < 9.2·10¹⁸, i.e.
    * daily volumes to ~10⁸ over a decade; past that the sums need
    * the DECIMAL(38,0) ladder (document before enabling at 10⁹/day).
    */
  def crossCorrDaily(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase", maxLag: Int = 7): DataFrame = {
    val d = events.filter(col("event_type").isin(typeA, typeB))
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L))
          .as("y"))
    val lags = events.sparkSession.range(0, maxLag + 1)
      .select(col("id").as("lag"))
    val pairs = d.as("a").crossJoin(broadcast(lags))
      .join(d.as("b"), col("a.day") + col("lag") === col("b.day"))
      .select(col("lag"), col("a.x").as("x"), col("b.y").as("y"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("cov_num",
        col("n_pairs") * col("sxy") - col("sx") * col("sy"))
      .orderBy(col("lag"))
  }

  /** Empirical-Bayes (beta-binomial) shrinkage of the daily rate of
    * one event type — the Efron–Morris smoothing every ranking /
    * reporting pipeline applies before trusting a small-n day: the
    * method-of-moments prior strength
    *   s = max(m·(10⁴ − m) div max(v, 1) − 1, 0)
    * (m = unweighted mean of the daily rates in bp, v = their
    * population variance in bp², both exact integers) pulls each day
    * toward the grand mean with s pseudo-events:
    *   shrunk_bp = (10⁴·x_d + s·m) div (n_d + s).
    * A flat spectrum (v = 0) drives s huge and every day to m — the
    * correct degenerate limit, no guard needed beyond max(v, 1).
    *
    * All-integer: daily rates are exact bp, the variance sum rides
    * DECIMAL(38,0) (dev² ≤ 10⁸ per day — int64 safe to ~9·10¹⁰ days,
    * decimal far beyond), s ≤ 2.5·10⁷ and s·m ≤ 2.5·10¹¹ stay deep
    * inside int64. Operands are non-negative throughout. Scale
    * shape: one day-keyed hash aggregate over the narrow (ts, type)
    * projection, then two bounded 1-row broadcasts onto the day-grain
    * frame — nothing row-grain shuffles twice.
    *
    * Output per day: n, x, raw_bp, shrunk_bp, plus the audit
    * constants (k days, m_bp, v_bp2, prior_s).
    */
  def ebShrinkage(events: DataFrame,
      successType: String = "click"): DataFrame = {
    val day = expr("unix_micros(ts) div 86400000000")
    val daily = events.select(day.as("day"),
        when(col("event_type") === successType, 1L).otherwise(0L)
          .as("hit"))
      .groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("hit")).as("x"))
      .withColumn("raw_bp", idiv(lit(10000L) * col("x"), col("n")))
    val mRow = daily.agg(count(lit(1)).cast("long").as("k"),
      idiv(sum(col("raw_bp")), count(lit(1))).as("m_bp"))
    val prior = daily.crossJoin(broadcast(mRow))
      .agg(max(col("k")).as("k"), max(col("m_bp")).as("m_bp"),
        idiv(sum(((col("raw_bp") - col("m_bp")) *
          (col("raw_bp") - col("m_bp"))).cast(Dec38)),
          max(col("k")).cast(Dec38)).cast("long").as("v_bp2"))
      .withColumn("prior_s",
        greatest(idiv(col("m_bp") * (lit(10000L) - col("m_bp")),
          greatest(col("v_bp2"), lit(1L))) - 1L, lit(0L)))
    daily.crossJoin(broadcast(prior))
      .select(col("day"), col("n"), col("x"), col("raw_bp"),
        idiv(lit(10000L) * col("x") + col("prior_s") * col("m_bp"),
          col("n") + col("prior_s")).as("shrunk_bp"),
        col("k"), col("m_bp"), col("v_bp2"), col("prior_s"))
      .orderBy(col("day"))
  }
}
