package graft.operators

import graft.functions.idiv
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table profiling — the data-quality dashboard a pipeline runs
  * before trusting a new corpus drop: per-column row count, null
  * count, distinct count, and min/max (rendered as text so the
  * output schema is column-type-agnostic).
  *
  * Shape: ONE aggregation computes every column's stats in a single
  * pass over the data (Spark plans the multiple DISTINCT aggregates
  * through an Expand, still one scan — never one job per column),
  * then a 1-row → N-rows explode unpivots to the long format. For
  * 100 TB profiling where exact distincts don't matter, pass
  * `approxDistinct = true` to swap in HyperLogLog
  * `approx_count_distinct` (constant memory, no Expand); the exact
  * default stays oracle-verifiable.
  */
object Profile {

  def table(df: DataFrame, cols: Seq[String] = Seq.empty,
      approxDistinct: Boolean = false): DataFrame = {
    // default-profiling a heterogeneous table must not die on a map
    // column (min/max/count_distinct need an ordering maps lack) —
    // skip unorderable columns unless the caller names them explicitly
    val cs =
      if (cols.nonEmpty) cols
      else df.schema.fields.filter(f =>
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(f.dataType)).map(_.name).toSeq
    val aggs = count(lit(1)).as("_n") +: cs.flatMap(c => Seq(
      count(col(c)).as(s"_nn_$c"),
      (if (approxDistinct) approx_count_distinct(col(c))
       else count_distinct(col(c))).as(s"_nd_$c"),
      min(col(c)).cast("string").as(s"_min_$c"),
      max(col(c)).cast("string").as(s"_max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val entries = cs.map(c => struct(
      lit(c).as("col_name"), col("_n").as("n"),
      (col("_n") - col(s"_nn_$c")).as("n_null"),
      col(s"_nd_$c").as("n_distinct"),
      col(s"_min_$c").as("min_s"), col(s"_max_$c").as("max_s")))
    row.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** The 100 TB profiling twin of [[table]]: every "count the whole
    * column exactly" aggregate replaced by its constant-memory sketch —
    * HyperLogLog++ `approx_count_distinct` (no Expand, one pass) and
    * KLL-style `percentile_approx` quantiles for numeric columns
    * (p50/p95/p99, the latency-style tails a corpus dashboard wants).
    * Exact n/n_null stay exact (they're plain map-side-combinable
    * counts — sketching them would save nothing).
    *
    * Not ANSI-SQL-reproducible (every engine's HLL/quantile sketch
    * differs), so this surface is pinned by an error-bound test
    * against the exact [[table]] pass instead of the DuckDB oracle —
    * the exact operator stays the oracle-verifiable default.
    */
  def approxTable(df: DataFrame, cols: Seq[String] = Seq.empty,
      relativeSD: Double = 0.05,
      percentileAccuracy: Int = 10000): DataFrame = {
    val numeric = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType] => f.name
    }.toSet
    val cs =
      if (cols.nonEmpty) cols
      else df.schema.fields.filter(f =>
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(f.dataType)).map(_.name).toSeq
    val aggs = count(lit(1)).as("_n") +: cs.flatMap(c => Seq(
      count(col(c)).as(s"_nn_$c"),
      approx_count_distinct(col(c), relativeSD).as(s"_nd_$c")) ++
      (if (numeric(c)) Seq(
        percentile_approx(col(c).cast("double"),
          array(lit(0.5), lit(0.95), lit(0.99)),
          lit(percentileAccuracy)).as(s"_pq_$c"))
       else Nil))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val nullD = lit(null).cast("double")
    val entries = cs.map { c =>
      val (p50, p95, p99) =
        if (numeric(c))
          (element_at(col(s"_pq_$c"), 1), element_at(col(s"_pq_$c"), 2),
            element_at(col(s"_pq_$c"), 3))
        else (nullD, nullD, nullD)
      struct(
        lit(c).as("col_name"), col("_n").as("n"),
        (col("_n") - col(s"_nn_$c")).as("n_null"),
        col(s"_nd_$c").as("approx_distinct"),
        p50.as("p50"), p95.as("p95"), p99.as("p99"))
    }
    row.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** Equi-width histogram of an integral column in exact integer
    * arithmetic: bin i covers `[lo + i·w, lo + (i+1)·w)` with
    * `w = ceil(range / nBins)`, so every value lands in
    * `[0, nBins)` and bin edges are reproducible on any engine. All
    * divisions go through SQL's integral `div` — double division
    * would round before truncation and shift bin boundaries once the
    * range passes 2⁵³. (Remaining documented corner: a column
    * spanning more than half the int64 range makes `hi - lo` itself
    * overflow under ANSI mode and the job fails loud — profiling a
    * near-full-range id space needs a coarser pre-bucketing pass.)
    * Two aggregations, one scan each: the (min, max) frame joins back
    * as a single broadcastable row.
    * Output: (bin, lo, hi, n_rows) for non-empty bins.
    */
  def histogram(df: DataFrame, c: String, nBins: Int = 10): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val bounds = df.agg(min(col(c)).cast("long").as("_lo"),
      max(col(c)).cast("long").as("_hi"))
    val width = greatest(
      idiv(col("_hi") - col("_lo") + nBins, lit(nBins.toLong)),
      lit(1L))
    df.select(col(c)).crossJoin(bounds)
      .select(
        idiv(col(c).cast("long") - col("_lo"), width)
          .as("bin"),
        col("_lo"), width.as("_w"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("_lo") + col("bin") * col("_w")).as("lo"),
        min(col("_lo") + (col("bin") + 1L) * col("_w")).as("hi"))
      .select(col("bin"), col("lo"), col("hi"), col("n_rows"))
  }

  /** Equi-DEPTH histogram: bins hold (approximately) equal row counts
    * instead of equal value ranges — the right view of a skewed column,
    * where the equi-width [[histogram]] puts 99% of rows in one bin.
    * Bin i spans `[b_{i-1}, b_i)` with boundaries at the exact
    * interpolated `i/nBins` percentiles (values above the last internal
    * boundary fall in bin nBins-1; exact ties on a boundary go to the
    * higher bin).
    *
    * Scale shape: NO global sort window (the naive `ntile` formulation
    * funnels the corpus through one partition) — one scalar aggregate
    * computes the nBins-1 boundaries, broadcasts that single row, and
    * a codegen'd `filter`-HOF counts boundaries below each value. Two
    * scans total, both full-width parallel; the boundary row is
    * constant-size at any corpus size.
    *
    * Output: (bin, lo, hi, n_rows) for non-empty bins, lo/hi the
    * bin's OBSERVED min/max (informative on sparse data where
    * percentile boundaries repeat).
    */
  def equiDepthHistogram(df: DataFrame, c: String, nBins: Int = 10,
      exact: Boolean = false): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val ps = (1 until nBins).map(i => lit(i.toDouble / nBins))
    val v = col(c).cast("double")
    // approx (default): KLL-style sketch, constant memory — the 100 TB
    // path. exact: Spark's interpolated `percentile` (per-partition
    // value buffers — fine up to memory, and the form DuckDB's
    // quantile_cont reproduces for the oracle twin).
    val boundaries =
      if (nBins == 1) df.sparkSession.range(1).select(
        array().cast("array<double>").as("_bs"))
      else if (exact) df.select(v.as("_v")).agg(
        expr(s"percentile(_v, array(${(1 until nBins)
          .map(i => s"${i.toDouble / nBins}").mkString(",")}))").as("_bs"))
      else df.agg(
        percentile_approx(v, array(ps: _*), lit(10000)).as("_bs"))
    df.select(v.as("_v")).filter(col("_v").isNotNull)
      .crossJoin(boundaries)
      .select(col("_v"),
        size(filter(col("_bs"), b => b <= col("_v"))).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"), min(col("_v")).as("lo"),
        max(col("_v")).as("hi"))
      .select(col("bin"), col("lo"), col("hi"), col("n_rows"))
  }

  /** Referential-integrity audit: child rows whose key has no match
    * in the parent — the orphan check run after any join-dependent
    * corpus assembly. One left_anti shuffle on the key; the parent
    * side collapses to its distinct key column first (at 100 TB the
    * parent's payload never moves, and a small parent broadcasts
    * under AQE).
    */
  def fkOrphans(child: DataFrame, parent: DataFrame, childKey: String,
      parentKey: String): DataFrame =
    child.join(parent.select(col(parentKey).as(childKey)).distinct(),
      Seq(childKey), "left_anti")

  /** Heavy hitters: the k most frequent values of a column — the
    * skew diagnosis run before keying a join or window on it. One
    * map-side-combinable count + a TakeOrdered top-k (no global
    * sort). Ties break by value text for a total order.
    */
  def heavyHitters(df: DataFrame, c: String, k: Int = 10): DataFrame =
    df.groupBy(col(c).cast("string").as("value"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("n_rows").desc, col("value"))
      .limit(k)

  /** Sketches AS DATA — the lake pattern that makes 100 TB
    * distinct-count dashboards O(1): a nightly job reduces each
    * (key, day) shard to ONE Apache DataSketches HLL sketch (a small
    * binary, `hll_sketch_agg`), the lake stores sketches instead of
    * raw ids, and query time unions sketches (`hll_union_agg`) —
    * never rescanning raw events. HLL union max-merges registers, so
    * the two-level estimate is IDENTICAL to a single-pass sketch
    * over the raw rows (pinned in ProfileSketchSpec), and the whole
    * path is deterministic (hash-based, no RNG) though approximate
    * vs the true count (~1.6% rel. std. err. at lgK=12 default).
    * Output: (key, est_users: long, exact_users) — the exact twin rides
    * along for the driver's rows-only check and the error-bound test;
    * a production dashboard reads only the sketch column.
    */
  def hllSketchLake(events: DataFrame, keyCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "user_id"): DataFrame = {
    val daily = events
      .select(col(keyCol), to_date(col(tsCol)).as("day"), col(idCol))
      .groupBy(col(keyCol), col("day"))
      .agg(hll_sketch_agg(col(idCol)).as("sk"))
    val merged = daily.groupBy(col(keyCol))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
    val exact = events.groupBy(col(keyCol))
      .agg(countDistinct(col(idCol)).as("exact_users"))
    merged.join(exact, keyCol)
  }

  /** Quantile-sketch lake via KLL (Karnin, Lang & Liberty 2016) —
    * the QUANTILE twin of [[hllSketchLake]]: a nightly job reduces
    * each (key, day) shard to one KLL sketch binary
    * (`kll_sketch_agg`), and query time merges sketches
    * (`kll_merge_agg`) and reads any quantile (`kll_quantile`)
    * without rescanning raw rows. KLL merge compaction is
    * order-sensitive (unlike HLL's register max), so the two-level
    * estimate is error-bound-equal to a single pass, not
    * hash-equal — the bounds gate audits the RANK of each estimate
    * against the raw data (normalized rank error ~1.65% at k = 200;
    * gate margin 3%). Output: (key, p50_est, p95_est) doubles.
    */
  def kllQuantileLake(events: DataFrame, keyCol: String = "event_type",
      tsCol: String = "ts", valCol: String = "value",
      k: Int = 200): DataFrame = {
    import graft.functions.{kll_merge_agg, kll_quantile, kll_sketch_agg}
    val daily = events
      .select(col(keyCol), to_date(col(tsCol)).as("day"), col(valCol))
      .groupBy(col(keyCol), col("day"))
      .agg(kll_sketch_agg(col(valCol), k).as("sk"))
    daily.groupBy(col(keyCol))
      .agg(kll_merge_agg(col("sk"), k).as("merged"))
      .select(col(keyCol),
        kll_quantile(col("merged"), lit(0.5)).as("p50_est"),
        kll_quantile(col("merged"), lit(0.95)).as("p95_est"))
  }

  /** Audience overlap via Theta sketches — the set-operation family
    * HLL cannot express: |users(a) ∩ users(b)| from two mergeable
    * per-segment sketches (`theta_sketch_agg` → `theta_intersection`),
    * no join of raw id sets. At 100 TB the segment sketches are the
    * stored artifact; any pairwise overlap is a two-row lookup. The
    * single-row crossJoin is the adjudicated 1×1 build-side shape.
    * Exact twin (distinct ids doing BOTH) rides along for the
    * error-bound test.
    */
  def audienceOverlap(events: DataFrame, a: String, b: String,
      keyCol: String = "event_type", idCol: String = "user_id"): DataFrame = {
    // conditional aggregation builds BOTH segment sketches in one
    // row (theta_sketch_agg skips nulls), so a segment with no users
    // yields an empty sketch and the overlap answers 0 — one output
    // row always, never a silent empty result
    val sk = events.filter(col(keyCol).isin(a, b))
      .agg(
        theta_sketch_agg(when(col(keyCol) === a, col(idCol))).as("sk_a"),
        theta_sketch_agg(when(col(keyCol) === b, col(idCol))).as("sk_b"))
    val exact = events.filter(col(keyCol).isin(a, b))
      .groupBy(col(idCol))
      .agg(countDistinct(col(keyCol)).as("n_kinds"))
      .filter(col("n_kinds") === 2)
      .agg(count(lit(1)).as("exact_overlap"))
    // a segment with zero members aggregates to a NULL sketch —
    // null-propagate to estimate 0 rather than a null overlap
    sk.select(coalesce(round(theta_sketch_estimate(
        theta_intersection(col("sk_a"), col("sk_b")))).cast("long"), lit(0L))
        .as("est_overlap"))
      .crossJoin(exact)
  }

  /** Functional-dependency audit (the Metanome-style profiling
    * check): for each declared candidate A→B, the number of DISTINCT
    * A-values and the violation count Σ_A (ndv(B|A) − 1) — zero
    * violations means the dependency HOLDS in this snapshot (a fact
    * schema designers, dedup keys and CDC merge keys all silently
    * assume; this makes it a checked report). One hash aggregation
    * per declared pair, each shuffling on its own A key — no
    * column-pair search space, the caller declares the candidates
    * (the search variant is a different, exponential problem).
    * Output: (fd, n_keys, violations, holds), one row per pair.
    */
  def functionalDeps(df: DataFrame,
      pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty)
    pairs.map { case (a, b) =>
      df.groupBy(col(a)).agg(countDistinct(col(b)).as("ndv"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("ndv") - 1).as("violations"))
        .select(lit(s"$a->$b").as("fd"), col("n_keys"),
          col("violations"), (col("violations") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Join-key skew report: for each candidate key column, row count,
    * distinct count and the heaviest key's share in exact basis
    * points — the number that decides salting / AQE skew-join before
    * a shuffle goes degenerate (top1_share ≈ 10⁴ means one reducer
    * gets everything). One hash aggregation per column plus a 1-row
    * rollup; the per-key count table never leaves the executors.
    * Output: (column, n_rows, ndv, top1_n, top1_share_bp).
    */
  def keySkew(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    cols.map { c =>
      df.groupBy(col(c)).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("ndv"), sum(col("n")).as("n_rows"),
          max(col("n")).as("top1_n"))
        .select(lit(c).as("column"), col("n_rows"), col("ndv"),
          col("top1_n"),
          expr("(10000 * top1_n) div n_rows").as("top1_share_bp"))
    }.reduce(_ unionByName _)
  }

  /** Sequence-gap audit: for an id column expected to be dense within
    * each grain (ingest batch, day, shard), compare the distinct-id
    * count against the id span — `missing_in_span` > 0 means rows
    * were dropped (or the sequence has holes) INSIDE the observed
    * range, the loss mode a plain row count never shows. One hash
    * aggregation per grain; distinct-count is exact (the sketch
    * variants in [[approxTable]] are the 100 TB alternative when the
    * id domain per grain is huge).
    *
    * Output: (grain, n_ids, id_min, id_max, missing_in_span).
    */
  def sequenceGaps(df: DataFrame, idCol: String,
      grain: org.apache.spark.sql.Column): DataFrame =
    df.select(grain.as("grain"), col(idCol).as("id"))
      .groupBy(col("grain"))
      .agg(count_distinct(col("id")).as("n_ids"),
        min(col("id")).as("id_min"), max(col("id")).as("id_max"))
      .select(col("grain"), col("n_ids"), col("id_min"), col("id_max"),
        (col("id_max") - col("id_min") + 1 - col("n_ids"))
          .as("missing_in_span"))
      .orderBy(col("grain"))

  /** Gini impurity per categorical column — the log-free concentration
    * profile (CART's split criterion, Breiman et al. 1984): impurity
    * = 1 − Σ(nᵢ/N)², reported exactly as `10⁶ − 10⁶·Σnᵢ² div N²` so
    * both engines agree bit-for-bit where an entropy profile would
    * drift through ln(). 0 ppm = one value dominates entirely;
    * (1−1/k)·10⁶ = uniform over k values. NULL is profiled as its own
    * category (a null-heavy column IS concentrated).
    *
    * One hash aggregate per column at value-cardinality grain, then a
    * scalar fold — the Σnᵢ² products ride DECIMAL(38,0) so the ppm
    * arithmetic cannot overflow at any N. Output: (col_name, n_rows,
    * n_distinct, impurity_ppm), one row per profiled column.
    */
  def giniImpurity(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val d = (c: Column) => c.cast("decimal(38,0)")
    cols.map { c =>
      df.groupBy(col(c)).agg(count(lit(1)).as("n_i"))
        .agg(sum(col("n_i")).as("n_rows"),
          count(lit(1)).as("n_distinct"),
          sum(d(col("n_i")) * d(col("n_i"))).as("ss"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_distinct"),
          (lit(1000000L) -
            expr("(1000000 * ss) div (CAST(n_rows AS DECIMAL(38,0)) " +
              "* n_rows)")).as("impurity_ppm"))
    }.reduce(_.unionByName(_))
  }

  /** Pairwise Pearson correlation matrix over a fixed set of numeric
    * columns — the multi-column generalization of the q_stats_agg /
    * assortativity discipline: values quantize to integer centi-units,
    * ALL sufficient statistics (per-column sums and squares, per-pair
    * cross sums) accumulate exactly in one single aggregation pass
    * over the table (DECIMAL(38,0) — merge-order-independent at any
    * parallelism), and only the final slope / r² are IEEE doubles of
    * exact rationals. One scan, one scalar aggregate, zero joins —
    * the profile step that normally costs k² passes costs one.
    *
    * Output: one row per unordered column pair (col_a, col_b, n,
    * slope, r2), pairs in the given column order.
    *
    * Envelope: per-row products of centi-unit values are int64, so
    * every value must satisfy |round(v * 100)| < ~3.04e9 centi-units
    * (sqrt(2^63)), i.e. |v| < ~3.04e7. Outside it the query fails with
    * ARITHMETIC_OVERFLOW under the session's ANSI mode (OverflowSpec)
    * instead of returning a wrong number.
    */
  def corrMatrix(df: DataFrame, cols: Seq[(String, String)]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val b = df.select(cols.map { case (c, a) =>
      round(col(c) * 100).cast("long").as(a) }: _*)
    val names = cols.map(_._2)
    val pairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (names(i), names(j))
    // Per-row arithmetic stays in LONGs; only the ACCUMULATOR is
    // decimal. `dec(col(a)) * col(b)` ran a BigDecimal multiply (plus
    // two promote-casts) per row per term — 14 terms x n rows of
    // allocation churn that made this aggregate GC-bound at high core
    // counts (r19 driver: 4.9 s at 32 cpus vs 1.3 s at 8, same code).
    // A long x long product is codegen'd and allocation-free; the
    // cast to DECIMAL(38,0) before SUM keeps the accumulation exact
    // and merge-order-independent at any row count. Caller contract
    // (unchanged): centi-unit values must keep per-row PRODUCTS in
    // int64 — |v| < ~3e9 centi-units, far above any profiled column.
    val aggs =
      Seq(count(lit(1)).as("n")) ++
      names.map(a => sum(dec(col(a))).as(s"s_$a")) ++
      names.map(a => sum(dec(col(a) * col(a))).as(s"ss_$a")) ++
      pairs.map { case (a, bb) =>
        sum(dec(col(a) * col(bb))).as(s"sp_${a}_$bb") }
    val wide = b.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (a, bb) =>
      struct(lit(a).as("col_a"), lit(bb).as("col_b"), col("n").as("n"),
        (dec(col("n")) * col(s"sp_${a}_$bb") -
          col(s"s_$a") * col(s"s_$bb")).as("num"),
        (dec(col("n")) * col(s"ss_$a") -
          col(s"s_$a") * col(s"s_$a")).as("den"),
        (dec(col("n")) * col(s"ss_$bb") -
          col(s"s_$bb") * col(s"s_$bb")).as("deny"))
    }
    wide.select(explode(array(rows: _*)).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
        col("p.n").as("n"),
        when(col("p.den") =!= 0,
          col("p.num").cast("double") / col("p.den").cast("double"))
          .as("slope"),
        when(col("p.den") =!= 0 && col("p.deny") =!= 0,
          col("p.num").cast("double") * col("p.num").cast("double") /
            (col("p.den").cast("double") * col("p.deny").cast("double")))
          .as("r2"))
      .orderBy(col("col_a"), col("col_b"))
  }

  /** Kruskal–Wallis one-way rank test (Kruskal & Wallis 1952): does
    * a numeric column's distribution differ across groups — the
    * nonparametric ANOVA a profiler reaches for when "mean n_chars
    * by source" isn't robust evidence. Computed rank-FREE at the
    * (value, count) grain, the [[graft.operators.Events.mannWhitneyU]]
    * discipline: the doubled midrank of value v is
    * 2·|{x < v}| + |{x = v}| + 1 (always an integer), group rank
    * sums come from the (group, value) count frame joined to the
    * value frame — no row-grain rank window ever runs. Per-group
    * output carries the exact sufficient statistics (n_g, doubled
    * rank sum, mean doubled rank in floor micro-units) plus the
    * global H in milli-units and the Σ(c³−c) tie-correction mass,
    * with H = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1) evaluated as
    * (3000·Σ(r2_sum² div n_g)) div (N(N+1)) − 3000(N+1) — every
    * division floors a nonnegative quantity, so Spark's truncating
    * `div` and DuckDB's `//` agree bit-for-bit.
    *
    * Scale shape: two hash aggregates over the raw rows (value
    * grain and (group, value) grain), one cumulative window over
    * the DISTINCT-VALUE frame (bounded by the value domain, not the
    * row count), a value-keyed equi-join, and a 1-row totals
    * broadcast. Magnitudes: r2_sum ≤ 2N² rides as DECIMAL(38,0)
    * through its square (int64 would clear only to N ≈ 2·10⁹
    * before r2_sum² overflows at N ≈ 6·10⁴ — hence the decimal
    * ladder from the first multiply); the published h_milli and
    * rbar2_micro are small longs.
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val d = df.select(col(groupCol).as("grp"),
        col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull && col("grp").isNotNull)
    val vc = d.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val wv = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranks = vc
      .withColumn("before", coalesce(sum(col("cnt")).over(wv), lit(0L)))
      .select(col("v"),
        (lit(2L) * col("before") + col("cnt") + lit(1L)).as("midrank2"))
    val gv = d.groupBy(col("grp"), col("v")).agg(count(lit(1)).as("m"))
    val perGroup = gv.join(ranks, "v")
      .groupBy(col("grp"))
      .agg(sum(col("m")).as("n_g"),
        sum(dec(col("m")) * col("midrank2")).as("r2_sum_d"))
      .select(col("grp"), col("n_g"),
        col("r2_sum_d").cast("long").as("r2_sum"),
        expr("(1000000 * r2_sum_d) div n_g").as("rbar2_micro"),
        expr("(r2_sum_d * r2_sum_d) div n_g").as("term"))
    val ties = vc.agg(
      (sum(dec(col("cnt")) * col("cnt") * col("cnt")) -
        sum(dec(col("cnt")))).cast("long").as("tie_cube"))
    val totals = perGroup
      .agg(sum(col("n_g")).as("n_total"), sum(dec(col("term"))).as("st"))
      .select(col("n_total"),
        expr("(3000 * st) div (n_total * (n_total + 1)) " +
          "- 3000 * (n_total + 1)").as("h_milli"))
      .crossJoin(ties)
    perGroup.crossJoin(broadcast(totals))
      .select(col("grp"), col("n_g"), col("r2_sum"), col("rbar2_micro"),
        col("n_total"), col("tie_cube"), col("h_milli"))
      .orderBy(col("grp"))
  }

  /** Data-freshness audit — the staleness check a scheduled pipeline
    * runs before consuming a multi-source table (one upstream silently
    * stopping is the most common way a daily corpus goes quietly
    * wrong): per source, the last observed epoch-day and its lag
    * behind the freshest source, flagged when the lag exceeds
    * `maxLagDays`. One hash aggregate to |sources| rows plus a scalar
    * broadcast — the input is scanned once.
    *
    * Output: (srcCol, n_rows, max_day, lag_days, stale).
    */
  def freshness(df: DataFrame, srcCol: String, tsCol: String,
      maxLagDays: Long = 2L): DataFrame = {
    require(maxLagDays >= 0)
    val day = expr(s"unix_micros($tsCol) div 86400000000")
    val per = df.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_rows"), max(day).as("max_day"))
    val g = per.agg(max(col("max_day")).as("gm"))
    per.crossJoin(broadcast(g))
      .select(col(srcCol), col("n_rows"), col("max_day"),
        (col("gm") - col("max_day")).as("lag_days"))
      .withColumn("stale", col("lag_days") > maxLagDays)
  }

  /** Cramér's V association strength between two categorical columns
    * (Cramér 1946) — the normalized χ² the profiling pass reports so
    * association is comparable ACROSS column pairs regardless of
    * table size (raw χ² grows with N; V = √(χ²/(N·(min(r,c)−1))) is
    * 0..1). Per-cell χ² terms use the fraction-cleared two-limb
    * identity of [[graft.operators.Events.chiSquareFromCells]]
    * (squares ride DECIMAL(38,0), exact while diff² < 10³⁸); the
    * final root is [[graft.operators.Sampling.isqrt]] over
    * `(10⁶·χ²_micro) div (N·df)` — a ≤10¹² operand, inside isqrt's
    * exact range, giving V in exact ppm on both engines. Degenerate
    * margins (a single-valued column, df = 0) report V = 0 rather
    * than dividing by zero.
    *
    * Output: 1 row — (n_cells, n_rows, df_min, chi2_micro,
    * cramers_v_ppm); n_cells is the FULL r×c grid (zero cells
    * included — a zero cell with a large expected count is evidence
    * OF dependence, so χ² sums over the whole grid).
    *
    * 100 TB shape: one hash aggregate to the contingency cells
    * (bounded by the category-pair cardinality), margins and totals
    * are cell-frame aggregates, everything after is broadcast-scalar
    * arithmetic — the input is scanned exactly once.
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val obs = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
    val r = obs.groupBy(col("a")).agg(sum(col("o")).as("rt"))
    val c = obs.groupBy(col("b")).agg(sum(col("o")).as("ct"))
    val n = obs.agg(sum(col("o")).as("nt"))
    // the FULL r×c grid, zero cells included — χ² over observed cells
    // only underestimates association (a zero cell with a large
    // expected count is evidence OF dependence, not absence of data)
    val cell = r.select(col("a"), col("rt"))
      .crossJoin(c.select(col("b"), col("ct")))
      .join(obs, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val terms = cell.crossJoin(broadcast(n))
      .select(col("nt"),
        expr("""(CAST(o AS DECIMAL(38,0)) * nt - rt * ct) *
                (CAST(o AS DECIMAL(38,0)) * nt - rt * ct)""").as("d2"),
        expr("CAST(nt AS DECIMAL(38,0)) * rt * ct").as("dd"))
      .select(col("nt"),
        (expr("(d2 div dd)") * 1000000L +
          expr("(1000000 * pmod(d2, dd)) div dd"))
          .cast("long").as("term_micro"))
    val k = cell.agg(count(lit(1)).as("n_cells"),
      countDistinct(col("a")).as("ra"),
      countDistinct(col("b")).as("cb"))
    terms.groupBy(col("nt"))
      .agg(sum(col("term_micro")).as("chi2_micro"))
      .crossJoin(broadcast(k))
      .withColumn("df_min", least(col("ra"), col("cb")) - 1L)
      .withColumn("cramers_v_ppm",
        when(col("df_min") <= 0 || col("nt") === 0, 0L)
          .otherwise(Sampling.isqrt(expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * chi2_micro)" +
              " div (nt * df_min) AS BIGINT)"))))
      .select(col("n_cells"), col("nt").as("n_rows"), col("df_min"),
        col("chi2_micro"), col("cramers_v_ppm"))
  }
}
