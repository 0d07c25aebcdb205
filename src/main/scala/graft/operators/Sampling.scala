package graft.operators

import graft.Scratch.pin
import graft.functions.{idiv, sdbm_hash, Dec38}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus-construction operators for training-data
  * pipelines — the sampling half of the extended (north-star) surface
  * (SURVEY.md §2b): train/val/test splitting, source-mixture
  * weighting, and per-source token budgeting.
  *
  * Determinism design: every "random" decision is replaced by a
  * stable per-row bucket derived from the sdbm hash
  * ([[graft.functions.SdbmHashExpr]]) of the row id's decimal text —
  * reproducible across runs, engines (the DuckDB oracle reproduces
  * the same recurrence), partitionings and cluster topologies, and
  * immune to the seed-reshuffle drift that `rand(seed)` suffers when
  * partition counts change.
  *
  * 100 TB posture: bucket assignment is a narrow codegen'd projection
  * (no shuffle, no state); splits and mixtures are plain filters
  * Catalyst can push; token budgeting is one window per stratum — its
  * single shuffle is on the stratum key, and the running sum is
  * computed without materializing per-stratum collections.
  */
object Sampling {

  /** Stable bucket in [0, nBuckets) from the sdbm hash of the id's
    * decimal text, scrambled by one Park-Miller (MINSTD) LCG step.
    *
    * The scramble is load-bearing: sdbm's multiplier 65599 ≡ -1
    * (mod 100), so the raw hash mod a small bucket count degenerates
    * to an alternating digit sum on decimal ids (measured: 91% of a
    * 500-id corpus landed in "train" buckets). One multiplication
    * over the Mersenne prime 2³¹-1 restores Poisson-level uniformity,
    * stays expressible in the SQL oracle, and keeps every
    * intermediate below 2⁴⁷ (ANSI-overflow-safe). pmod guards the
    * Long.MinValue hash corner.
    */
  def bucket(id: Column, nBuckets: Int = 100): Column =
    pmod(scrambledRank(id), lit(nBuckets.toLong))

  /** The full-range MINSTD scramble behind [[bucket]] (no final mod):
    * a deterministic pseudo-random rank in [0, 2³¹-1) per id.
    */
  def scrambledRank(id: Column): Column = {
    val h = sdbm_hash(lit(0L), id.cast("string"))
    pmod(h, lit(2147483647L)) * lit(48271L) % lit(2147483647L)
  }

  /** Poisson(1) CDF, correctly truncated to units of 10⁻⁴:
    * P(X≤k) for k = 0..6 is 0.36788 / 0.73576 / 0.91970 / 0.98101 /
    * 0.99634 / 0.99941 / 0.99992, truncating to
    * 3678/7357/9196/9810/9963/9994/9999. P(X≤7) ALSO truncates to
    * 9999, so at this granularity the maximum representable weight is
    * 7 (drawn with probability 10⁻⁴ ≈ the true P(X≥7) = 8.3·10⁻⁵) —
    * the table stops at seven thresholds rather than carrying an
    * unreachable eighth. Shared by [[poissonBootstrap]] and
    * [[graft.operators.Events.upliftCI]] so a future correction
    * touches one site; the SQL twins spell the same constants inline
    * per house style (they cannot reference Scala values).
    */
  private[graft] val poisson1Cdf1e4 =
    Seq(3678L, 7357L, 9196L, 9810L, 9963L, 9994L, 9999L)

  /** Map a uniform draw `u` ∈ [0, 10⁴) to its Poisson(1) weight
    * (0–7) via [[poisson1Cdf1e4]]. */
  private[graft] def poisson1Weight(u: Column): Column =
    poisson1Cdf1e4.zipWithIndex.foldRight(lit(poisson1Cdf1e4.size.toLong)) {
      case ((t, k), rest) => when(u < t, k.toLong).otherwise(rest)
    }

  /** Deterministic fixed-size uniform sample: exactly `k` rows (fewer
    * only if the input is smaller), chosen as the top-k by scrambled
    * hash rank — the distributed, rerun-stable replacement for
    * reservoir sampling (same id set on every run and every
    * partitioning; membership changes only when the corpus does).
    * Compiles to TakeOrderedAndProject: no global sort, each
    * partition keeps k candidates and the driver merges.
    */
  def fixedK(df: DataFrame, k: Int, idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "sample size must be positive")
    df.withColumn("_rk", scrambledRank(col(idCol)))
      .orderBy(col("_rk"), col(idCol))
      .limit(k)
      .drop("_rk")
  }

  /** Weighted fixed-size sample by PRIORITY SAMPLING (Duffield, Lund
    * & Thorup, JACM 2007 "Priority sampling for estimation of
    * arbitrary subset sums"): each row draws the deterministic
    * uniform u ∈ [1, 2³¹−1] from its id ([[scrambledRank]] + 1) and
    * takes priority w/u; the sample is the k HIGHEST priorities.
    * Inclusion probability grows with weight — heavy rows are
    * near-certain members, light rows enter with probability ∝ w —
    * and the DLT subset-sum estimator over such a sample is within a
    * factor 1+O(1/k) of the minimum variance achievable by ANY
    * k+1-sparse unbiased estimator (their main theorem).
    *
    * The priority w/u is materialized as TWO integer limbs of its
    * exact long division — `prio_unit` = w·10⁶ div u and `prio_frac`
    * = the next six decimal digits ((w·10⁶ mod u)·10⁶ div u) — so
    * ordering (unit, frac) is the exact rational order down to
    * 10⁻¹² granularity with NO 64-bit overflow for weights up to
    * ~9·10¹² (a single-limb w·10¹² scaling would overflow at
    * w ≈ 9·10⁶; ANSI mode fails loud beyond the documented bound).
    * Identical on every engine, rerun, and partitioning (same
    * determinism contract as [[fixedK]]); ties break by id. Weights
    * must be positive. Compiles to TakeOrderedAndProject:
    * per-partition top-k, driver merge — no global sort at any scale.
    */
  def prioritySample(df: DataFrame, k: Int, weightCol: String,
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "sample size must be positive")
    df.withColumn("_u", scrambledRank(col(idCol)) + lit(1L))
      .withColumn("_w6", expr(s"cast($weightCol as bigint) * 1000000"))
      .withColumn("prio_unit", expr("_w6 div _u"))
      .withColumn("prio_frac", expr("((_w6 % _u) * 1000000) div _u"))
      .orderBy(col("prio_unit").desc, col("prio_frac").desc, col(idCol))
      .limit(k)
      .drop("_u", "_w6")
  }

  /** Quality-tiered keep-rate sampling — the quality-aware selection
    * step of a pretraining corpus build (keep most of the high-quality
    * tail, thin the low-quality bulk) with NO shuffle at all: every
    * decision is a per-row integer computation, so the op is a pure
    * map at any corpus size, unlike rank-based budgets.
    *
    * `scored` must carry [[TextStats.qualityScore]]'s columns
    * (n_chars_m, n_punct, stop_hits). The integer quality
    * `iq = max(0, 10⁶·stop_hits − 10⁴·n_punct) div n_chars` mirrors
    * the float `quality` at ×10⁴ scale but stays oracle-exact; tier
    * `t = min(top, iq div tierWidth)` then keeps a doc iff its
    * deterministic scrambled bucket < keepPct(t) — rerun- and
    * partitioning-stable membership like every sampler here.
    * Output: (idCol, tier, iq) for kept docs.
    */
  def qualityTieredKeep(scored: DataFrame,
      keepPct: Seq[Int] = Seq(10, 25, 50, 100),
      tierWidth: Long = 5000L, idCol: String = "doc_id"): DataFrame = {
    require(keepPct.nonEmpty && keepPct.forall(p => p >= 0 && p <= 100),
      "keep percentages must be in [0, 100]")
    require(tierWidth > 0)
    val iq = when(col("n_chars_m") === 0, 0L).otherwise(expr(
      "greatest(0L, 1000000L * stop_hits - 10000L * n_punct)" +
        " div n_chars_m"))
    val top = keepPct.size - 1
    val pcts = array(keepPct.map(p => lit(p.toLong)): _*)
    scored.withColumn("iq", iq)
      .withColumn("tier",
        expr(s"least(CAST($top AS BIGINT), iq div $tierWidth)"))
      .filter(bucket(col(idCol)) <
        element_at(pcts, (col("tier") + 1).cast("int")))
      .select(col(idCol), col("tier"), col("iq"))
  }

  /** Exact integer square root, both-engine identical: seed with the
    * IEEE double sqrt (correctly rounded, so off by at most one ulp of
    * the 53-bit mantissa from the true real root) and apply a ±1
    * integer correction. Exact for x < 2⁵², which callers guarantee
    * by construction (temperature ratios are ≤ 10¹²). The DuckDB twin
    * spells the identical CASE.
    */
  private[graft] def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    when((s0 + 1) * (s0 + 1) <= x, s0 + 1)
      .when(s0 * s0 > x, s0 - 1)
      .otherwise(s0)
  }

  /** Temperature-weighted mixture sampling at α = 1/2 — the
    * multilingual rebalancing discipline of mT5 / XLM-R (sample
    * stratum s with probability ∝ n_s^α so low-resource strata are
    * up-weighted relative to their natural share): per-stratum
    * keep-rate `keep_ppm_s = ⌊√(10¹²·n_min / n_s)⌋`, i.e.
    * (n_min/n_s)^(1-α) scaled to parts-per-million and normalized so
    * the SMALLEST stratum keeps everything — the standard way to
    * realize α-sampling by thinning instead of replication. α is
    * fixed at 1/2 because it is the one temperature whose power is
    * integer-exact (isqrt); the ratio 10¹²·n_min/n_s rides
    * DECIMAL(38,0) through the multiply (n_min can exceed 9·10⁶ at
    * corpus scale) and is ≤ 10¹² after the divide, inside [[isqrt]]'s
    * exact range. Membership is then the usual deterministic
    * scrambled-hash draw: doc kept iff rank mod 10⁶ < keep_ppm.
    *
    * Output: one audit row per stratum — (stratum, n_docs, keep_ppm,
    * n_kept) — the mixture designer's before/after table.
    *
    * 100 TB shape: stratum counts are one hash aggregate to a
    * |strata|-row frame; n_min is a scalar broadcast back onto it;
    * the keep decision joins docs to that broadcast frame and
    * filters — a pure map over the corpus, no data-sized shuffle
    * anywhere (the final audit aggregate is keyed on the stratum).
    */
  def mixtureTemperature(df: DataFrame, strataCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"))
    val nMin = counts.agg(min(col("n_docs")).as("n_min"))
    val rates = counts.crossJoin(broadcast(nMin))
      .withColumn("ratio", expr(
        "CAST((CAST(1000000000000 AS DECIMAL(38,0)) * n_min)" +
          " div n_docs AS BIGINT)"))
      .withColumn("keep_ppm", isqrt(col("ratio")))
      .select(col(strataCol), col("n_docs"), col("keep_ppm"))
    // kept counts LEFT-joined back onto the rates frame: a stratum
    // whose deterministic draw keeps zero docs still emits its audit
    // row with n_kept = 0 — "one row per stratum" is the contract,
    // and a silently vanished stratum is exactly what the audit
    // exists to catch
    val kept = df.select(col(idCol), col(strataCol))
      .join(broadcast(rates), Seq(strataCol))
      .filter(scrambledRank(col(idCol)) % lit(1000000L) < col("keep_ppm"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("_n_kept"))
    rates.join(kept, Seq(strataCol), "left")
      .select(col(strataCol), col("n_docs"), col("keep_ppm"),
        coalesce(col("_n_kept"), lit(0L)).as("n_kept"))
  }

  /** Length-grouped batch assembly with padding-waste accounting —
    * the fixed-shape-batch discipline (HF `LengthGroupedSampler`,
    * Megatron sorted batching): group docs into token-length BANDS so
    * batch-mates have similar lengths, shuffle WITHIN the band by the
    * deterministic scrambled rank (the epoch shuffle, rerun-stable),
    * and cut consecutive runs of `batchSize` docs into batches. Each
    * batch pads every member to its own max length; the audit row
    * reports the padding tax that banding is there to minimize:
    * `waste_ppm = 10⁶·(padded − Σlen) div padded`.
    *
    * Output: one row per (band, batch) — (band, batch, n_docs,
    * max_len, sum_len, waste_ppm).
    *
    * 100 TB shape: one shuffle on the band key (bounded cardinality),
    * a within-band window for the running position, then a hash
    * aggregate at batch grain — no global sort; the band width caps
    * worst-case waste at `bandWidth/maxLen` regardless of corpus
    * size, so the audit stays meaningful at any scale.
    */
  def lengthBatches(df: DataFrame, nTokensCol: Column,
      batchSize: Int = 8, bandWidth: Long = 16L,
      idCol: String = "doc_id"): DataFrame = {
    require(batchSize > 0 && bandWidth > 0)
    val d = df.select(col(idCol), nTokensCol.cast("long").as("n_tokens"))
      .withColumn("band", expr(s"n_tokens div $bandWidth"))
    val w = Window.partitionBy(col("band"))
      .orderBy(scrambledRank(col(idCol)), col(idCol))
    d.withColumn("_rn", row_number().over(w))
      .withColumn("batch", expr(s"(_rn - 1) div $batchSize"))
      .groupBy(col("band"), col("batch"))
      .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("max_len"),
        sum(col("n_tokens")).as("sum_len"))
      .withColumn("waste_ppm",
        when(col("n_docs") * col("max_len") === 0, 0L)
          .otherwise(expr("(1000000 * (n_docs * max_len - sum_len))" +
            " div (n_docs * max_len)")))
  }

  /** Uniformity self-test of the scrambled-bucket machinery — the QA
    * row proving the hash every sampler in this module rides is fit
    * for purpose ON THIS CORPUS (the scramble exists because raw sdbm
    * mod 100 measurably was NOT — see [[bucket]]'s scaladoc): χ²
    * goodness-of-fit of the 100-bucket histogram against uniform,
    * exact micro-units via the fraction-cleared identity
    * `Σ(100·oᵢ − n)² div (100·n·10⁻⁶)` — squares ride DECIMAL(38,0).
    * The flag compares against the α = 0.05 critical value for
    * 99 df (123.225).
    *
    * Output: 1 row — (n_rows, n_buckets, chi2_micro, uniform_ok).
    *
    * 100 TB shape: one 100-ary hash aggregate + scalar arithmetic.
    */
  def bucketUniformity(df: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    // FULL 0..99 spine: an empty bucket is (0−e)²/e of evidence
    // AGAINST uniformity, not absence of data (the cramersV zero-cell
    // rule) — observed-only grouping would understate χ²
    val h = df.sparkSession.range(100).select(col("id").as("b"))
      .join(df.select(bucket(col(idCol)).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("o0")), Seq("b"), "left")
      .select(col("b"), coalesce(col("o0"), lit(0L)).as("o"))
    val n = h.agg(sum(col("o")).as("n"))
    h.crossJoin(broadcast(n))
      .select(col("n"),
        (d(lit(100L) * col("o") - col("n")) *
          d(lit(100L) * col("o") - col("n"))).as("d2"))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("n_buckets"),
        // empty corpus: n = 0 makes the divisor zero — Spark's
        // non-ANSI div would return NULL while DuckDB's // errors, so
        // the guard makes "no data → no verdict" explicit and
        // engine-identical (chi2 and the flag both NULL)
        expr("CAST(CASE WHEN n = 0 THEN NULL" +
          " ELSE (1000000 * sum(d2)) div (100 * n) END AS BIGINT)")
          .as("chi2_micro"))
      .select(col("n").as("n_rows"), col("n_buckets"), col("chi2_micro"),
        (col("chi2_micro") < 123225000L).as("uniform_ok"))
  }

  /** One-pass Poisson bootstrap (Chamandy 2012; Efron 1979's
    * resample weights ≈ Poisson(1) at corpus scale) — the
    * uncertainty estimator that works on data too large to resample
    * by copying: every row gets an integer weight per replicate drawn
    * from Poisson(1), each replicate's weighted mean is computed in
    * the same single pass, and the spread of the replicate means IS
    * the bootstrap variance. Weights are deterministic: replicate r's
    * draw for a row is the MINSTD-scrambled sdbm hash SEEDED with r,
    * reduced mod 10⁴ and looked up against the correctly-truncated
    * Poisson(1) CDF [[poisson1Cdf1e4]]
    * (3678/7357/9196/9810/9963/9994/9999 → weights 0–7) — rerun- and
    * partitioning-stable, identical in the SQL twin. Replicate means
    * are milli-unit truncating divisions;
    * the across-replicate variance uses the exact scaled identity
    * (B·Σm² − (Σm)²) div B².
    *
    * Output: one row per stratum — (stratum, n_rows, est_milli
    * [full-sample mean], boot_var_milli2 [variance of the B replicate
    * means, milli²]).
    *
    * 100 TB shape: the replicate dimension is a constant-B explode
    * (no shuffle), then ONE hash aggregate at (stratum, replicate)
    * grain and one at stratum grain — the corpus is scanned once, and
    * no replicate ever materializes as copied rows.
    */
  def poissonBootstrap(df: DataFrame, strataCol: String,
      valueCol: String, b: Int = 8,
      idCol: String = "doc_id"): DataFrame = {
    require(b >= 2, "variance needs at least two replicates")
    val u = {
      val h = sdbm_hash(col("r"), col(idCol).cast("string"))
      pmod(pmod(h, lit(2147483647L)) * lit(48271L), lit(2147483647L)) %
        lit(10000L)
    }
    val weight = poisson1Weight(u)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val rep = df
      .select(col(strataCol), col(idCol), col(valueCol).as("v"),
        explode(sequence(lit(0L), lit(b - 1L))).as("r"))
      .select(col(strataCol), col("v"), col("r"), weight.as("w"))
      .groupBy(col(strataCol), col("r"))
      .agg(sum(d(col("w")) * d(col("v"))).as("wv"),
        sum(col("w")).as("sw"))
      .select(col(strataCol),
        expr("CAST(CASE WHEN sw = 0 THEN 0" +
          " ELSE (1000 * wv) div sw END AS BIGINT)").as("m"))
    val boot = rep.groupBy(col(strataCol))
      .agg(count(lit(1)).as("nb"), sum(d(col("m"))).as("sm"),
        sum(d(col("m")) * d(col("m"))).as("sm2"))
      .select(col(strataCol), expr(
        "CAST((nb * sm2 - sm * sm) div (nb * nb) AS BIGINT)")
        .as("boot_var_milli2"))
    val full = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_rows"),
        expr(s"CAST((1000 * sum(CAST($valueCol AS DECIMAL(38,0))))" +
          " div count(1) AS BIGINT)").as("est_milli"))
    full.join(boot, Seq(strataCol))
  }

  /** Neyman-optimal stratified allocation (Neyman 1934) — given a
    * total budget of `k` samples, how many to draw from each stratum
    * to minimize the variance of the estimated mean: n_h ∝ N_h·S_h
    * (stratum size × stratum standard deviation; big AND noisy strata
    * get more). The weight is computed EXACTLY without ever forming
    * S_h: N_h·S_h = √(N_h·Σv² − (Σv)²) — the radicand is the scaled
    * population variance identity, integer-exact in DECIMAL(38,0),
    * and the root is [[isqrt]] (exact while the radicand < 2⁵², i.e.
    * N_h·Σv² < 4.5·10¹⁵ — e.g. 10⁶ rows of values up to ~6·10⁴;
    * beyond that, pre-scale v). Allocations are the truncating
    * proportional split `(k·w_h) div Σw` — ≤ k total, remainder
    * unassigned by design (the caller tops up deterministically).
    *
    * Output: (stratum, n_rows, w, alloc), one row per stratum.
    *
    * 100 TB shape: one hash aggregate to |strata| rows (sums and
    * sum-of-squares are the only corpus-grain work, map-side
    * combined), then scalar arithmetic on the broadcast total.
    */
  def neymanAllocation(df: DataFrame, strataCol: String,
      valueCol: String, k: Long): DataFrame = {
    require(k > 0)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val per = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(d(col(valueCol))).as("sv"),
        sum(d(col(valueCol)) * d(col(valueCol))).as("sv2"))
      .select(col(strataCol), col("n_rows"),
        isqrt(expr("CAST(n_rows * sv2 - sv * sv AS BIGINT)")).as("w"))
    val tot = per.agg(sum(col("w")).as("wt"))
    per.crossJoin(broadcast(tot))
      .select(col(strataCol), col("n_rows"), col("w"),
        when(col("wt") === 0, 0L)
          .otherwise(expr(s"($k * w) div wt")).as("alloc"))
  }

  /** APPLY the Neyman plan — draw exactly `alloc_h` docs from each
    * stratum ([[neymanAllocation]]'s truncating split of budget `k`),
    * membership chosen by the same deterministic scrambled-hash rank
    * as [[fixedKStratified]] (rerun- and partitioning-stable). This
    * completes the design→draw story: the allocation row says how
    * many, this emits WHICH.
    *
    * Output: (stratum, doc_id) of the drawn sample.
    *
    * 100 TB shape: the allocation is a |strata|-row broadcast; the
    * rank is one window shuffle on the stratum key. Unlike
    * [[fixedKStratified]]'s constant k, a data-dependent quota can't
    * compile to WindowGroupLimit pre-truncation (the limit isn't a
    * literal), so the stratum shuffle carries the corpus once — the
    * unavoidable cost of variance-optimal quotas.
    */
  def neymanApply(df: DataFrame, strataCol: String, valueCol: String,
      k: Long, idCol: String = "doc_id"): DataFrame = {
    val alloc = neymanAllocation(df, strataCol, valueCol, k)
      .select(col(strataCol), col("alloc"))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(scrambledRank(col(idCol)), col(idCol))
    df.select(col(strataCol), col(idCol))
      .withColumn("_rk", row_number().over(w))
      .join(broadcast(alloc), Seq(strataCol))
      .filter(col("_rk") <= col("alloc"))
      .select(col(strataCol), col(idCol))
  }

  /** Deterministic round-robin interleave of strata into one training
    * order — the data-ordering op that keeps every mini-batch
    * source-mixed instead of feeding long single-source runs (order
    * sensitivity is a known pretraining failure mode). Within each
    * stratum, docs take their scrambled-hash epoch order; stratum
    * s's i-th doc lands at global position (i−1)·S + idx(s), where
    * idx is the stratum's rank in lexicographic order — exact
    * round-robin while strata remain populated, with arithmetic-only
    * positions (no global coordination).
    *
    * Output: the head of the interleaved order — (pos, stratum,
    * doc_id), first `limit` positions.
    *
    * 100 TB shape: one window per stratum for the within-stratum
    * rank (keyed shuffle), one |strata|-row broadcast for idx, and a
    * TakeOrderedAndProject for the head — no global sort of the
    * corpus.
    */
  def interleave(df: DataFrame, strataCol: String,
      idCol: String = "doc_id", limit: Int = 60): DataFrame = {
    require(limit > 0)
    val sidx = df.select(col(strataCol)).distinct()
      .withColumn("_sidx", row_number().over(
        Window.orderBy(col(strataCol))))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(scrambledRank(col(idCol)), col(idCol))
    val ranked = df.select(col(strataCol), col(idCol))
      .withColumn("_rk", row_number().over(w))
      .join(broadcast(sidx), Seq(strataCol))
    // |strata|-sized frame -> scalar (the documented collect grain)
    val s = sidx.count()
    ranked
      .select(
        ((col("_rk") - 1) * lit(s) + col("_sidx") - 1).as("pos"),
        col(strataCol), col(idCol))
      .orderBy(col("pos"))
      .limit(limit)
  }

  /** Per-stratum deterministic fixed-size sample: exactly `k` rows
    * from EACH stratum (fewer only where a stratum is smaller) — the
    * standard corpus-construction ask ("k docs per source"), chosen
    * per stratum by the same scrambled-hash rank as [[fixedK]] so
    * membership is rerun- and partitioning-stable.
    *
    * One shuffle, on the stratum key. The rank-limit filter compiles
    * to Spark's WindowGroupLimit: each map task pre-truncates its
    * partition to k candidates per stratum BEFORE the shuffle, so the
    * exchanged volume is ~k·|strata| rows, not the corpus — the reason
    * this survives 100 TB with a handful of strata.
    */
  def fixedKStratified(df: DataFrame, k: Int, strataCol: String,
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "sample size must be positive")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(scrambledRank(col(idCol)), col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Purged temporal train/test split with an embargo gap (the
    * time-series-CV discipline of López de Prado 2018, ch. 7: when
    * examples are ordered in time, a random split leaks the future
    * into training — split by TIME, and drop an embargo window after
    * the boundary so label horizons spanning it can't leak either).
    *
    * The boundary is derived from the data's own day span
    * (`t0 = dmin + span·trainPct div 100`, all integer), so the split
    * is deterministic and rerun-stable without configuration dates.
    * Returns one audit row per split — (split, n_events, n_users,
    * min_day, max_day, leak_users) — where `leak_users` (constant
    * across rows) counts users active in BOTH train and test: the
    * identity-level overlap a user-grouped split would eliminate,
    * reported so the pipeline owner chooses time-pure vs user-pure.
    *
    * Scale shape: the day-bounds frame is one scalar aggregate
    * broadcast back (1 row); assignment is then a pure map, the audit
    * one hash aggregate per split, and the leak count one
    * distinct-user semi-join — no global sort anywhere.
    */
  def timeSplitAudit(events: DataFrame, trainPct: Int = 70,
      embargoDays: Int = 2): DataFrame = {
    require(trainPct > 0 && trainPct < 100, "trainPct must be in (0,100)")
    require(embargoDays >= 0)
    val days = events.select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"))
    val bounds = days.agg(min(col("day")).as("dmin"),
      max(col("day")).as("dmax"))
    val assigned = days.crossJoin(broadcast(bounds))
      .withColumn("t0",
        expr(s"dmin + ((dmax - dmin + 1) * $trainPct) div 100"))
      .withColumn("split",
        when(col("day") < col("t0"), "train")
          .when(col("day") < col("t0") + embargoDays, "embargo")
          .otherwise("test"))
    val per = assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"))
    val leak = assigned.filter(col("split") === "train")
      .select(col("user_id")).distinct()
      .join(assigned.filter(col("split") === "test")
        .select(col("user_id")).distinct(), Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("leak_users"))
    per.crossJoin(broadcast(leak))
  }

  /** Add a deterministic `split` column: `train` / `val` / `test` by
    * bucket thresholds (trainPct / valPct / remainder, in percent).
    */
  def hashSplit(df: DataFrame, idCol: String = "doc_id",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      "percentages must be non-negative and sum to at most 100")
    val b = bucket(col(idCol))
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Leakage-free split: near-duplicate documents must never straddle
    * a train/val/test boundary, or the held-out set is contaminated by
    * paraphrases of training rows and eval scores inflate. Each doc is
    * assigned the split of its near-dup CLUSTER — the connected-
    * components root over the candidate pair graph ([[Dedup.clusters]])
    * — hashed with the same scrambled-bucket scheme as [[hashSplit]];
    * docs in no pair are their own singleton cluster. Whole clusters
    * move together, so membership is rerun-stable and boundary-safe by
    * construction. Output adds `split_key` (the hashed cluster root)
    * next to `split` so the grouping is auditable.
    *
    * 100 TB shape: the pair graph is the (already bucketed) near-dup
    * candidate output, clusters run bounded label-propagation rounds,
    * and the final assignment is one broadcast-or-shuffle join on the
    * cluster map — no new quadratic stage.
    */
  def splitByCluster(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      "percentages must be non-negative and sum to at most 100")
    val cl = graft.operators.Dedup.clusters(pairs)
      .select(col("doc_id").as(idCol), col("cluster_id"))
    val keyed = docs.join(cl, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col(idCol)))
      .drop("cluster_id")
    val b = bucket(col("split_key"))
    keyed.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Weighted down-sampling to a target stratum mixture: a row in
    * stratum s survives with probability `weights(s)` (default for
    * unlisted strata) — deterministically, via its bucket. Weight 0
    * drops the stratum entirely; 1 keeps it whole.
    */
  def mixture(df: DataFrame, strataCol: String,
      weights: Map[String, Double], default: Double = 1.0,
      idCol: String = "doc_id", nBuckets: Int = 100): DataFrame = {
    require((weights.values ++ Seq(default)).forall(w => w >= 0 && w <= 1),
      "weights must be in [0,1]")
    val w = weights.foldLeft(lit(default)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(bucket(col(idCol), nBuckets).cast("double") < w * nBuckets)
  }

  /** Mixture with UP-sampling: weights may exceed 1 — a stratum with
    * weight 2.5 emits every row twice plus a deterministic half of
    * the rows a third time (`floor(w)` whole copies + one more where
    * the row's bucket clears the fractional threshold). Adds a `copy`
    * column (1-based) so downstream stages can vary per-copy seeds
    * (e.g. augmentation). Weight 0 drops the stratum; fractional
    * weights below 1 reduce to [[mixture]] semantics with the same
    * bucket decisions.
    *
    * Guard note: `sequence(1, 0)` in Spark counts DOWN instead of
    * returning empty, so zero-copy rows take an explicit empty array
    * (explode then drops them).
    */
  def mixtureUpsampled(df: DataFrame, strataCol: String,
      weights: Map[String, Double], default: Double = 1.0,
      idCol: String = "doc_id", nBuckets: Int = 100): DataFrame = {
    require((weights.values ++ Seq(default)).forall(w => w >= 0 && w <= 100),
      "weights must be in [0,100]")
    val w = weights.foldLeft(lit(default)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    val whole = floor(w).cast("long")
    val copies = whole + when(
      bucket(col(idCol), nBuckets).cast("double") < (w - floor(w)) * nBuckets,
      lit(1L)).otherwise(lit(0L))
    df.withColumn("copy", explode(
      when(copies >= 1L, sequence(lit(1L), copies))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** Token-budget selection: within each stratum, keep documents in
    * stable (bucket, id) order until the cumulative token count would
    * exceed `budget` (the first overflowing document is excluded).
    * Adds the running `cum_tokens` so downstream can audit the cut.
    */
  def tokenBudget(df: DataFrame, tokensCol: Column, budget: Long,
      strataCol: String, idCol: String = "doc_id"): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(bucket(col(idCol)), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(tokensCol).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Contiguous sequence packing ("concat and chop" — how packed
    * pretraining batches are actually laid out): within each of
    * `nShards` deterministic hash shards, documents in id order form
    * one token stream chopped every `budget` tokens; each document
    * records the training sequence (`bin`) where it starts and its
    * token `offset` within that sequence.
    *
    * Sharding makes this scale: one global pack order would funnel
    * the corpus through a single window partition; per-shard packing
    * keeps the window's shuffle at `nShards`-way parallelism and
    * yields independently consumable shard streams (the standard
    * data-parallel reader layout). nShards must divide the bucket
    * space so shards stay uniform.
    *
    * One shuffle total (the per-shard window); everything else is the
    * narrow codegen'd token count.
    */
  /** Shared packing prelude for [[packSequences]]/[[packedText]]: the
    * (shard, n_tokens, cum, bin) assignment — ONE definition so the
    * metadata and materialized-text views of the same sequences can
    * never drift apart. `extraCols` pass through untouched.
    */
  private def packed(docs: DataFrame, tokensCol: Column, budget: Long,
      nShards: Int, idCol: String, extraCols: Seq[String]): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(nShards > 0 && 100 % nShards == 0,
      "nShards must divide the 100-bucket space for uniform shards")
    val shard = (bucket(col(idCol)) % nShards).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol) +: extraCols.map(col) ++: Seq(
        shard.as("shard"), tokensCol.as("n_tokens")): _*)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // integral `div`, not double division: cum passes 2^53 long
      // before a corpus passes 9 PB of tokens, and double division
      // would silently drift the bin there (same posture as
      // Profile.histogram).
      .withColumn("bin",
        idiv(col("cum") - col("n_tokens"),
          lit(budget)))
  }

  def packSequences(docs: DataFrame, tokensCol: Column, budget: Long,
      nShards: Int = 10, idCol: String = "doc_id"): DataFrame = {
    val startTok = col("cum") - col("n_tokens")
    packed(docs, tokensCol, budget, nShards, idCol, Nil)
      .select(col(idCol), col("shard"), col("n_tokens"), col("bin"),
        pmod(startTok, lit(budget)).as("offset"))
  }

  /** Materialize the packed sequences of [[packSequences]]: one row
    * per (shard, bin) with the member documents' text joined in id
    * order — the frame a training-data writer actually serializes.
    * Ordering inside the aggregated row is made deterministic by
    * sorting the collected (id, text) structs, not by relying on
    * collect order. Adds one groupBy shuffle on (shard, bin) after
    * the packing window.
    */
  def packedText(docs: DataFrame, tokensCol: Column, budget: Long,
      nShards: Int = 10, idCol: String = "doc_id",
      textCol: String = "text", sep: String = " "): DataFrame =
    packed(docs, tokensCol, budget, nShards, idCol, Seq(textCol))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col(idCol), col(textCol)))),
          x => x.getField(textCol)), sep).as("text"))

  /** Greedy maximum-coverage document selection — the submodular
    * curation selector (Nemhauser et al. 1978's (1−1/e) greedy):
    * repeatedly pick the document covering the most word-3-grams NOT
    * yet covered by the chosen set. The lexical-diversity counterpart
    * to the embedding-space coreset ([[Similarity.farthestPointSample]]):
    * that one spreads the sample geometrically, this one maximizes
    * vocabulary/recipe coverage — the instruction-data dedup-by-
    * coverage pattern. Deterministic: gain ties break to the smallest
    * doc id.
    *
    * Scale shape per round: uncovered gram counts are ONE anti-join
    * of the gram frame against the covered-gram frame (gram-keyed
    * shuffle; covered grows by ≤ one doc's grams per round) + one
    * doc-keyed count; the only driver data is the 1-row argmax. k
    * rounds total — k·(gram-frame) work, never pairwise. Lineage cut
    * per round.
    *
    * Output: (rank, doc_id, gain) — gain = newly covered grams at
    * selection time.
    */
  def greedyCoverage(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1)
    // NOT pre-partitioned on doc_id, deliberately (r20 measured both
    // spellings): the per-round groupBy(doc_id) exchange looks
    // removable by pinning the frame hash-partitioned on doc_id, but
    // neither pin carries the partitioning contract under AQE — a
    // localCheckpoint's LogicalRDD reports UnknownPartitioning(0) and
    // a persisted InMemoryRelation wraps an unexecuted
    // AdaptiveSparkPlan that does the same — so the round exchanges
    // survived in the captured plans and the builds only added their
    // own exchange (subset bench 3.4 s -> 4.1 s for the persist
    // spelling; interleaved A/B a wash). The k round shuffles of the
    // deduped gram frame are the honest cost here.
    val g = pin("greedyCoverage grams", docs.select(col("doc_id"),
        explode(graft.functions.word_shingles(
          Dedup.tokens(col("text")), 3)).as("g"))
      .distinct())
    // accumulator shape DELIBERATE (r19 optimization round measured
    // the alternative): deriving covered per round from the pinned g
    // (filter picked + distinct) re-scans the 490k-row gram frame
    // twice per round and re-shuffles the distinct — median 3.12 s vs
    // 2.41 s for this accumulate-and-checkpoint shape (the covered
    // frame is ≤ k docs' grams, so each checkpoint is a tiny job and
    // the anti-join's right side stays broadcast-sized).
    var covered = pin("greedyCoverage covered", g.sparkSession.emptyDataFrame
      .withColumn("g", lit("")).select(col("g")).limit(0))
    var picked = Vector.empty[(Long, Long)]
    for (r <- 1 to k) {
      val gains = g
        .filter(!col("doc_id")
          .isInCollection(picked.map(_._1) :+ -1L))
        .join(covered, Seq("g"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
      val top = gains
        .agg(max(struct(col("gain"), (-col("doc_id")).as("ni"))))
        .head().getStruct(0)
      if (top == null) {
        // every remaining doc adds zero new grams — coverage saturated
        return toPickedDf(docs.sparkSession, picked)
      }
      val id = -top.getLong(1)
      picked = picked :+ (id, top.getLong(0))
      covered = pin(s"greedyCoverage round $r covered", covered
        .unionByName(g.filter(col("doc_id") === id).select(col("g")))
        .distinct())
    }
    toPickedDf(docs.sparkSession, picked)
  }

  private def toPickedDf(spark: org.apache.spark.sql.SparkSession,
      picked: Vector[(Long, Long)]): DataFrame = {
    import spark.implicits._
    picked.zipWithIndex
      .map { case ((id, gain), i) => ((i + 1).toLong, id, gain) }
      .toDF("rank", "doc_id", "gain")
  }

  /** Histogram-matching rejection sampler — the CCNet
    * keep-probability move generalized: reshape the SOURCE split's
    * length distribution (even doc_ids) to the REFERENCE split's
    * (odd doc_ids) by per-bucket deterministic rejection. Importance
    * weight w_b = (ref share) / (src share) in bp, normalized so the
    * largest bucket keeps everything; a doc survives iff its
    * scrambled-hash bucket (10⁴ grain, the [[bucket]] machinery)
    * falls under the bucket's keep probability — deterministic,
    * shuffle-free rejection, same sdbm twin as sample_mixture.
    *
    * Output per length bucket: src/ref counts, raw weight, keep
    * probability, and the kept count — the audit frame for the
    * resample decision. The weight numerator ref_n·n_src·10⁴ is N²
    * scale (10²⁸ past int64 at 100 TB doc counts), so it rides
    * DECIMAL(38,0)/HUGEINT; the normalized p_bp ≤ 10⁴ comes back to
    * int64. All operands non-negative. Buckets with zero source mass
    * are dropped (nothing to keep) — the reference tail the source
    * lacks cannot be conjured by rejection.
    *
    * Scale shape: one bucket-grain histogram (bounded cardinality),
    * two 1-row broadcasts (totals, max weight), one broadcast join
    * back to doc grain for the kept census.
    */
  def matchDistribution(docs: DataFrame,
      bucketWidth: Long = 100L, keepGrain: Int = 10000): DataFrame = {
    // keepGrain is BOTH the scrambled-hash bucket grain and the
    // keep-probability scale — p = w·grain div max_w compared against
    // bucket(id, grain) — so the kept fraction is p/grain for any
    // grain; decoupling the two literals would silently skew the
    // rejection rate (r16 ADVICE: hoisted to a caller-shared constant)
    require(bucketWidth >= 1 && keepGrain >= 1)
    val base = docs.select(col("doc_id"), col("n_chars"),
      pmod(col("doc_id"), lit(2L)).as("h"),
      idiv(col("n_chars"), lit(bucketWidth)).as("b"))
    val hist = base.groupBy(col("b")).agg(
      sum(when(col("h") === 0L, 1L).otherwise(0L)).as("src_n"),
      sum(when(col("h") === 1L, 1L).otherwise(0L)).as("ref_n"))
    // totals over the UNFILTERED histogram: reference mass in buckets
    // the source lacks still belongs in n_ref, or the reported w_bp
    // silently inflates (r16 self-review); the src-empty buckets
    // themselves drop AFTER — rejection cannot conjure them
    val tot = hist.agg(
      greatest(sum(col("src_n")), lit(1L)).as("n_src"),
      greatest(sum(col("ref_n")), lit(1L)).as("n_ref"))
    val w = hist.filter(col("src_n") > 0).crossJoin(broadcast(tot))
      .select(col("b"), col("src_n"), col("ref_n"),
        idiv(col("ref_n").cast(Dec38) * col("n_src").cast(Dec38) *
          lit(10000L).cast(Dec38),
          col("src_n").cast(Dec38) * col("n_ref").cast(Dec38))
          .cast("long").as("w_bp"))
    val mx = w.agg(greatest(max(col("w_bp")), lit(1L)).as("max_w"))
    val p = w.crossJoin(broadcast(mx))
      .withColumn("p_bp",
        idiv(col("w_bp").cast(Dec38) * lit(keepGrain.toLong).cast(Dec38),
          col("max_w").cast(Dec38)).cast("long"))
    val kept = base.filter(col("h") === 0L)
      .join(broadcast(p.select(col("b"), col("p_bp"))), Seq("b"))
      .filter(bucket(col("doc_id"), keepGrain) < col("p_bp"))
      .groupBy(col("b")).agg(count(lit(1)).as("kept_n"))
    p.join(kept, Seq("b"), "left")
      .select(col("b"), col("src_n"), col("ref_n"), col("w_bp"),
        col("p_bp"), coalesce(col("kept_n"), lit(0L)).as("kept_n"))
      .orderBy(col("b"))
  }

  /** Truncation-loss audit for a fixed max sequence length — the
    * truncate-vs-pack decision row: per source, how many tokens a
    * hard cut at `maxLen` would discard and how many docs it touches.
    * One source-keyed aggregate over the space-count tokenizer; all
    * operands non-negative; a zero-token source yields NULL loss (the
    * bucketUniformity convention).
    */
  def truncationLoss(docs: DataFrame, maxLen: Long = 128L,
      srcCol: String = "source"): DataFrame = {
    require(maxLen >= 1)
    docs.select(col(srcCol).as("source"),
        TextStats.nTokens(col("text")).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(least(col("nt"), lit(maxLen))).as("tokens_kept"),
        sum(when(col("nt") > maxLen, 1L).otherwise(0L)).as("n_truncated"))
      .withColumn("lost_bp",
        when(col("n_tokens") === 0L, lit(null).cast("long"))
          .otherwise(idiv(
            lit(10000L) * (col("n_tokens") - col("tokens_kept")),
            col("n_tokens"))))
      .orderBy(col("source"))
  }

  /** Source-concentration readout for the mixture planner: each
    * domain's token share (ppm), the Herfindahl–Hirschman index of
    * the corpus token mass, and the effective number of domains
    * 1/HHI (centi) — the is-one-domain-dominating health check run
    * before committing to mixture weights. Exact integers: share ≤
    * 10⁶ so share² ≤ 10¹² and the HHI sum stays deep inside int64
    * for any domain count; all operands non-negative. One
    * source-keyed aggregate + one bounded 1-row broadcast.
    */
  def sourceConcentration(docs: DataFrame,
      srcCol: String = "source"): DataFrame = {
    val perSrc = docs
      .select(col(srcCol).as("source"),
        TextStats.nTokens(col("text")).as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("tokens"))
    val tot = perSrc.agg(greatest(sum(col("tokens")), lit(1L)).as("t"))
    val shares = perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        idiv(lit(1000000L) * col("tokens"), col("t")).as("share_ppm"))
    val hhi = shares.agg(
      idiv(sum(col("share_ppm") * col("share_ppm")), lit(1000000L))
        .as("hhi_ppm"))
      .withColumn("eff_domains_c",
        idiv(lit(100000000L), greatest(col("hhi_ppm"), lit(1L))))
    shares.crossJoin(broadcast(hhi)).orderBy(col("source"))
  }

  /** Domain-mixture epoch plan (the DoReMi/Pile recipe table): given
    * target mixture weights per source and a token budget expressed
    * as a rational multiple of the corpus total, how many tokens each
    * domain contributes and how many EPOCHS of it that implies —
    * epochs_bp > 10⁴ means the domain repeats (upsampling), < 10⁴
    * means it is subsampled. tokens_target_d = B·w_d div Σw over the
    * sources actually present; token counts use the space-count
    * tokenizer ([[TextStats.nTokens]]).
    *
    * Scale shape: one source-keyed hash aggregate over a narrow
    * projection, then two bounded 1-row broadcasts (Σw and B) onto
    * the ≤|sources| frame. The B·w_d and Σtokens·budgetNum products
    * ride DECIMAL(38,0): weights and budget multipliers are
    * caller-supplied, so the bp-scale 2.5e17 headroom bound does not
    * survive a large w_bp or budgetNum under non-ANSI int64 (r16
    * ADVICE); the per-source targets divided back down fit int64 for
    * any corpus whose token count does. All operands non-negative.
    */
  def mixtureEpochs(docs: DataFrame, srcCol: String = "source",
      weightsBp: Map[String, Long] = Map.empty,
      defaultBp: Long = 10000L,
      budgetNum: Long = 2L, budgetDen: Long = 1L): DataFrame = {
    require(defaultBp >= 0 && budgetNum >= 1 && budgetDen >= 1 &&
      weightsBp.values.forall(_ >= 0))
    val w = weightsBp.foldLeft(lit(defaultBp)) { case (acc, (k, v)) =>
      when(col("source") === k, lit(v)).otherwise(acc)
    }
    val perSrc = docs
      .select(col(srcCol).as("source"),
        TextStats.nTokens(col("text")).as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("tokens_avail"))
      .withColumn("w_bp", w)
    val tot = perSrc.agg(
      greatest(sum(col("w_bp")), lit(1L)).as("wsum"),
      idiv(sum(col("tokens_avail")).cast(Dec38) *
        lit(budgetNum).cast(Dec38), lit(budgetDen).cast(Dec38))
        .as("budget"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("tokens_target",
        idiv(col("budget") * col("w_bp").cast(Dec38),
          col("wsum").cast(Dec38)).cast("long"))
      .withColumn("epochs_bp",
        when(col("tokens_avail") === 0L, lit(null).cast("long"))
          .otherwise(idiv(lit(10000L).cast(Dec38) *
            col("tokens_target").cast(Dec38),
            col("tokens_avail").cast(Dec38)).cast("long")))
      .select(col("source"), col("tokens_avail"), col("w_bp"),
        col("tokens_target"), col("epochs_bp"))
      .orderBy(col("source"))
  }

  /** One multiplicative-weights update of domain mixture weights —
    * the DoReMi step (Xie et al. 2023) with the Hedge/linear payoff
    * in exact integers: domains whose mean difficulty runs BELOW the
    * corpus mean (excess "loss") get upweighted
    *   factor_bp = 10⁴ + (η_bp · excess) div 10⁴
    *   w_raw     = (w_bp · factor_bp) div 10⁴
    * then the new shares are normalized to ppm and smoothed toward
    * uniform with mass ε (the DoReMi uniform-mixing guard that keeps
    * every domain sampled):
    *   w_ppm = ((10⁴ − ε_bp) · (10⁶·w_raw div Σraw)) div 10⁴
    *         + (10⁶·ε_bp) div (10⁴·k).
    * exp(ηℓ) is deliberately linearized — exp is not exactly rounded
    * in IEEE and the first-order MW update is the standard integer-
    * safe Hedge variant; per-round behavior is monotone-identical.
    * The difficulty proxy is [[graft.operators.TextStats.qualityCbp]]
    * (the same signal the curriculum and LR-distillation operators
    * ride): excess_d = max(0, corpusMean − domainMean), means in
    * truncate-toward-zero integer division on both engines (signed —
    * Layout.scala:232 precedent). Caller-supplied η and weights ride
    * DECIMAL(38,0) products (the mixtureEpochs rule: bp-scale
    * headroom arguments do not survive arbitrary caller inputs).
    * Σw_ppm lands within integer-rounding residue of 10⁶, not
    * exactly on it — it is a readout for the next round's weights,
    * not a partition function.
    *
    * Scale shape: ONE corpus scan to a domain-keyed aggregate, then
    * corpus totals derived from that ≤|domains| frame (never a second
    * scan) and two bounded 1-row broadcasts (corpus mean + k, Σraw).
    */
  def mixtureReweight(docs: DataFrame, srcCol: String = "source",
      weightsBp: Map[String, Long] = Map.empty,
      defaultBp: Long = 10000L, etaBp: Long = 10000L,
      epsBp: Long = 1000L): DataFrame = {
    require(defaultBp >= 0 && etaBp >= 0 && epsBp >= 0 &&
      epsBp <= 10000 && weightsBp.values.forall(_ >= 0))
    val w = weightsBp.foldLeft(lit(defaultBp)) { case (acc, (k, v)) =>
      when(col("source") === k, lit(v)).otherwise(acc)
    }
    val perSrc = docs
      .select(col(srcCol).as("source"),
        TextStats.qualityCbp(col("text")).as("q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q")).as("sq"))
      .withColumn("mean_q_cbp", idiv(col("sq"), col("n_docs")))
      .withColumn("w_bp", w)
    val corpus = perSrc.agg(
      idiv(sum(col("sq")), greatest(sum(col("n_docs")), lit(1L)))
        .as("cmean"),
      count(lit(1)).as("k"))
    val f = perSrc.crossJoin(broadcast(corpus))
      .withColumn("excess_cbp",
        greatest(col("cmean") - col("mean_q_cbp"), lit(0L)))
      .withColumn("factor_bp", lit(10000L) +
        idiv(lit(etaBp).cast(Dec38) * col("excess_cbp").cast(Dec38),
          lit(10000L).cast(Dec38)).cast("long"))
      .withColumn("w_raw",
        idiv(col("w_bp").cast(Dec38) * col("factor_bp").cast(Dec38),
          lit(10000L).cast(Dec38)).cast("long"))
    val tot = f.agg(greatest(sum(col("w_raw")), lit(1L)).as("sraw"))
    f.crossJoin(broadcast(tot))
      .withColumn("w_ppm",
        idiv(lit(10000L - epsBp).cast(Dec38) *
          idiv(lit(1000000L).cast(Dec38) * col("w_raw").cast(Dec38),
            col("sraw").cast(Dec38)),
          lit(10000L).cast(Dec38)).cast("long") +
        idiv(lit(1000000L * epsBp), lit(10000L) * col("k")))
      .select(col("source"), col("n_docs"), col("mean_q_cbp"),
        col("excess_cbp"), col("factor_bp"), col("w_ppm"))
      .orderBy(col("source"))
  }

  /** Curriculum-stage assignment at VALUE-BUCKET grain — the
    * easy-to-hard schedule (Bengio et al. 2009) a pre-training
    * pipeline orders its corpus by, made rank-free so it scales:
    * a doc's stage is floor(stages·cum/N) where cum counts docs in
    * strictly lower difficulty buckets ([[graft.operators.TextStats
    * .qualityCbp]] div `bucketWidth`, default 250 — shared with the
    * oracle twin via the registry constant, r16 ADVICE). No global
    * sort, no single-partition
    * window: the bucket census is cardinality-bounded (qualityCbp
    * spans ≲10⁶ → ≤ ~4000 buckets at any corpus size), its running
    * total is a broadcast inequality self-join over that bounded
    * frame, and docs pick up their stage through one more broadcast
    * hash join. Docs sharing a bucket share a stage, so stage masses
    * are equal only up to bucket granularity — the price of not
    * ranking 10¹¹ rows.
    *
    * Output: per stage (0..stages−1): n_docs, min/max difficulty,
    * total chars. The bucket idiv operand is signed (punct-heavy
    * docs have negative qualityCbp); both engines truncate toward
    * zero (verified — Layout.scala:232 precedent).
    */
  def curriculumStages(docs: DataFrame, stages: Int = 4,
      bucketWidth: Long = 250L): DataFrame = {
    require(stages >= 2 && bucketWidth >= 1)
    val b = docs.select(col("doc_id"), col("n_chars"),
        TextStats.qualityCbp(col("text")).as("q"))
      .withColumn("bkt", idiv(col("q"), lit(bucketWidth)))
    val bc = b.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
    val cum = bc.as("a")
      .join(broadcast(bc.select(col("bkt").as("lo_bkt"),
        col("c").as("lo_c"))), col("lo_bkt") < col("bkt"), "left")
      .groupBy(col("bkt"), col("c"))
      .agg(coalesce(sum(col("lo_c")), lit(0L)).as("cum"))
    val n = b.agg(count(lit(1)).as("n"))
    b.join(broadcast(cum.select(col("bkt"), col("cum"))), Seq("bkt"))
      .crossJoin(broadcast(n))
      .withColumn("stage", least(idiv(lit(stages.toLong) * col("cum"),
        greatest(col("n"), lit(1L))), lit((stages - 1).toLong)))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"), min(col("q")).as("min_q"),
        max(col("q")).as("max_q"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("stage"))
  }
}
