package graft

import graft.operators.{Events, Graph, Sampling, TextStats}
import graft.registry.{RegSqlA, RegSqlB}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the DECIMAL(38,0)/int64 "clearing-level" claims at their
  * CLAIMED magnitudes, not just at sf0.01 — round 12 proved one such
  * comment wrong (q_welch_ttest's combine overflowed at sf5-10 before
  * edb2661), so every remaining claim gets a synthetic max-magnitude
  * run through the EXACT engine-side expressions (the extracted
  * welchT2 / statsAgg / windowRatio / modularityTerms / acfFromDaily
  * bodies — the same code the registered queries execute), checked
  * against BigInt-exact replicas. Overflow cannot pass silently: the
  * session runs ANSI mode, so a DECIMAL(38,0) blow-through throws
  * (and would NULL in non-ANSI — the equality assertions catch that
  * too).
  *
  * Where a claim is about a 100-TB row count (sf100's n≈2e8/group,
  * 2e9 edges), the synthesis is MAGNITUDE-EQUIVALENT: fewer rows ×
  * larger values chosen so every intermediate decimal product meets
  * or exceeds the claimed worst-case magnitude — the overflow hazard
  * lives in the product magnitudes, not the row count itself (counts
  * are int64-safe by construction). Each test states the claimed
  * bound and the synthesized magnitude next to the assertion.
  */
class OverflowSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def bigToDouble(b: BigInt): Double =
    new java.math.BigDecimal(b.bigInteger).doubleValue

  test("welchT2 combine at the claimed sf100 magnitude: n=2e7/type, " +
      "x max 5.6e4 centi-units — aa/bb/cc exact decimals (~1e23), " +
      "double combine bit-matches the BigInt replica") {
    val N = 20000000L // 2e7 rows per type, the documented sf100 bound
    // type a: x in {56000, 28000} (values 560.00 / 280.00 — exact
    // doubles, so round(value*100) is deterministic); type b: {28000, 0}
    val events = spark.range(0, 2 * N)
      .select(
        when(pmod(col("id"), lit(2)) === 0, "a").otherwise("b")
          .as("event_type"),
        (when(pmod(col("id"), lit(4)) === 0, 56000L)
          .when(pmod(col("id"), lit(4)) === 2, 28000L)
          .when(pmod(col("id"), lit(4)) === 1, 28000L)
          .otherwise(0L).cast("double") / 100.0).as("value"))
    val row = RegSqlB.welchT2(events).head()
    // BigInt-exact sufficient statistics
    val h = BigInt(N / 2) // rows per (type, level)
    val sxA = h * 56000 + h * 28000
    val qxA = h * BigInt(56000) * 56000 + h * BigInt(28000) * 28000
    val sxB = h * 28000
    val qxB = h * BigInt(28000) * 28000
    val nA = BigInt(N); val nB = BigInt(N)
    val aa = sxA * nB - sxB * nA
    val bb = nA * qxA - sxA * sxA
    val cc = nB * qxB - sxB * sxB
    // the claim: aa/bb/cc stay inside DECIMAL(38,0) at this magnitude
    val lim = BigInt(10).pow(38)
    assert(aa.abs < lim && bb.abs < lim && cc.abs < lim)
    assert(aa > BigInt(Long.MaxValue), "synthesis must exceed int64")
    // engine vs replica: same left-assoc double combine
    val aaD = bigToDouble(aa); val bbD = bigToDouble(bb)
    val ccD = bigToDouble(cc)
    val num = aaD * aaD * (N - 1).toDouble * (N - 1).toDouble
    val den = bbD * (N - 1).toDouble * N.toDouble * N.toDouble +
      ccD * (N - 1).toDouble * N.toDouble * N.toDouble
    assert(row.getAs[Long]("n_a") == N && row.getAs[Long]("n_b") == N)
    assert(!row.isNullAt(row.fieldIndex("t2")),
      "NULL t2 = silent decimal overflow in the combine")
    assert(row.getAs[Double]("t2") == num / den)
    assert(row.getAs[Any]("mean_diff_centi").toString ==
      (aa / (nA * nB)).toString) // 28000 centi-units exactly
  }

  test("statsAgg sufficient statistics at magnitude-equivalent sf100 " +
      "worst case: decimal products to 2.1e37 (< 1e38), int64 sums " +
      "clear, doubles-of-exact-rationals bit-match") {
    val N = 20000000L // 2e7 rows, values ~10x fixture so products
    // REACH sf100's n=2e8 worst case (numI terms ~2.1e37 vs 1.1e37)
    // x in {5e6, 2.5e6} quantized units (qty 500.0000 / 250.0000);
    // y in {5.5e9, 1.1e9} (price 550000.0000 / 110000.0000)
    val li = spark.range(0, N).select(
      lit("A").as("l_returnflag"),
      when(pmod(col("id"), lit(2)) === 0, 500.0).otherwise(250.0)
        .as("l_quantity"),
      when(pmod(col("id"), lit(2)) === 0, 550000.0).otherwise(110000.0)
        .as("l_extendedprice"))
    val row = RegSqlA.statsAgg(li).head()
    val h = BigInt(N / 2)
    val x1 = BigInt(5000000); val x2 = BigInt(2500000)
    val y1 = BigInt("5500000000"); val y2 = BigInt("1100000000")
    val n = BigInt(N)
    val sx = h * x1 + h * x2; val sy = h * y1 + h * y2
    val sxy = h * x1 * y1 + h * x2 * y2
    val sxx = h * x1 * x1 + h * x2 * x2
    val syy = h * y1 * y1 + h * y2 * y2
    // int64 claims
    assert(sx <= BigInt(Long.MaxValue) && sy <= BigInt(Long.MaxValue))
    // decimal claims: the largest intermediates are numI's two
    // products — assert they exceed the sf100 bound AND clear 1e38
    val lim = BigInt(10).pow(38)
    val p1 = sy * sxx; val p2 = sx * sxy
    assert(p1.max(p2) > BigInt(10).pow(37), "must reach sf100 scale")
    assert(p1 < lim && p2 < lim)
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val deny = n * syy - sy * sy
    val numI = p1 - p2
    assert((n * sxy).max(n * sxx).max(n * syy).max(sx * sy)
      .max(sx * sx).max(sy * sy) < lim)
    assert(row.getAs[Long]("n") == N)
    assert(row.getAs[Long]("sx") == sx.toLong)
    assert(row.getAs[Long]("sy") == sy.toLong)
    assert(!row.isNullAt(row.fieldIndex("slope")) &&
      !row.isNullAt(row.fieldIndex("intercept")) &&
      !row.isNullAt(row.fieldIndex("r2")),
      "NULL statistic = silent decimal overflow upstream")
    assert(row.getAs[Double]("slope") ==
      bigToDouble(num) / bigToDouble(den))
    assert(row.getAs[Double]("intercept") ==
      bigToDouble(numI) / bigToDouble(den))
    assert(row.getAs[Double]("r2") ==
      bigToDouble(num) * bigToDouble(num) /
        (bigToDouble(den) * bigToDouble(deny)))
  }

  test("modularityTerms at the claimed 2e9-edge magnitude: m2=4e9, " +
      "d_c^2=1.6e19 overflows int64 and must ride DECIMAL(38,0); " +
      "floor division exact for negative terms") {
    import spark.implicits._
    // counts are int64-safe by construction; the clearing claim is
    // entirely in this post-aggregation arithmetic, so a constructed
    // aggregate frame at claimed magnitudes drives the exact exprs
    val m2 = 4000000000L // 2e9 edges symmetrized
    val rows = Seq(
      (1L, 1000L, 3900000000L, 4000000000L, m2), // negative term
      (2L, 1000L, 100000000L, 50000000L, m2)) // positive term
      .toDF("label", "n_nodes", "intra2", "deg_sum", "m2")
    val got = Graph.modularityTerms(rows)
      .select(col("label"), col("q_term_micro"))
      .collect().map(r => r.getLong(0) -> r.getAs[Any](1)).toMap
    def expected(intra2: Long, degSum: Long): BigInt = {
      val qn = BigInt(m2) * intra2 - BigInt(degSum) * degSum
      val qd = BigInt(m2) * m2
      assert(BigInt(degSum) * degSum > BigInt(Long.MaxValue) ||
        degSum < 1000000000L) // claim: d_c^2 exceeds int64 at 4e9
      assert((BigInt(1000000) * qn).abs < BigInt(10).pow(38))
      // floor division (the pmod spelling): toward -inf, not zero
      val (q, r) = (BigInt(1000000) * qn) /% qd
      if (r < 0) q - 1 else q
    }
    assert(got(1L).toString == expected(3900000000L, 4000000000L).toString)
    assert(got(2L).toString == expected(100000000L, 50000000L).toString)
    assert(expected(3900000000L, 4000000000L) < 0,
      "negative-term floor path must actually be exercised")
  }

  test("windowRatio at fixture-max x100 prices: 10000*cents and the " +
      "per-order int64 window sum clear with exact basis points") {
    import spark.implicits._
    // 7 lines (the fixture per-order max) at 1.1e7 dollars each:
    // cents 1.1e9, order_cents 7.7e9, 10000*cents 1.1e13 — all int64
    val li = (1 to 7).map(i => (1L, i.toLong, 11000000.0 + i))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
    val got = RegSqlA.windowRatio(li).collect()
    val cents = (1 to 7).map(i => BigInt((11000000.0 + i).toLong) * 100)
    val total = cents.sum
    assert(BigInt(10000) * cents.max < BigInt(Long.MaxValue))
    got.foreach { r =>
      val i = r.getAs[Long]("l_linenumber").toInt
      assert(r.getAs[Long]("cents") == cents(i - 1).toLong)
      assert(r.getAs[Any]("share_bp").toString ==
        ((BigInt(10000) * cents(i - 1)) / total).toString)
    }
  }

  test("acfFromDaily at x~1e12/day: y = n*x - sx inside int64, " +
      "sum(y*y) products ride DECIMAL(38,0) at ~1e29, truncating " +
      "division exact for negative correlations") {
    import spark.implicits._
    val n = 30
    // alternating high/low so lag-1 correlation is strongly negative
    // (exercises the signed div path) and magnitudes hit the claim
    val xs = (0 until n).map(i =>
      if (i % 2 == 0) 1000000000000L + i * 1000000L
      else 500000000000L + i * 1000000L)
    val d = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("day", "x")
    val got = Events.acfFromDaily(d, maxLag = 7)
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Any](1)).toMap
    val sx = xs.map(BigInt(_)).sum
    val ys = xs.map(x => BigInt(n) * x - sx)
    // int64 claim for the centered series
    assert(ys.forall(y => y.abs <= BigInt(Long.MaxValue)))
    val dd = ys.map(y => y * y).sum
    // sf100's worst case is dd ≈ 1e24 (x ≈ 8e7/day over ~730 days);
    // this synthesis runs ~1000x above it and still clears 1e38
    assert(dd > BigInt(10).pow(26) && dd < BigInt(10).pow(38))
    for (lag <- 1 to 7) {
      val num = (lag until n).map(i => ys(i) * ys(i - lag)).sum
      assert((num * 1000000).abs < BigInt(10).pow(38))
      val exp = (num * 1000000) / dd // BigInt / truncates toward zero,
      // matching Spark's `div` on same-sign and mixed-sign operands
      assert(got(lag).toString == exp.toString,
        s"lag $lag: got ${got(lag)}, expected $exp")
    }
    assert((1 to 7).exists(l =>
      ((l until n).map(i => ys(i) * ys(i - l)).sum) < 0),
      "negative-numerator div path must actually be exercised")
  }

  test("spearmanFromDaily at the claimed n=1e6 days with worst-case " +
      "anticorrelation: sd2_4 ~1.3e18 clears int64, the 6e6 numerator " +
      "(~8e24 — would wrap int64 at n~1e4) rides DECIMAL(38,0)") {
    import spark.implicits._
    val n = 1000000
    // x strictly ascending, y strictly descending: all ranks distinct,
    // rx2 = 2i, ry2 = 2(n+1-i) → the exact Σd² worst case 4·n(n²−1)/3
    val d = spark.range(1, n + 1L)
      .select(col("id").as("day"), col("id").as("x"),
        (lit(n + 1L) - col("id")).as("y"))
    val row = Events.spearmanFromDaily(d).head()
    val nb = BigInt(n)
    val sd24 = BigInt(4) * nb * (nb * nb - 1) / 3
    // claimed clearing levels: sd2_4 int64 at n=1e6; numerator decimal
    assert(sd24 < BigInt(Long.MaxValue))
    assert(BigInt(6000000) * sd24 > BigInt(Long.MaxValue),
      "int64 numerator would have wrapped — decimal path must be real")
    assert(BigInt(6000000) * sd24 < BigInt(10).pow(38))
    assert(row.getAs[Long]("n_days") == n.toLong)
    assert(row.getAs[Long]("sd2_4") == sd24.toLong)
    val rho = BigInt(1000000) -
      (BigInt(6000000) * sd24) / (BigInt(4) * nb * (nb * nb - 1))
    assert(rho == BigInt(-1000000), "perfect anticorrelation → -1e6")
    assert(row.getAs[Any]("rho_micro").toString == rho.toString)
  }

  test("chiSquareFromCells at N=3e9 with maximally dependent margins: " +
      "the two-limb division clears where the single-limb 1e6*diff^2 " +
      "spelling provably overflowed DECIMAL(38,0)") {
    import spark.implicits._
    // 2x2 perfect dependence: diff = o*N - r*c reaches N^2/4 = 2.25e18
    val h = 1500000000L // 1.5e9 per cell, N = 3e9 (the old claim's N)
    val cells = Seq(("A", 0L, h), ("B", 1L, h))
      .toDF("event_type", "dw", "o")
    val rows = Events.chiSquareFromCells(cells).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("dw")) -> r)
      .toMap
    val n = BigInt(2) * h
    def expected(o: Long, rt: Long, ct: Long): (BigInt, BigInt) = {
      val diff = BigInt(o) * n - BigInt(rt) * ct
      val d2 = diff * diff
      val dd = n * rt * ct
      // the old spelling's numerator — prove it EXCEEDS the decimal
      // ceiling, i.e. this input would have failed before the fix
      assert(BigInt(1000000) * d2 > BigInt(10).pow(38))
      // two-limb pieces each clear
      assert(d2 < BigInt(10).pow(38))
      assert(BigInt(1000000) * (d2 % dd) < BigInt(10).pow(38))
      val exp = (d2 / dd) * 1000000 + (BigInt(1000000) * (d2 % dd)) / dd
      // identity with the single floor division
      assert(exp == (BigInt(1000000) * d2) / dd)
      ((BigInt(1000) * rt * ct) / n, exp)
    }
    val (em, chi) = expected(h, h, h)
    assert(rows(("A", 0L)).getAs[Any]("exp_milli").toString == em.toString)
    assert(rows(("A", 0L)).getAs[Long]("chi2_micro") == chi.toLong)
    assert(rows(("B", 1L)).getAs[Long]("chi2_micro") == chi.toLong)
  }

  test("giniFromLevels at n=1e9 users: DECIMAL products clear and the " +
      "closed-form BigInt replica matches exactly") {
    import spark.implicits._
    val levels = Seq((10L, 500000000L), (1000L, 500000000L))
      .toDF("c", "m")
    val row = Events.giniFromLevels(levels).head()
    val n = BigInt(1000000000L)
    val t = BigInt(10) * 500000000L + BigInt(1000) * 500000000L
    // s2 = sum c*(2b - m + 1)*m over levels in cum order
    val s2 = BigInt(10) * (2 * BigInt(500000000L) - 500000000L + 1) *
      500000000L +
      BigInt(1000) * (2 * BigInt(1000000000L) - 500000000L + 1) *
        500000000L
    assert(s2 < BigInt(10).pow(38) &&
      (s2 - (n + 1) * t).abs * 1000000 < BigInt(10).pow(38))
    val gini = ((s2 - (n + 1) * t) * 1000000) / (n * t)
    assert(row.getAs[Long]("n_users") == 1000000000L)
    assert(row.getAs[Long]("total_events") == t.toLong)
    assert(row.getAs[Long]("gini_micro") == gini.toLong)
  }

  test("prioritySample limbs at the documented weight bound 9e12: " +
      "exact rational order, limbs match BigInt; past the bound ANSI " +
      "fails loud instead of silently wrapping") {
    import spark.implicits._
    val df = (1L to 20L).map(i => (i, 9000000000000L - i))
      .toDF("doc_id", "w")
    val got = Sampling.prioritySample(df, k = 5, weightCol = "w")
      .select(col("doc_id"), col("prio_unit"), col("prio_frac"))
      .collect()
    // replicate u and the two limbs exactly
    val us = df.select(col("doc_id"),
        (Sampling.scrambledRank(col("doc_id")) + lit(1L)).as("u"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = (1L to 20L).map { i =>
      val w6 = BigInt(9000000000000L - i) * 1000000
      val u = BigInt(us(i))
      (i, (w6 / u).toLong, ((w6 % u) * 1000000 / u).toLong)
    }.sortBy { case (id, pu, pf) => (-pu, -pf, id) }.take(5)
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == ref)
    // beyond the bound: w*1e6 exceeds int64 -> loud ANSI failure
    val over = Seq((1L, 9300000000000L)).toDF("doc_id", "w")
    val e = intercept[Exception] {
      Sampling.prioritySample(over, k = 1, weightCol = "w").collect()
    }
    def messages(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ messages(x.getCause)
    assert(messages(e).exists(m => m.contains("ARITHMETIC_OVERFLOW") ||
      m.contains("overflow")), messages(e).mkString(" | "))
  }

  test("neymanAllocation radicand at the documented ceiling: 1e6 rows " +
      "of ~6e4 values drive n*sum(v^2)-(sum v)^2 to ~4.489e15 < 2^52") {
    import spark.implicits._
    // claim (Sampling.neymanAllocation): the radicand N_h*Σv²−(Σv)²
    // is isqrt-exact while < 2^52 ≈ 4.5e15, "e.g. 10^6 rows of values
    // up to ~6e4". Synthesize exactly that operating point: one
    // stratum of 10^6 rows alternating 59933/60067 (population
    // variance 67² = 4489 → radicand 10^12·4489 = 4.489e15, 99.7% of
    // the ceiling) plus a tiny control stratum.
    val big = spark.range(1000000L).selectExpr("id AS doc_id",
      "'A' AS s", "CAST(59933 + (id % 2) * 134 AS BIGINT) AS v")
    val small = Seq((2000001L, "B", 1L), (2000002L, "B", 3L))
      .toDF("doc_id", "s", "v")
    val got = Sampling.neymanAllocation(big.unionByName(small), "s", "v",
        k = 1000L)
      .orderBy(col("s"))
      .select(col("s"), col("n_rows"), col("w"), col("alloc"))
      .as[(String, Long, Long, Long)].collect().toSeq
    // BigInt replica of both strata and the truncating split
    def wOf(vs: Iterator[BigInt], n: BigInt): BigInt = {
      var sv = BigInt(0); var sv2 = BigInt(0)
      vs.foreach { v => sv += v; sv2 += v * v }
      val rad = n * sv2 - sv * sv
      assert(rad < (BigInt(1) << 52), s"radicand $rad outside isqrt range")
      var s = BigInt(math.sqrt(bigToDouble(rad)).toLong)
      while (s * s > rad) s -= 1
      while ((s + 1) * (s + 1) <= rad) s += 1
      s
    }
    val wA = wOf((0L until 1000000L).iterator
      .map(i => BigInt(59933 + (i % 2) * 134)), BigInt(1000000))
    val wB = wOf(Iterator(BigInt(1), BigInt(3)), BigInt(2))
    assert(BigInt(4489000000000000L) ==
      BigInt(1000000) * BigInt(1000000) * 4489) // the claimed magnitude
    val wt = wA + wB
    assert(got == Seq(
      ("A", 1000000L, wA.toLong, (BigInt(1000) * wA / wt).toLong),
      ("B", 2L, wB.toLong, (BigInt(1000) * wB / wt).toLong)))
  }

  test("upliftCI variance terms at the documented per-user magnitude: " +
      "u4 up to 6.7e7 keeps every replicate-mean limb DECIMAL-exact " +
      "and var_sum inside isqrt's 2^52 range") {
    import spark.implicits._
    // claim (Events.upliftCI): the Poisson-bootstrap variance is
    // exact "while an arm's replicate-mean spread is < 6.7e7, far
    // above any real per-user value total". Drive per-user totals TO
    // that bound (values 3350·(uid%3) → u4 ∈ {0, 3.35e7, 6.7e7}) and
    // check the whole decision row against a BigInt replica of the
    // weight scheme + both variance limbs + the exact root.
    val M = 2147483647L
    val ev = (0L until 40L).map(u =>
      (u, 3350.0 * (u % 3))).toDF("user_id", "value")
    val got = Events.upliftCI(ev, b = 8).collect()(0)
    // BigInt replica
    val cdf = Seq(3678L, 7357L, 9196L, 9810L, 9963L, 9994L, 9999L)
    def weight(r: Long, uid: Long): Long = {
      val h = graft.functions.SdbmHash.hash(r, uid.toString)
      val u = (((h % M) + M) % M) * 48271L % M % 10000L
      cdf.indexWhere(u < _) match { case -1 => 7L; case k => k.toLong }
    }
    val u4 = (0L until 40L).map(u => u -> BigInt(33500000L * (u % 3))).toMap
    def armStats(arm: Long): (Long, BigInt, BigInt) = {
      val users = (0L until 40L).filter(_ % 2 == arm)
      val ms = (0L until 8L).map { r =>
        val ws = users.map(u => BigInt(weight(r, u)))
        val wv = users.zip(ws).map { case (u, w) => w * u4(u) }.sum
        val sw = ws.sum
        if (sw == 0) BigInt(0) else wv / sw
      }
      val nb = BigInt(8)
      val bv = (nb * ms.map(m => m * m).sum - ms.sum * ms.sum) / (nb * nb)
      val est = users.map(u4).sum / BigInt(users.size)
      (users.size.toLong, est, bv)
    }
    val (n0, est0, bv0) = armStats(0)
    val (n1, est1, bv1) = armStats(1)
    val varSum = bv0 + bv1
    assert(varSum >= 0 && varSum < (BigInt(1) << 52))
    var sv = BigInt(math.sqrt(bigToDouble(varSum)).toLong)
    while (sv * sv > varSum) sv -= 1
    while ((sv + 1) * (sv + 1) <= varSum) sv += 1
    val ci = BigInt(1960) * sv / 1000
    assert(got.getAs[Long]("n_users_0") == n0 &&
      got.getAs[Long]("n_users_1") == n1)
    assert(got.getAs[Long]("est0_u4") == est0.toLong &&
      got.getAs[Long]("est1_u4") == est1.toLong)
    assert(got.getAs[Long]("diff_u4") == (est1 - est0).toLong)
    assert(got.getAs[Long]("ci_half_u4") == ci.toLong)
    assert(got.getAs[Boolean]("significant") ==
      ((est1 - est0).abs > ci))
  }

  test("cramersV at the documented isqrt operand ceiling: 3e7 " +
      "perfectly dependent rows drive (1e6*chi2_micro) div (nt*df) " +
      "to exactly 1e12") {
    import spark.implicits._
    // claim (Profile.cramersV): the final root's operand
    // (10^6·χ²_micro) div (nt·df) is "a ≤10^12 operand, inside
    // isqrt's exact range". The operand maxes at V = 1 — perfect
    // dependence — where χ²_micro = 10^6·nt·df. Synthesize it: 3e7
    // rows with b = a (2×2, df 1) → operand exactly 10^12, V exactly
    // 1000000 ppm, and the cell diff o·nt−rt·ct = 2.25e14 squares to
    // 5.06e28, well inside DECIMAL(38,0) as documented.
    val n = 30000000L
    val df = spark.range(n).selectExpr("id % 2 AS a", "id % 2 AS b")
    val got = graft.operators.Profile.cramersV(df, "a", "b").collect()(0)
    // BigInt replica over the full 2x2 grid (two zero cells included)
    val half = BigInt(n / 2)
    val nt = BigInt(n)
    def term(o: BigInt): BigInt = {
      val d = o * nt - half * half
      val d2 = d * d
      val dd = nt * half * half
      (d2 / dd) * 1000000 + (d2 % dd) * 1000000 / dd
    }
    val chi2 = 2 * term(half) + 2 * term(BigInt(0))
    assert(chi2 == BigInt(1000000) * nt) // V = 1: chi2 = nt exactly
    val operand = BigInt(1000000) * chi2 / nt // df_min = 1
    assert(operand == BigInt("1000000000000")) // the documented 1e12
    assert(got.getAs[Long]("n_cells") == 4L &&
      got.getAs[Long]("n_rows") == n &&
      got.getAs[Long]("df_min") == 1L &&
      got.getAs[Long]("chi2_micro") == chi2.toLong &&
      got.getAs[Long]("cramers_v_ppm") == 1000000L)
  }

  test("balancedShards skew limb at 100TB magnitude: 10^4*k*total " +
      "passes 9.6e18 (over int64) and rides DECIMAL exactly") {
    import spark.implicits._
    // claim (Layout.balancedShards): "10^4*k*T overflows int64 once
    // T*k > 9e14 (a 100 TB corpus easily) — the skew limb rides
    // DECIMAL(38,0)". Synthesize it: 8 docs of 1.2e14 bytes, k = 8 ->
    // one giant per shard (LPT), total_shard = 1.2e14, and the limb
    // 10^4*8*1.2e14 = 9.6e18 > 2^63-1. ANSI would throw on an int64
    // path; the assertion proves the exact DECIMAL result.
    val docs = (1L to 8L).map(i => (i, 120000000000000L))
      .toDF("doc_id", "n_chars")
    val got = graft.operators.Layout
      .balancedShards(docs, k = 8, sizeCol = "n_chars")
      .orderBy("shard")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val t = BigInt(8) * 120000000000000L
    val skew = ((BigInt(10000) * (BigInt(8) * 120000000000000L - t)) / t)
      .toLong // 0: perfectly balanced
    assert(BigInt(10000) * 8 * 120000000000000L > BigInt(Long.MaxValue),
      "magnitude must actually exceed int64")
    assert(got == (0L to 7L).map(s => (s, 1L, 120000000000000L, skew)))
  }

  test("hits renorm limb at 100TB magnitude: unit*raw passes int64 " +
      "(raw 1e16 summed in-score) and rides DECIMAL exactly") {
    import spark.implicits._
    // claim (Graph.hits): "unit*raw overflows int64 once a node's
    // summed in-score passes ~9.2e15 (in-degree ~9e12 at unit 10^3 —
    // a 100 TB hub is allowed to be that big)". Magnitude-equivalent
    // synthesis (header note): unit = 10^15 with in-degree 10 puts
    // raw at 1e16 > 9.2e15 and the product unit*raw at 1e31 — three
    // orders past any int64 path (ANSI would throw); the assertion
    // proves the exact DECIMAL result of one full round.
    val unit = 1000000000000000L // 10^15
    val edges = ((1L to 10L).map(s => (s, 100L)) :+ ((1L, 101L)))
      .toDF("src", "dst")
    val got = Graph.hits(edges, iters = 1, unit = unit)
      .orderBy(col("kind"), col("node"))
      .as[(Long, String, Long)].collect().toSeq
    // BigInt replica of the round: araw = indeg * unit, renorm =
    // unit*raw / max (BigInt / truncates toward zero like div; all
    // operands non-negative here)
    val u = BigInt(unit)
    val araw = Map(100L -> u * 10, 101L -> u)
    assert(u * araw(100L) > BigInt(Long.MaxValue),
      "magnitude must actually exceed int64")
    val amx = araw.values.max
    val auth = araw.map { case (n, r) => n -> (u * r / amx) }
    val hraw = (1L to 10L).map { s =>
      s -> (auth(100L) + (if (s == 1L) auth(101L) else BigInt(0)))
    }.toMap
    val hmx = hraw.values.max
    val hub = hraw.map { case (n, r) => n -> (u * r / hmx) }
    val expected =
      (auth.toSeq.map { case (n, s) => (n, "auth", s.toLong) } ++
        hub.toSeq.map { case (n, s) => (n, "hub", s.toLong) })
        .sortBy(r => (r._2, r._1))
    assert(got == expected)
  }

  test("zipfSlope regression limbs: log-bounded coordinates keep the " +
      "fraction-cleared forms int64-safe at ANY corpus scale, and the " +
      "signed truncating division matches the BigInt replica") {
    import spark.implicits._
    // claim (TextStats.zipfSlope): both coordinates are bit-length
    // buckets (x, y <= 63) and there is at most one point per y
    // bucket (n <= 64), so the fraction-cleared limbs are bounded by
    // 1000 * 2 * 64^2 * 63^2 ~ 3.3e10 — no corpus size can overflow
    // them. Prove the ceiling, then run the operator on a synthetic
    // multi-decade spectrum against a full BigInt replica (the slope
    // numerator is NEGATIVE — this also exercises the documented
    // truncate-toward-zero parity on the signed path).
    val ceiling = BigInt(1000) * 2 * 64 * 64 * 63 * 63
    assert(ceiling < BigInt(Long.MaxValue) / 100000,
      s"claimed ceiling $ceiling not comfortably inside int64")
    // one doc per gram: char c repeated (f+2) times yields gram ccc
    // exactly f times — frequencies span 6 power-of-two decades
    val freqs = Seq(3L, 5L, 9L, 17L, 33L, 129L, 513L, 2049L, 4097L,
      70001L)
    val docs = freqs.zipWithIndex.map { case (f, i) =>
      (i.toLong, ("" + ('a' + i).toChar) * (f + 2).toInt)
    }.toDF("doc_id", "text")
    val got = graft.operators.TextStats.zipfSlope(docs)
      .as[(Long, Long, Long)].collect().toSeq
    def bits(v: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(v)
    val by = freqs.groupBy(bits).map { case (y, fs) => y -> fs.size.toLong }
    val maxY = by.keys.max
    val pts = (0L to maxY).map { y2 =>
      val rge = by.filter(_._1 >= y2).values.sum
      (BigInt(bits(rge)), BigInt(y2))
    }
    val n = BigInt(pts.size)
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sx2 = pts.map(p => p._1 * p._1).sum
    val den = n * sx2 - sx * sx
    assert(BigInt(1000) * (n * sxy - sx * sy) < 0,
      "spectrum must exercise the negative-numerator path")
    val slope = (BigInt(1000) * (n * sxy - sx * sy)) / den
    val intercept = (BigInt(1000) * (sy * sx2 - sx * sxy)) / den
    assert(got == Seq((n.toLong, slope.toLong, intercept.toLong)))
  }

  test("isqrt at the claimed 2^52 ceiling: exact on every probe up to " +
      "2^52-1, including perfect squares and their neighbors") {
    import spark.implicits._
    // claim (Sampling.isqrt): the double-sqrt seed plus a +/-1
    // correction is exact for x < 2^52. Probe the ceiling itself,
    // the largest perfect square below it, off-by-ones, and the
    // callers' stated operating points (10^12 temperature ratios,
    // ~4.5e15 Neyman radicands).
    val top = (1L << 26) - 1 // largest s with s^2 < 2^52
    val xs = Seq(0L, 1L, 2L,
      top * top - 1, top * top, top * top + 1,
      (1L << 52) - 1, 1000000000000L, 4499999999999999L)
    val got = xs.toDF("x")
      .select(col("x"), Sampling.isqrt(col("x")).as("s"))
      .as[(Long, Long)].collect().toMap
    xs.foreach { x =>
      val s = got(x)
      assert(s * s <= x && (s + 1) * (s + 1) > x,
        s"isqrt($x) = $s violates s^2 <= x < (s+1)^2")
      assert(s == math.sqrt(BigDecimal(x).toDouble).toLong ||
        s * s <= x, s"seed drifted at $x")
    }
    assert(got((1L << 52) - 1) == top)
    assert(got(top * top) == top && got(top * top - 1) == top - 1)
  }

  test("kappaFromConfusion marginal products at the claimed 100 TB " +
      "magnitude: n = 2e12 docs drives marginal x marginal to 1e24, " +
      "DECIMAL-exact vs a BigInt replica") {
    import spark.implicits._
    // claim (TextStats.lrQualityAgreement): pe's marginal product is
    // N^2 scale - 10^24 at 100 TB doc counts - so it rides
    // DECIMAL(38,0)/HUGEINT. Drive it there directly.
    val conf = Seq((2000000000000L, 800000000000L, 200000000000L,
      200000000000L, 800000000000L))
      .toDF("n", "n00", "n01", "n10", "n11")
    val got = TextStats.kappaFromConfusion(conf)
      .select("po_bp", "pe_bp", "kappa_bp")
      .as[(Long, Long, Option[Long])].collect().head
    val (n, n00, n01, n10, n11) = (BigInt(2000000000000L),
      BigInt(800000000000L), BigInt(200000000000L),
      BigInt(200000000000L), BigInt(800000000000L))
    val marg = (n10 + n11) * (n01 + n11) + (n00 + n01) * (n00 + n10)
    assert(marg > BigInt(Long.MaxValue),
      s"marginal product $marg does not exceed int64 - claim wrong")
    val po = BigInt(10000) * (n00 + n11) / n
    val pe = BigInt(10000) * marg / (n * n)
    val kappa = BigInt(10000) * (po - pe) / (BigInt(10000) - pe)
    assert(got == ((po.toLong, pe.toLong, Some(kappa.toLong))),
      s"got $got expected ($po, $pe, $kappa)")
  }

  test("lrFit gradient limb at the claimed 100 TB magnitude: cnt = " +
      "3.3e11 docs at the pathological |x_std| = 1e8 bound drives " +
      "cnt*(p-y*1e4)*x to ~3.3e23, DECIMAL-exact vs a BigInt replica") {
    import spark.implicits._
    // claim (TextStats.lrFit): the per-round gradient g_i =
    // Σ cnt·(p−10⁴y)·x_i rides DECIMAL(38,0) because int64 dies near
    // 9e9 docs at |x| = 10⁵ — and the σ ≥ 1 standardization floor
    // admits |x_std| up to 10⁸. Drive BOTH extremes at once: a 100 TB
    // corpus collapsed to two buckets of 3.3e11 docs each, features
    // pinned at ±10⁸. Round-1 gradient = 1e12·cnt ≈ 3.3e23, five
    // orders past int64.
    val cnt = 330000000000L // ~100 TB / 300 B per doc, per bucket
    val xb = 100000000L     // the sigma = 1 worst-case |x_std|
    val feat = Seq(
      (10000L, xb, 0L, 0L, 0L, cnt),
      (10000L, -xb, 0L, 0L, 1L, cnt))
      .toDF("x0", "x1", "x2", "x3", "y", "cnt")
    val traj = TextStats.lrFit(feat, rounds = 2, lrNum = 20L)
    val got = traj.map(_.select("r", "w0", "w1", "w2", "w3")
      .as[(Long, Long, Long, Long, Long)].collect().head)
    // BigInt replica of the exact integer recurrence (BigInt / and
    // Spark `div` both truncate toward zero)
    def p(z: BigInt): BigInt =
      BigInt(5000) + (BigInt(10000) * z) / (BigInt(2) * (BigInt(10000) + z.abs))
    val rows = Seq((BigInt(10000), BigInt(xb), BigInt(0), BigInt(0),
      BigInt(0), BigInt(cnt)),
      (BigInt(10000), BigInt(-xb), BigInt(0), BigInt(0), BigInt(1),
        BigInt(cnt)))
    var w = Vector(BigInt(0), BigInt(0), BigInt(0), BigInt(0))
    val expect = Seq.newBuilder[Vector[BigInt]]
    expect += w
    for (r <- 1 to 2) {
      val gs = (0 until 4).map { i =>
        rows.map { case (x0, x1, x2, x3, y, c) =>
          val xs = Vector(x0, x1, x2, x3)
          val z = (w(0) * x0 + w(1) * x1 + w(2) * x2 + w(3) * x3) /
            BigInt(10000)
          c * (p(z) - y * 10000) * xs(i)
        }.sum
      }
      val n = rows.map(_._6).sum
      assert(gs.map(_.abs).max > BigInt(Long.MaxValue),
        s"round $r gradient ${gs.map(_.abs).max} does not exceed int64 " +
          "- the claim magnitude is wrong")
      w = Vector.tabulate(4)(i =>
        w(i) - (BigInt(20) * gs(i)) / (BigInt(r) * n * BigInt(10000)))
      expect += w
    }
    val exp = expect.result().zipWithIndex.map { case (ws, r) =>
      (r.toLong, ws(0).toLong, ws(1).toLong, ws(2).toLong, ws(3).toLong)
    }
    assert(got == exp, s"got $got expected $exp")
  }

  test("lrFit scoring limb (lrZ / lrP) at the diverging-fit extreme: " +
      "lrNum = 2000 at |x_std| = 1e8 drives round-2 w*x to 1e19 and " +
      "the sigmoid numerator 1e4*z to 1e19, DECIMAL-exact vs BigInt") {
    import spark.implicits._
    // claim (TextStats.lrZ / lrP, r16 ADVICE): the w·x products and
    // the 10⁴·z sigmoid numerator ride DECIMAL(38,0) because a
    // diverging fit combined with the σ ≥ 1 |x_std| ≤ 1e8 extreme
    // pushes both past int64. Drive it there: one aggressive round
    // puts w1 at −1e11, so round 2's w1·x1 = −1e19 and 10⁴·z = −1e19,
    // each past 9.2e18 — int64 would wrap both and skew every later
    // round silently.
    val cnt = 10L
    val xb = 100000000L
    val feat = Seq(
      (10000L, xb, 0L, 0L, 0L, cnt),
      (10000L, -xb, 0L, 0L, 1L, cnt))
      .toDF("x0", "x1", "x2", "x3", "y", "cnt")
    val traj = TextStats.lrFit(feat, rounds = 2, lrNum = 2000L)
    val got = traj.map(_.select("r", "w0", "w1", "w2", "w3")
      .as[(Long, Long, Long, Long, Long)].collect().head)
    def p(z: BigInt): BigInt =
      BigInt(5000) + (BigInt(10000) * z) / (BigInt(2) * (BigInt(10000) + z.abs))
    val rows = Seq((BigInt(10000), BigInt(xb), BigInt(0), BigInt(0),
      BigInt(0), BigInt(cnt)),
      (BigInt(10000), BigInt(-xb), BigInt(0), BigInt(0), BigInt(1),
        BigInt(cnt)))
    var w = Vector(BigInt(0), BigInt(0), BigInt(0), BigInt(0))
    val expect = Seq.newBuilder[Vector[BigInt]]
    expect += w
    for (r <- 1 to 2) {
      val prods = rows.map { case (x0, x1, x2, x3, _, _) =>
        Vector(x0, x1, x2, x3).zip(w).map { case (x, wi) => (wi * x).abs }.max
      }
      if (r == 2)
        assert(prods.max > BigInt(Long.MaxValue),
          s"round $r w*x ${prods.max} does not exceed int64 - claim wrong")
      val gs = (0 until 4).map { i =>
        rows.map { case (x0, x1, x2, x3, y, c) =>
          val xs = Vector(x0, x1, x2, x3)
          val z = (w(0) * x0 + w(1) * x1 + w(2) * x2 + w(3) * x3) /
            BigInt(10000)
          if (r == 2 && x1.abs == BigInt(xb))
            assert((BigInt(10000) * z).abs > BigInt(Long.MaxValue) ||
              z == 0, s"sigmoid numerator stayed inside int64 at $z")
          c * (p(z) - y * 10000) * xs(i)
        }.sum
      }
      val n = rows.map(_._6).sum
      w = Vector.tabulate(4)(i =>
        w(i) - (BigInt(2000) * gs(i)) / (BigInt(r) * n * BigInt(10000)))
      expect += w
    }
    val exp = expect.result().zipWithIndex.map { case (ws, r) =>
      (r.toLong, ws(0).toLong, ws(1).toLong, ws(2).toLong, ws(3).toLong)
    }
    assert(got == exp, s"got $got expected $exp")
  }

  test("mixtureEpochs budget limbs at caller-supplied extremes: " +
      "budgetNum = 2e18 and w_bp = 1e4 drive sum(tokens)*budgetNum " +
      "and budget*w_bp to 2e19 each, DECIMAL-exact vs BigInt") {
    import spark.implicits._
    // claim (Sampling.mixtureEpochs, r16 ADVICE): weights and budget
    // multipliers are caller-supplied, so budget·w_bp and
    // Σtokens·budgetNum are NOT bounded by the bp-scale 2.5e17
    // headroom argument — both ride DECIMAL(38,0). Drive both past
    // int64 with a 10-token doc: Σtokens·budgetNum = 2e19 and
    // budget·w_bp = 2e15·1e4 = 2e19, while every OUTPUT column stays
    // comfortably inside int64.
    val docs = Seq(("src0", "a b c d e f g h i j"))
      .toDF("source", "text")
    val budgetNum = 2000000000000000000L
    val budgetDen = 10000L
    val got = Sampling.mixtureEpochs(docs, "source",
      Map("src0" -> 10000L), defaultBp = 10000L,
      budgetNum = budgetNum, budgetDen = budgetDen)
      .select("source", "tokens_avail", "w_bp", "tokens_target",
        "epochs_bp")
      .as[(String, Long, Long, Long, Option[Long])].collect().toSeq
    val tokens = BigInt(10)
    assert(tokens * BigInt(budgetNum) > BigInt(Long.MaxValue),
      "sum(tokens)*budgetNum does not exceed int64 - claim wrong")
    val budget = tokens * BigInt(budgetNum) / BigInt(budgetDen)
    assert(budget * BigInt(10000) > BigInt(Long.MaxValue),
      "budget*w_bp does not exceed int64 - claim wrong")
    val target = budget * BigInt(10000) / BigInt(10000)
    val epochs = BigInt(10000) * target / tokens
    assert(got == Seq(("src0", 10L, 10000L, target.toLong,
      Some(epochs.toLong))), s"got $got")
  }

  test("corrMatrix envelope: centi-unit |v| = 3.0e9 (v² = 9.0e18 < " +
      "2^63) computes the exact rational; |v| = 3.1e9 (v² = 9.61e18) " +
      "fails with ARITHMETIC_OVERFLOW instead of a wrong number") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    // claim (Profile.corrMatrix scaladoc): per-row products of
    // centi-unit values are int64, so |round(v * 100)| < ~3.04e9
    // (sqrt(2^63)). Inside: x = ±3.0e7 (3.0e9 centi-units) squares to
    // 9.0e18 per row; the DECIMAL(38,0) sums then carry 1.8e19 exactly.
    val cols = Seq("x" -> "x", "y" -> "y")
    val inside = Seq((3.0e7, 1.0), (-3.0e7, 2.0), (0.0, 3.0))
      .toDF("x", "y")
    val row = graft.operators.Profile.corrMatrix(inside, cols)
      .select("n", "slope", "r2").as[(Long, Double, Double)].collect()
    // exact sufficient statistics in centi-units: sx = 0, sy = 600,
    // sxx = 1.8e19, syy = 140000, sxy = 3e11 - 6e11 = -3e11
    val num = BigInt(3) * BigInt(-300000000000L)
    val den = BigInt(3) * BigInt("18000000000000000000")
    val deny = BigInt(3) * 140000 - BigInt(600) * 600
    assert(row.toSeq == Seq((3L, num.toDouble / den.toDouble,
      num.toDouble * num.toDouble / (den.toDouble * deny.toDouble))),
      row.mkString(", "))
    // past the bound: 3.1e9 centi-units square to 9.61e18 > 2^63 - 1
    val over = Seq((3.1e7, 1.0), (0.0, 2.0)).toDF("x", "y")
    val e = intercept[Exception] {
      graft.operators.Profile.corrMatrix(over, cols).collect()
    }
    def messages(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ messages(x.getCause)
    assert(messages(e).exists(_.contains("ARITHMETIC_OVERFLOW")),
      messages(e).mkString(" | "))
  }
}
