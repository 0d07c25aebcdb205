package graft
package registry

import graft.operators._
import graft.SparkEntry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Profile query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegProfile {

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "profile_benford" -> ((s, dir) => {
      // Benford leading-digit audit — the classic fabricated-data
      // smell test: observed first-digit distribution of order
      // totals vs the Benford expectation (literal basis points on
      // both sides, so no engine's log10 enters the hash)
      val exp = Map(1 -> 3010, 2 -> 1761, 3 -> 1249, 4 -> 969,
        5 -> 792, 6 -> 669, 7 -> 580, 8 -> 512, 9 -> 458)
      val d = t(s, dir, "orders")
        .select(substring((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      d.crossJoin(broadcast(d.agg(sum(col("n")).as("total"))))
        .selectExpr("digit", "n", "(10000 * n) div total AS obs_bp")
        .withColumn("exp_bp",
          exp.foldLeft(lit(0)) { case (acc, (k, v)) =>
            when(col("digit") === k, v).otherwise(acc) }.cast("long"))
        .orderBy(col("digit"))
    }),
    "profile_sketch_lake_bounds" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dumped = dumpForOracle(s, dir, "profile_sketch_lake_bounds",
        Profile.hllSketchLake(ev).select(col("event_type"),
          col("est_users")))
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("exact_users"))
      dumped.join(exact, "event_type")
        .selectExpr("event_type", "est_users", "exact_users",
          // HLL at default lgK: spec-pinned 5% relative bound, with
          // an absolute floor of 1 for tiny segments
          "100 * abs(est_users - exact_users) <= " +
            "greatest(100L, 5 * exact_users) AS within_bound")
        .orderBy(col("event_type"))
    }),
    "profile_sketch_overlap_bounds" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dumped = dumpForOracle(s, dir, "profile_sketch_overlap_bounds",
        Profile.audienceOverlap(ev, "click", "purchase")
          .select(col("est_overlap")))
      val exact = ev.filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("user_id"))
        .agg(count_distinct(col("event_type")).as("nk"))
        .filter(col("nk") === 2)
        .agg(count(lit(1)).as("exact_overlap"))
      dumped.crossJoin(exact)
        .selectExpr("est_overlap", "exact_overlap",
          "100 * abs(est_overlap - exact_overlap) <= " +
            "greatest(100L, 5 * exact_overlap) AS within_bound")
    }),
    "profile_approx_bounds" -> ((s, dir) => {
      // the approxTable estimates scored against the exact profiling
      // pass: HLL distinct within the 3-sigma 15% band, approx
      // percentiles within ±1% rank of their target (two-sided via
      // the [count(<p), count(<=p)] rank interval, so value ties
      // cannot false-flag). Rank counts ride along as cross-checked
      // integers; the ok booleans are oracle-asserted TRUE.
      val docs = t(s, dir, "documents")
      val dumped = dumpForOracle(s, dir, "profile_approx_bounds",
        Profile.approxTable(docs))
      val exact = Profile.table(docs)
        .select(col("col_name"), col("n").as("e_n"),
          col("n_null").as("e_null"), col("n_distinct").as("nd_exact"))
      val nums = docs.select(explode(array(
          struct(lit("doc_id").as("col_name"),
            col("doc_id").cast("double").as("v")),
          struct(lit("n_chars").as("col_name"),
            col("n_chars").cast("double").as("v")))).as("m"))
        .select(col("m.col_name"), col("m.v"))
        .filter(col("v").isNotNull)
      val rk = nums
        .join(dumped.select(col("col_name"), col("p50"), col("p95"),
          col("p99")), "col_name")
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as("nv"),
          sum(when(col("v") < col("p50"), 1L).otherwise(0L)).as("r50_lt"),
          sum(when(col("v") <= col("p50"), 1L).otherwise(0L)).as("r50_le"),
          sum(when(col("v") < col("p95"), 1L).otherwise(0L)).as("r95_lt"),
          sum(when(col("v") <= col("p95"), 1L).otherwise(0L)).as("r95_le"),
          sum(when(col("v") < col("p99"), 1L).otherwise(0L)).as("r99_lt"),
          sum(when(col("v") <= col("p99"), 1L).otherwise(0L)).as("r99_le"))
      // no NULLs in the output: a NULL BIGINT/BOOLEAN stringifies
      // differently between the two compare paths (None vs nan) —
      // non-numeric columns get vacuously-TRUE percentile oks and
      // zero rank counts on BOTH sides instead
      def band(q: Int): String =
        s"CASE WHEN nv IS NULL THEN TRUE ELSE " +
          s"r${q}_lt <= ($q * nv) DIV 100 + greatest(1L, nv DIV 100) AND " +
          s"r${q}_le >= ($q * nv) DIV 100 - greatest(1L, nv DIV 100) " +
          s"END AS p${q}_ok"
      dumped.join(exact, "col_name").join(rk, Seq("col_name"), "left")
        .selectExpr(Seq("col_name", "nd_exact",
          "n = e_n AND n_null = e_null AS n_ok",
          "abs(approx_distinct - nd_exact) <= " +
            "greatest(1L, (15 * nd_exact) DIV 100) AS nd_ok") ++
          Seq("r50_lt", "r50_le", "r95_lt", "r95_le", "r99_lt", "r99_le")
            .map(c => s"coalesce($c, 0L) AS $c") ++
          Seq(band(50), band(95), band(99)): _*)
        .orderBy(col("col_name"))
    }),

    // ---- north star: text analysis ----
    "profile_documents" -> ((s, dir) => {
      Profile.table(t(s, dir, "documents")).orderBy(col("col_name"))
    }),
    "profile_approx" -> ((s, dir) => {
      // sketch-based profiling twin (HLL distinct + approx quantiles):
      // not ANSI-reproducible -> no_oracle; error-bounded vs the exact
      // pass in OperatorsSpec
      Profile.approxTable(t(s, dir, "documents")).orderBy(col("col_name"))
    }),
    "profile_sketch_lake" -> ((s, dir) => {
      // sketches AS DATA: per-(type, day) HLL sketches unioned at
      // query time — deterministic DataSketches estimates but not
      // ANSI-reproducible -> no_oracle; ProfileSketchSpec pins
      // two-level == single-pass identity and the error bound
      Profile.hllSketchLake(t(s, dir, "events"))
        .orderBy(col("event_type"))
    }),
    "profile_sketch_overlap" -> ((s, dir) => {
      // Theta set algebra over stored sketches: |click ∩ purchase|
      // without joining raw id sets; no_oracle (sketch estimate),
      // error-bounded in ProfileSketchSpec
      Profile.audienceOverlap(t(s, dir, "events"), "click", "purchase")
    }),
    "profile_kll_lake" -> ((s, dir) => {
      // the QUANTILE leg of sketches-as-data: per-(type, day) KLL
      // sketches merged at query time; no_oracle (KLL merge is
      // order-sensitive, so estimates are bound-checked, not
      // hash-checked — profile_kll_lake_bounds below)
      Profile.kllQuantileLake(t(s, dir, "events"))
        .orderBy(col("event_type"))
    }),
    "profile_kll_lake_bounds" -> ((s, dir) => {
      // rank audit of the materialized KLL estimates: the inclusive
      // rank of each estimated quantile must sit within 500 bp of its
      // target (k=200 normalized rank error ~165 bp + discreteness);
      // DuckDB recomputes the SAME ranks from the dump, asserting the
      // within flags TRUE — a drift past the bound hash-mismatches
      val ev = t(s, dir, "events")
      val dumped = dumpForOracle(s, dir, "profile_kll_lake_bounds",
        Profile.kllQuantileLake(ev))
      ev.join(dumped, "event_type")
        .groupBy(col("event_type"), col("p50_est"), col("p95_est"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") <= col("p50_est"), 1L).otherwise(0L))
            .as("le50"),
          sum(when(col("value") <= col("p95_est"), 1L).otherwise(0L))
            .as("le95"))
        .selectExpr("event_type",
          "(10000 * le50) div n AS r50_bp",
          "(10000 * le95) div n AS r95_bp",
          "abs((10000 * le50) div n - 5000) <= 500 AS p50_within",
          "abs((10000 * le95) div n - 9500) <= 500 AS p95_within")
        .orderBy(col("event_type"))
    }),
    "profile_equidepth" -> ((s, dir) => {
      // quantile (equi-depth) histogram, exact boundaries for the
      // oracle; the approx default is the 100 TB path (same plan, the
      // sketch replacing the value-buffer percentile)
      Profile.equiDepthHistogram(t(s, dir, "documents"), "n_chars",
        nBins = 8, exact = true)
        .orderBy(col("bin"))
    }),
    "profile_histogram" -> ((s, dir) => {
      Profile.histogram(t(s, dir, "documents"), "n_chars")
        .orderBy(col("bin"))
    }),
    "profile_heavy_hitters" -> ((s, dir) => {
      Profile.heavyHitters(t(s, dir, "events"), "user_id")
        .orderBy(col("n_rows").desc, col("value"))
    }),
    "profile_fk_orphans" -> ((s, dir) => {
      // the TPC-H fixture has full integrity, so the audit's positive
      // path is staged by dropping every 10th customer from the
      // parent side — those customers' orders must surface as orphans
      Profile.fkOrphans(t(s, dir, "orders"),
        t(s, dir, "customer").filter(col("c_custkey") % 10 =!= 0),
        "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    }),
    "profile_heavy_sketch" -> ((s, dir) => {
      // heavy hitters (≥0.5% of the table) the 100 TB way: a one-pass
      // mergeable Misra-Gries sketch (k=200 counters, ε=1/201 < 0.5%)
      // yields a candidate set PROVABLY containing every qualifying
      // key without shuffling all distinct keys; an exact recount of
      // just the ≤200 candidates (broadcast join, map-side combine)
      // restores exact deterministic output — identical to the plain
      // GROUP BY/HAVING the oracle runs, at a bounded shuffle width.
      graft.functions.Udafs.register(s)
      val ev = t(s, dir, "events").select(col("user_id"))
      val cand = ev.agg(expr("heavy_hitter_keys(user_id)").as("ks"))
        .select(explode(col("ks")).as("user_id"))
      val counted = ev.join(broadcast(cand), Seq("user_id"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_rows"))
      val tot = ev.agg(count(lit(1)).as("tot"))
      counted.crossJoin(broadcast(tot))
        .filter(col("n_rows") * 1000 >= col("tot") * 5)
        .select(col("user_id"), col("n_rows"))
        .orderBy(col("user_id"))
    }),

    // ---- round-11 wave: reachability, market-basket association,
    //      time-series diagnostics, Welch testing, skyline, corpus
    //      novelty ----
    "profile_log2_hist" -> ((s, dir) =>
      // order-of-magnitude histogram of order totals: the log₂
      // bucket is length(bin(cents)) − 1 — EXACT integer in both
      // engines, no floating log2 at power-of-two edges
      t(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long")
          .as("cents"))
        .groupBy((length(bin(col("cents"))) - 1).cast("long")
          .as("log2_bucket"))
        .agg(count(lit(1)).as("n"), min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .orderBy(col("log2_bucket"))),
    "profile_fd" -> ((s, dir) => {
      // declared-candidate functional dependencies: the primary-key
      // shaped ones hold, the fact-table ones are counted violations
      val o = Profile.functionalDeps(t(s, dir, "orders"),
        Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderkey")))
      val l = Profile.functionalDeps(t(s, dir, "lineitem"),
        Seq(("l_orderkey", "l_returnflag"), ("l_partkey", "l_suppkey")))
      o.unionByName(l).orderBy(col("fd"))
    }),
    "profile_gini_impurity" -> ((s, dir) =>
      // log-free concentration profile per categorical column (CART's
      // Gini criterion): 0 ppm = single value, (1-1/k)·10⁶ = uniform
      Profile.giniImpurity(t(s, dir, "events"),
          Seq("event_type", "user_id"))
        .unionByName(Profile.giniImpurity(t(s, dir, "orders"),
          Seq("o_orderstatus", "o_orderpriority")))
        .orderBy(col("col_name"))),
    "profile_skew" -> ((s, dir) =>
      Profile.keySkew(t(s, dir, "events"),
        Seq("user_id", "event_type")).orderBy(col("column"))),
    "profile_corr_matrix" -> ((s, dir) =>
      // all-pairs Pearson over lineitem's numeric columns in ONE
      // aggregation pass — exact decimal sufficient statistics,
      // doubles only at the end (Profile.corrMatrix)
      Profile.corrMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity" -> "qty", "l_extendedprice" -> "price",
          "l_discount" -> "disc", "l_tax" -> "tax"))),
    "profile_id_gaps" -> ((s, dir) =>
      // per-day event-id density audit: distinct ids vs id span —
      // in-range row loss a plain count never shows
      // (Profile.sequenceGaps)
      Profile.sequenceGaps(t(s, dir, "events"), "event_id",
        expr("unix_micros(ts) div 86400000000"))),
    "profile_basket_size" -> ((s, dir) => {
      // order-size distribution at the count-of-counts grain: how
      // many orders carry k line items, with exact bp shares — the
      // fan-out profile behind join-cost estimates
      val sz = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_orders"))
      val wall = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .unboundedFollowing)
      sz.withColumn("total", sum(col("n_orders")).over(wall))
        .select(col("k").as("basket_size"), col("n_orders"),
          expr("(10000 * n_orders) div total").as("share_bp"))
        .orderBy(col("basket_size"))
    }),
    "profile_kruskal_wallis" -> ((s, dir) =>
      // nonparametric ANOVA: does n_chars differ across sources —
      // rank-free doubled midranks at the (value, count) grain,
      // DECIMAL(38,0) rank-sum squares, exact milli-unit H
      // (Profile.kruskalWallis)
      Profile.kruskalWallis(t(s, dir, "documents"), "source", "n_chars")
        .withColumnRenamed("grp", "source")),
    "profile_freshness" -> ((s, dir) => {
      // staleness audit: the fixture's types all end on the same day,
      // so the QUERY stages a dead upstream first (piiDocs
      // discipline) — 'error' stops emitting on Jan 25 — then audits
      val staged = t(s, dir, "events").filter(
        !(col("event_type") === "error" &&
          col("ts") >= lit("2024-01-25").cast("timestamp")))
      Profile.freshness(staged, "event_type", "ts", maxLagDays = 2L)
        .orderBy(col("event_type"))
    }),
    "profile_cramers_v" -> ((s, dir) =>
      // normalized χ² association between order status and priority —
      // exact ppm Cramér's V via the two-limb χ² terms + isqrt
      Profile.cramersV(t(s, dir, "orders"),
        "o_orderstatus", "o_orderpriority")),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "profile_freshness" -> """
      WITH st AS (SELECT * FROM events
                  WHERE NOT (event_type = 'error'
                             AND ts >= TIMESTAMP '2024-01-25')),
      per AS (SELECT event_type, count(*) AS n_rows,
                max(epoch_us(ts) // 86400000000) AS max_day
              FROM st GROUP BY 1),
      g AS (SELECT max(max_day) AS gm FROM per)
      SELECT event_type, n_rows, max_day, gm - max_day AS lag_days,
             (gm - max_day) > 2 AS stale
      FROM per, g ORDER BY event_type""",
    "profile_cramers_v" -> """
      WITH obs AS (SELECT o_orderstatus AS a, o_orderpriority AS b,
                     count(*) AS o
                   FROM orders GROUP BY 1, 2),
      r AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
      c AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
      n AS (SELECT CAST(sum(o) AS BIGINT) AS nt FROM obs),
      cell AS (SELECT r.a, r.rt, c.b, c.ct,
                 CAST(coalesce(obs.o, 0) AS BIGINT) AS o
               FROM r CROSS JOIN c
               LEFT JOIN obs ON obs.a = r.a AND obs.b = c.b),
      tm AS (SELECT nt,
               (CAST(cell.o AS HUGEINT) * nt - rt * ct) *
                 (CAST(cell.o AS HUGEINT) * nt - rt * ct) AS d2,
               CAST(nt AS HUGEINT) * rt * ct AS dd
             FROM cell, n),
      tt AS (SELECT nt, CAST(sum((d2 // dd) * 1000000
                 + (1000000 * (d2 % dd)) // dd) AS BIGINT) AS chi2_micro
             FROM tm GROUP BY nt),
      k AS (SELECT count(*) AS n_cells, count(DISTINCT a) AS ra,
              count(DISTINCT b) AS cb FROM cell),
      v AS (SELECT k.n_cells, tt.nt, least(k.ra, k.cb) - 1 AS df_min,
              tt.chi2_micro,
              CASE WHEN least(k.ra, k.cb) - 1 <= 0 OR tt.nt = 0 THEN 0
                   ELSE CAST((CAST(1000000 AS HUGEINT) * tt.chi2_micro)
                        // (tt.nt * (least(k.ra, k.cb) - 1)) AS BIGINT)
              END AS ratio
            FROM tt, k)
      SELECT n_cells, nt AS n_rows, CAST(df_min AS BIGINT) AS df_min,
             chi2_micro,
             CASE WHEN ratio = 0 THEN 0
                  WHEN (s0 + 1) * (s0 + 1) <= ratio THEN s0 + 1
                  WHEN s0 * s0 > ratio THEN s0 - 1
                  ELSE s0 END AS cramers_v_ppm
      FROM (SELECT *, CAST(floor(sqrt(CAST(ratio AS DOUBLE)))
              AS BIGINT) AS s0 FROM v)""",
    "profile_sketch_lake_bounds" -> s"""
      WITH apx AS (SELECT event_type, est_users
                   FROM read_parquet('$RecallDirToken/profile_sketch_lake_bounds/*.parquet')),
      ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
             FROM events GROUP BY event_type)
      SELECT a.event_type, a.est_users, e.exact_users,
             TRUE AS within_bound
      FROM apx a JOIN ex e USING (event_type)
      ORDER BY a.event_type""",
    "profile_kll_lake_bounds" -> s"""
      WITH apx AS (SELECT event_type, p50_est, p95_est
                   FROM read_parquet('$RecallDirToken/profile_kll_lake_bounds/*.parquet')),
      r AS (SELECT e.event_type, a.p50_est, a.p95_est, count(*) AS n,
              sum(CASE WHEN e.value <= a.p50_est THEN 1 ELSE 0 END)
                AS le50,
              sum(CASE WHEN e.value <= a.p95_est THEN 1 ELSE 0 END)
                AS le95
            FROM events e JOIN apx a USING (event_type)
            GROUP BY 1, 2, 3)
      SELECT event_type,
             CAST((10000 * le50) // n AS BIGINT) AS r50_bp,
             CAST((10000 * le95) // n AS BIGINT) AS r95_bp,
             TRUE AS p50_within, TRUE AS p95_within
      FROM r ORDER BY event_type""",
    "profile_sketch_overlap_bounds" -> s"""
      WITH apx AS (SELECT est_overlap
                   FROM read_parquet('$RecallDirToken/profile_sketch_overlap_bounds/*.parquet')),
      ex AS (SELECT count(*) AS exact_overlap FROM (
               SELECT user_id FROM events
               WHERE event_type IN ('click', 'purchase')
               GROUP BY user_id
               HAVING count(DISTINCT event_type) = 2))
      SELECT est_overlap, exact_overlap, TRUE AS within_bound
      FROM apx, ex""",
    "profile_approx_bounds" -> s"""
      WITH apx AS (SELECT * FROM read_parquet('$RecallDirToken/profile_approx_bounds/*.parquet')),
      ex AS (${Seq("doc_id", "text", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS col_name,
               count(DISTINCT $c) AS nd_exact FROM documents""")
        .mkString(" UNION ALL ")}),
      nums AS (SELECT 'doc_id' AS col_name, CAST(doc_id AS DOUBLE) AS v
               FROM documents WHERE doc_id IS NOT NULL
               UNION ALL
               SELECT 'n_chars', CAST(n_chars AS DOUBLE)
               FROM documents WHERE n_chars IS NOT NULL),
      rk AS (SELECT nm.col_name,
               CAST(sum(CASE WHEN v < a.p50 THEN 1 ELSE 0 END) AS BIGINT) AS r50_lt,
               CAST(sum(CASE WHEN v <= a.p50 THEN 1 ELSE 0 END) AS BIGINT) AS r50_le,
               CAST(sum(CASE WHEN v < a.p95 THEN 1 ELSE 0 END) AS BIGINT) AS r95_lt,
               CAST(sum(CASE WHEN v <= a.p95 THEN 1 ELSE 0 END) AS BIGINT) AS r95_le,
               CAST(sum(CASE WHEN v < a.p99 THEN 1 ELSE 0 END) AS BIGINT) AS r99_lt,
               CAST(sum(CASE WHEN v <= a.p99 THEN 1 ELSE 0 END) AS BIGINT) AS r99_le
             FROM nums nm JOIN apx a USING (col_name)
             GROUP BY nm.col_name)
      SELECT e.col_name, e.nd_exact,
             TRUE AS n_ok, TRUE AS nd_ok,
             coalesce(rk.r50_lt, CAST(0 AS BIGINT)) AS r50_lt,
             coalesce(rk.r50_le, CAST(0 AS BIGINT)) AS r50_le,
             coalesce(rk.r95_lt, CAST(0 AS BIGINT)) AS r95_lt,
             coalesce(rk.r95_le, CAST(0 AS BIGINT)) AS r95_le,
             coalesce(rk.r99_lt, CAST(0 AS BIGINT)) AS r99_lt,
             coalesce(rk.r99_le, CAST(0 AS BIGINT)) AS r99_le,
             TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
      FROM ex e LEFT JOIN rk ON rk.col_name = e.col_name
      ORDER BY e.col_name""",
    "profile_documents" -> (Seq("doc_id", "text", "lang", "source",
      "n_chars").map(c => s"""
      SELECT '$c' AS col_name, count(*) AS n,
             count(*) - count($c) AS n_null,
             count(DISTINCT $c) AS n_distinct,
             CAST(min($c) AS VARCHAR) AS min_s,
             CAST(max($c) AS VARCHAR) AS max_s
      FROM documents""").mkString(" UNION ALL ") + " ORDER BY col_name"),
    "profile_equidepth" -> """
      WITH bs AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE),
                    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS b
                  FROM documents),
      v AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
            WHERE n_chars IS NOT NULL)
      SELECT CAST(len(list_filter(b, x -> x <= v)) AS INT) AS bin,
             min(v) AS lo, max(v) AS hi, count(*) AS n_rows
      FROM v, bs GROUP BY 1 ORDER BY bin""",
    "profile_histogram" -> """
      WITH b AS (SELECT CAST(min(n_chars) AS BIGINT) AS blo,
                        CAST(max(n_chars) AS BIGINT) AS bhi
                 FROM documents),
      w AS (SELECT blo, greatest((bhi - blo + 10) // 10, 1) AS width
            FROM b),
      x AS (SELECT (n_chars - blo) // width AS bin, blo, width
            FROM documents, w)
      SELECT bin, min(blo + bin * width) AS lo,
             min(blo + (bin + 1) * width) AS hi, count(*) AS n_rows
      FROM x GROUP BY bin ORDER BY bin""",
    "profile_heavy_hitters" -> """
      SELECT CAST(user_id AS VARCHAR) AS value, count(*) AS n_rows
      FROM events GROUP BY 1 ORDER BY n_rows DESC, value LIMIT 10""",
    "profile_fk_orphans" -> """
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_custkey NOT IN
        (SELECT c_custkey FROM customer WHERE c_custkey % 10 <> 0)
      ORDER BY o_orderkey""",
    "profile_benford" -> """
      WITH d AS (SELECT CAST(substr(CAST(CAST(CAST(o_totalprice
                   AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
                   AS INT) AS digit
                 FROM orders),
      g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
      SELECT digit, n, CAST((10000 * n) // total AS BIGINT) AS obs_bp,
             CAST(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761
               WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 792
               WHEN 6 THEN 669 WHEN 7 THEN 580 WHEN 8 THEN 512
               WHEN 9 THEN 458 ELSE 0 END AS BIGINT) AS exp_bp
      FROM g, t ORDER BY digit""",
    "profile_heavy_sketch" -> """
      SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
      HAVING count(*) * 1000 >= (SELECT count(*) FROM events) * 5
      ORDER BY user_id""",
    // depth-capped recursive BFS; UNION (distinct) bounds the
    // recursion, min(d) per node = the hop distance
    "profile_log2_hist" -> """
      WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                   AS cents FROM orders)
      SELECT CAST(length(bin(cents)) - 1 AS BIGINT) AS log2_bucket,
             count(*) AS n, min(cents) AS min_cents,
             max(cents) AS max_cents
      FROM c GROUP BY 1 ORDER BY log2_bucket""",
    "profile_fd" -> """
      WITH fds AS (
        SELECT 'o_orderkey->o_custkey' AS fd, count(*) AS n_keys,
               CAST(sum(ndv - 1) AS BIGINT) AS violations
        FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS ndv
              FROM orders GROUP BY 1)
        UNION ALL
        SELECT 'o_custkey->o_orderkey', count(*),
               CAST(sum(ndv - 1) AS BIGINT)
        FROM (SELECT o_custkey, count(DISTINCT o_orderkey) AS ndv
              FROM orders GROUP BY 1)
        UNION ALL
        SELECT 'l_orderkey->l_returnflag', count(*),
               CAST(sum(ndv - 1) AS BIGINT)
        FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS ndv
              FROM lineitem GROUP BY 1)
        UNION ALL
        SELECT 'l_partkey->l_suppkey', count(*),
               CAST(sum(ndv - 1) AS BIGINT)
        FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS ndv
              FROM lineitem GROUP BY 1))
      SELECT fd, n_keys, violations, violations = 0 AS holds
      FROM fds ORDER BY fd""",
    "profile_gini_impurity" -> """
      WITH g AS (
        SELECT col_name, v, count(*) AS n_i FROM (
          SELECT 'event_type' AS col_name,
                 CAST(event_type AS VARCHAR) AS v FROM events
          UNION ALL
          SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
          UNION ALL
          SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR)
          FROM orders
          UNION ALL
          SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
          FROM orders)
        GROUP BY col_name, v)
      SELECT col_name, CAST(sum(n_i) AS BIGINT) AS n_rows,
             count(*) AS n_distinct,
             1000000 - CAST((1000000 * sum(CAST(n_i AS HUGEINT) * n_i))
               // (CAST(sum(n_i) AS HUGEINT) * sum(n_i)) AS BIGINT)
               AS impurity_ppm
      FROM g GROUP BY col_name ORDER BY col_name""",
    "profile_skew" -> """
      WITH u AS (SELECT 'user_id' AS "column", count(*) AS ndv,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(max(n) AS BIGINT) AS top1_n
             FROM (SELECT user_id, count(*) AS n
                   FROM events GROUP BY 1)
             UNION ALL
             SELECT 'event_type', count(*), CAST(sum(n) AS BIGINT),
               CAST(max(n) AS BIGINT)
             FROM (SELECT event_type, count(*) AS n
                   FROM events GROUP BY 1))
      SELECT "column", n_rows, ndv, top1_n,
             (10000 * top1_n) // n_rows AS top1_share_bp
      FROM u ORDER BY "column"""",
    "profile_basket_size" -> """
      WITH s AS (SELECT l_orderkey, count(*) AS k
                 FROM lineitem GROUP BY 1),
      cc AS (SELECT k, count(*) AS n_orders FROM s GROUP BY 1),
      t AS (SELECT k, n_orders, sum(n_orders) OVER () AS total
            FROM cc)
      SELECT k AS basket_size, n_orders,
             CAST((10000 * n_orders) // total AS BIGINT) AS share_bp
      FROM t ORDER BY basket_size""",
    "profile_corr_matrix" -> corrMatrixOracleSql,
    "profile_id_gaps" -> """
      SELECT epoch_us(ts) // 86400000000 AS grain,
             count(DISTINCT event_id) AS n_ids,
             min(event_id) AS id_min, max(event_id) AS id_max,
             max(event_id) - min(event_id) + 1 - count(DISTINCT event_id)
               AS missing_in_span
      FROM events GROUP BY 1 ORDER BY 1""",
    "profile_kruskal_wallis" -> """
      WITH d AS (SELECT source AS grp, n_chars AS v FROM documents
                 WHERE n_chars IS NOT NULL AND source IS NOT NULL),
      vc AS (SELECT v, count(*) AS cnt FROM d GROUP BY 1),
      rk AS (SELECT v,
               2 * coalesce(sum(cnt) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + cnt + 1 AS midrank2
             FROM vc),
      gv AS (SELECT grp, v, count(*) AS m FROM d GROUP BY 1, 2),
      pg AS (SELECT grp, CAST(sum(m) AS BIGINT) AS n_g,
               sum(CAST(m AS HUGEINT) * midrank2) AS r2s
             FROM gv JOIN rk USING (v) GROUP BY 1),
      tc AS (SELECT CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt)
                      - sum(cnt) AS BIGINT) AS tie_cube FROM vc),
      tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_total,
                sum((r2s * r2s) // n_g) AS st
              FROM pg),
      h AS (SELECT n_total,
              CAST((3000 * st) // (n_total * (n_total + 1))
                - 3000 * (n_total + 1) AS BIGINT) AS h_milli
            FROM tot)
      SELECT grp AS source, n_g, CAST(r2s AS BIGINT) AS r2_sum,
             CAST((1000000 * r2s) // n_g AS BIGINT) AS rbar2_micro,
             n_total, tie_cube, h_milli
      FROM pg, h, tc ORDER BY source""",
  )
}
