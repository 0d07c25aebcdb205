package graft
package registry

import graft.functions._
import graft.operators._
import graft.SparkEntry._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SqlB query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegSqlB {

  /** q_welch_ttest engine body: Welch's unequal-variance t² for
    * every event-type pair, as a double OF EXACT RATIONALS (the
    * q_stats_agg discipline): value quantized to centi-units by
    * round-half-up (positive halves round identically in both
    * engines), the five sufficient statistics accumulate exactly
    * (int64 sums, DECIMAL(38,0) cross products), and t² = numᴵ/denᴵ
    * is the single FP op.
    * t² = (S₁n₂−S₂n₁)²(n₁−1)(n₂−1) /
    *      [(n₁Q₁−S₁²)(n₂−1)n₂² + (n₂Q₂−S₂²)(n₁−1)n₁²]
    * — the textbook t²=(x̄₁−x̄₂)²/(s₁²/n₁+s₂²/n₂) cleared of
    * denominators. Exactness boundary (proven at claimed magnitudes
    * by OverflowSpec): aa, bb, cc stay exact decimals (bounded ≲10²⁴
    * at sf100 — n≈2·10⁷/type, x≤5.6·10⁴ centi-units), then CAST TO
    * DOUBLE before the (n−1)·n² combine: num ~ aa²n² ≈ 10⁵² and den
    * ≈ 10⁴⁵ at sf100 would overflow DECIMAL(38,0) — Spark's non-ANSI
    * decimal overflow NULLs silently while DuckDB errors, a
    * divergent failure at the documented target scale. Doubles of
    * exact rationals with the same left-assoc op order on both
    * engines keep t2 bit-reproducible (the
    * graph_assortativity/q_cuped discipline). One data-sized hash
    * aggregation; the pair join runs on the
    * event-type-count-sized stats frame.
    */
  private[graft] def welchT2(events: DataFrame): DataFrame = {
      val d = (c: Column) => c.cast("decimal(38,0)")
      val st = events
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(d(col("x")) * col("x")).as("qx"))
      st.as("a").join(st.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"),
          col("a.n").as("n_a"), col("b.n").as("n_b"),
          (d(col("a.sx")) * col("b.n") - d(col("b.sx")) * col("a.n"))
            .as("aa"),
          (d(col("a.n")) * col("a.qx") - d(col("a.sx")) * col("a.sx"))
            .as("bb"),
          (d(col("b.n")) * col("b.qx") - d(col("b.sx")) * col("b.sx"))
            .as("cc"))
        .withColumn("num",
          col("aa").cast("double") * col("aa").cast("double") *
            (col("n_a") - 1).cast("double") *
            (col("n_b") - 1).cast("double"))
        .withColumn("den",
          col("bb").cast("double") * (col("n_b") - 1).cast("double") *
            col("n_b").cast("double") * col("n_b").cast("double") +
            col("cc").cast("double") * (col("n_a") - 1).cast("double") *
              col("n_a").cast("double") * col("n_a").cast("double"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          expr("aa div (CAST(n_a AS DECIMAL(38,0)) * n_b)")
            .as("mean_diff_centi"),
          (col("num") / col("den")).as("t2"))
        .orderBy(col("type_a"), col("type_b"))
  }


  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_nullsafe_join" -> ((s, dir) => {
      // null-safe equality join (<=>): null keys MATCH each other —
      // the join a dedup on a nullable key actually needs (plain =
      // silently drops every null row)
      val n = t(s, dir, "nation")
      val a = n.select(col("n_nationkey").as("ak"),
        when(col("n_nationkey") % 5 === 0, lit(null))
          .otherwise(col("n_regionkey")).cast("long").as("k"))
      val b = n.select(col("n_nationkey").as("bk"),
        when(col("n_nationkey") % 3 === 0, lit(null))
          .otherwise(col("n_regionkey")).cast("long").as("k2"))
      a.join(b, col("k") <=> col("k2"))
        .select(col("ak"), col("bk"), col("k"))
        .orderBy(col("ak"), col("bk"))
    }),
    "q_lateral_join" -> ((s, dir) => {
      // LATERAL correlated subquery — per-customer top-order lookup
      // planned as a correlated join (DecorrelateInnerQuery path),
      // the remaining subquery shape beside scalar and EXISTS
      t(s, dir, "customer").createOrReplaceTempView("g_customer")
      t(s, dir, "orders").createOrReplaceTempView("g_orders")
      s.sql("""
        SELECT c.c_custkey, l.n_orders, l.max_price
        FROM g_customer c,
        LATERAL (SELECT count(*) AS n_orders,
                        max(o_totalprice) AS max_price
                 FROM g_orders o WHERE o.o_custkey = c.c_custkey) l
        WHERE l.n_orders > 0
        ORDER BY c.c_custkey""")
    }),
    "q_exists_subquery" -> ((s, dir) => {
      // correlated EXISTS + NOT EXISTS through the SQL planner path
      // (RewritePredicateSubquery → semi/anti joins) — the subquery
      // shapes the DataFrame-API q_semi/q_anti queries don't exercise
      t(s, dir, "customer").createOrReplaceTempView("g_customer")
      t(s, dir, "orders").createOrReplaceTempView("g_orders")
      s.sql("""
        SELECT c_custkey, c_name FROM g_customer c
        WHERE EXISTS (SELECT 1 FROM g_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 100000)
          AND NOT EXISTS (SELECT 1 FROM g_orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")
    }),
    "q_hof_arrays" -> ((s, dir) => {
      // higher-order array functions over per-order quantity lists:
      // sort_array for a deterministic collect order, then filter /
      // transform / aggregate — all codegen-adjacent lambda forms,
      // integer-exact so the DuckDB list_* twins hash-match
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity").cast("long")))
          .as("qs"))
        .select(col("l_orderkey"),
          size(col("qs")).as("n_items"),
          size(filter(col("qs"), q => q > 25L)).as("n_big"),
          aggregate(col("qs"), lit(0L), (acc, q) => acc + q)
            .as("total_qty"),
          aggregate(transform(col("qs"), q => q * q), lit(0L),
            (acc, q) => acc + q).as("sum_sq"))
        .orderBy(col("l_orderkey"))
    }),
    "q_json_extract" -> ((s, dir) => {
      // JSON path extraction over the props column (get_json_object —
      // the row-level JSON scalar surface; from_json's structured
      // parse is covered by mem_markup_*)
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),
    "q_zorder" -> ((s, dir) => {
      // Morton code over (user, hour) — the write-side clustering key;
      // the oracle recomputes the interleave with the same exact
      // integer shift/mask arithmetic. Hour bucket via the
      // subtract-pmod-then-div idiom (RangeJoin.bucketOf): sign-safe
      // exact floor, matching DuckDB's `//` even pre-epoch — bare
      // `div` truncates toward zero and would diverge there
      val us = unix_micros(col("ts"))
      val hr = idiv(
        us - pmod(us, lit(3600000000L)), lit(3600000000L))
        .bitwiseAND(lit(0xFFFFL))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), hr.as("hr"))
        .withColumn("z", Layout.zorder2(col("user_id"), col("hr")))
        .orderBy(col("z"), col("event_id"))
    }),
    "q_cube" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("double").as("sum_bal"))
        .orderBy(col("n_name").asc_nulls_first,
          col("c_mktsegment").asc_nulls_first)
    }),
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupingSets(
          Seq(Seq(col("n_name")), Seq(col("c_mktsegment")), Seq.empty),
          col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("double").as("sum_bal"))
        .orderBy(col("n_name").asc_nulls_first,
          col("c_mktsegment").asc_nulls_first)
    }),
    "q_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
        .intersect(c.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")))
        .orderBy(col("c_custkey"))
    }),
    "q_salted_join" -> ((s, dir) => {
      // SkewJoin must be value-identical to the plain join (oracle is
      // the unsalted SQL join).
      SkewJoin.saltedJoin(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount")),
        t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
          col("o_orderpriority")),
        Seq("l_orderkey"), saltFactor = 8)
        .groupBy(col("o_orderpriority"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),
    "q_range_join" -> ((s, dir) => {
      // point-in-interval attribution: every event back to the user
      // session that contains it (1:1 by construction — sessions
      // partition a user's events), as a bucketed equi-join, not a
      // BNLJ inequality join
      val ev = t(s, dir, "events")
      RangeJoin.pointInInterval(
        ev.select(col("user_id"), col("ts"), col("event_id")),
        Events.sessionize(ev), keys = Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("session_start"))
        .orderBy(col("event_id"))
    }),
    "q_asof_join" -> ((s, dir) => {
      // point-in-time: each event joined to the user's latest order at
      // or before the event time (right side deduped to unique
      // (key, time) — as-of is ambiguous otherwise)
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsOfJoin.asofJoin(
        t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts")),
        ord, "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("o_orderkey", "o_orderdate"))
        .orderBy(col("event_id"))
    }),
    "q_scalar_subquery" -> ((s, dir) => {
      // correlated max-per-customer, expressed as agg + broadcast join
      // (Catalyst would decorrelate the subquery the same way)
      val maxo = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(max(col("o_totalprice")).as("max_price"))
      t(s, dir, "customer")
        .join(maxo, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("max_price"))
        .orderBy(col("c_custkey"))
    }),
    "q_union_all" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_acctbal") > 9000).select(col("c_custkey"))
        .unionAll(c.filter(col("c_mktsegment") === "MACHINERY")
          .select(col("c_custkey")))
        .groupBy(col("c_custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_custkey"))
    }),
    "q_outer_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 350000),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big_orders"),
          coalesce(sum(col("o_totalprice").cast("decimal(18,2)")),
            lit(0).cast("decimal(18,2)")).cast("double").as("sum_big"))
        .orderBy(col("c_custkey"))
    }),
    "q_sql_functions" -> ((s, dir) => {
      graft.functions.registerSql(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_documents")
      s.sql("""
        SELECT doc_id,
               sdbm_hash(doc_id, text) AS h,
               simhash64(split(text, ' ')) AS sh,
               size(word_shingles(split(text, ' '), 3)) AS n_shingles,
               size(shingle_hashes(split(text, ' '), 3)) AS n_distinct_shingles,
               shared_count(shingle_hashes(split(text, ' '), 3),
                            shingle_hashes(split(text, ' '), 3)) AS self_shared
        FROM graft_documents ORDER BY doc_id""")
    }),
    "q_udtf" -> ((s, dir) => {
      // the UDTF leg of the UDF/UDAF/UDTF surface: chunk_text is a
      // registered Catalyst Generator, so it resolves in the SQL
      // table-function position (LATERAL VIEW) like explode — one
      // (chunk_id, chunk) row per overlapping 120-char window,
      // bit-identical to the relational TextStats.chunk formulation
      // (which stays codegen'd and is the scale path; this proves the
      // SQL-surface capability)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_udtf")
      s.sql("""
        SELECT doc_id, c.chunk_id, c.chunk
        FROM graft_docs_udtf
        LATERAL VIEW chunk_text(text, 120, 30) c AS chunk_id, chunk
        ORDER BY doc_id, chunk_id""")
    }),
    "q_listagg" -> ((s, dir) => {
      // ordered string aggregation (SQL:2016 listagg, new in 4.1):
      // WITHIN GROUP pins element order so the result is
      // deterministic under any partitioning
      t(s, dir, "nation").createOrReplaceTempView("graft_nation_la")
      s.sql("""
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
                 AS names
        FROM graft_nation_la GROUP BY n_regionkey ORDER BY n_regionkey""")
    }),
    "q_recursive_cte" -> ((s, dir) => {
      // recursive CTE (Spark 4.1): bounded-depth hierarchy flattening
      // — every node's root ancestor and depth in a synthetic decimal
      // tree (parent = id div 10) over customers. Spark executes
      // recursion LEVEL BY LEVEL (one plan iteration per level), so
      // the shape only scales when depth is bounded — this tree is
      // ≤5 levels at any SF, vs the divergent date-spine formulation
      // (thousands of levels) that a Spark deployment must avoid.
      // Seed = single-digit ids; id 0's 0->0 self-edge is excluded
      // from the recursion or it never terminates.
      t(s, dir, "customer").createOrReplaceTempView("graft_cust_rec")
      s.sql("""
        WITH RECURSIVE e AS (
          SELECT c_custkey AS id, c_custkey div 10 AS parent
          FROM graft_cust_rec),
        walk(id, root, depth) AS (
          SELECT id, id, 0 FROM e WHERE id < 10
          UNION ALL
          SELECT e.id, w.root, w.depth + 1
          FROM e JOIN walk w ON e.parent = w.id
          WHERE e.id >= 10)
        SELECT id, root, depth FROM walk ORDER BY id""")
    }),
    "q_collation" -> ((s, dir) => {
      // Spark 4 collation support: grouping under UTF8_LCASE merges
      // case variants at the COMPARISON level (no lower() rewrite of
      // the data); the output key is normalized so both engines emit
      // identical text. Mixed case is injected deterministically.
      t(s, dir, "events").createOrReplaceTempView("graft_events_coll")
      s.sql("""
        SELECT lower(k) AS etype, count(*) AS n FROM (
          SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                      ELSE event_type END COLLATE UTF8_LCASE AS k
          FROM graft_events_coll) GROUP BY k ORDER BY etype""")
    }),
    "q_variant" -> ((s, dir) => {
      // Spark 4 native semi-structured ingestion: compose a nested
      // JSON doc (deterministic fixture injection, like the scrub
      // queries), parse ONCE to VARIANT, extract typed fields by
      // path at query time — the open-schema shape where no schema
      // is declared up front and each field is typed at extraction.
      // Extracted outputs are plain scalars so the DuckDB JSON twin
      // hash-compares; the VARIANT stays internal (parquet has no
      // comparable physical rendering). try_variant_get probes a
      // missing path → null, not failure.
      val ev = t(s, dir, "events")
      val j = concat(lit("""{"meta":{"type":""""), col("event_type"),
        lit("""","uid":"""), col("user_id"),
        lit("""},"payload":"""),
        coalesce(col("props"), lit("{}")), lit("}"))
      ev.select(col("event_id"), parse_json(j).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.meta.type", "string").as("etype"),
          variant_get(col("v"), "$.meta.uid", "bigint").as("uid"),
          variant_get(col("v"), "$.payload.k", "bigint").as("k"),
          try_variant_get(col("v"), "$.payload.missing", "bigint")
            .as("missing"))
        .orderBy(col("event_id"))
    }),
    "q_variant_agg" -> ((s, dir) => {
      // variant extractions flow through relational ops like any
      // column: group by a path extraction, sum another — proving
      // VARIANT composes with the agg pipeline (partial+final hash
      // agg), not just row-at-a-time projection
      val ev = t(s, dir, "events")
      val j = concat(lit("""{"meta":{"type":""""), col("event_type"),
        lit("""","uid":"""), col("user_id"),
        lit("""},"payload":"""),
        coalesce(col("props"), lit("{}")), lit("}"))
      ev.select(parse_json(j).as("v"))
        .groupBy(variant_get(col("v"), "$.meta.type", "string").as("etype"))
        .agg(sum(variant_get(col("v"), "$.payload.k", "bigint")).as("k_sum"),
          count(lit(1)).as("n"))
        .orderBy(col("etype"))
    }),

    "q_udaf" -> ((s, dir) => {
      // quantity-weighted mean price per return flag via the exact
      // integer-weighted-mean Aggregator: value pre-quantized to cents
      // (round-half-up of price*100 — both engines round positive
      // halves identically), weight = integral l_quantity. All
      // accumulation is long arithmetic; the single final division is
      // the only FP op, so the result is merge-order-independent and
      // hash-comparable to the oracle's SUM/SUM twin.
      graft.functions.Udafs.register(s)
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("l_returnflag"))
        .agg(expr("weighted_mean_cents(cents, qty)").as("wmean_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),
    "q_welch_ttest" -> ((s, dir) =>
      // Welch t² — body extracted to [[welchT2]] so OverflowSpec can
      // drive the exact expressions at claimed-magnitude inputs.
      welchT2(t(s, dir, "events"))),
    "q_skyline" -> ((s, dir) => {
      // Pareto frontier of the part catalog: minimize retail price
      // (exact cents), maximize size — via the bucketed running-max
      // plan (no quadratic self-join, no global sort window).
      Skyline.pareto2d(
        t(s, dir, "part").select(col("p_partkey").as("id"),
          round(col("p_retailprice") * 100).cast("long").as("cost"),
          col("p_size").cast("long").as("gain")),
        bucketWidth = 100L)
        .orderBy(col("cost"), col("id"))
    }),
    "q_bucket_recon" -> ((s, dir) => {
      // Merkle-style snapshot reconciliation: sparse synthetic churn
      // (one add, one remove, one change — all ids present at every
      // SF) so the digest phase prunes all but ≤3 of the ~keyspace/100
      // buckets before any row-level compare runs.
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      val oldS = base.filter(col("doc_id") =!= 277)
      val newS = base.filter(col("doc_id") =!= 137)
        .withColumn("n_chars",
          when(col("doc_id") === 421, col("n_chars") + 7)
            .otherwise(col("n_chars")))
      Diff.bucketReconcile(oldS, newS, "doc_id",
        expr("(doc_id * 1000003 + n_chars) % 1000000007"),
        bucketWidth = 100L)
        .orderBy(col("doc_id"))
    }),
    "q_nearest_join" -> ((s, dir) => {
      // nearest order within ±3 days of each event (either
      // direction), per user — the bidirectional as-of variant
      val ev = t(s, dir, "events").select(col("event_id"),
        col("user_id"), unix_micros(col("ts")).as("t"))
      val or = t(s, dir, "orders")
        .groupBy(col("o_custkey"),
          unix_micros(col("o_orderdate")).as("ot"))
        .agg(min(col("o_orderkey")).as("o_orderkey"))
      AsOfJoin.nearestJoin(ev, or, "user_id", "o_custkey", "t", "ot",
        Seq("o_orderkey"), toleranceUs = 259200000000L)
        .orderBy(col("event_id"))
    }),
    "q_did" -> ((s, dir) => {
      // difference-in-differences on the purchase "treatment": four
      // (treat × pre/post) cell means in truncated micro-units, DiD =
      // (m_tp − m_tr) − (m_cp − m_cr). Truncating per-cell means keep
      // the arithmetic int64-safe at ANY scale factor (the cleared-
      // denominator form overflows DECIMAL(38) near sf100). One
      // data-sized aggregation; the cut day is a 1-row broadcast.
      val ev = t(s, dir, "events").select(
        (col("event_type") === "purchase").as("treat"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      val cut = ev.agg((min(col("day")) + 15).as("cut"))
      val post = col("day") >= col("cut")
      val a = ev.crossJoin(cut).agg(
        count(when(col("treat") && post, 1)).as("n_tp"),
        sum(when(col("treat") && post, col("cents"))).as("s_tp"),
        count(when(col("treat") && !post, 1)).as("n_tr"),
        sum(when(col("treat") && !post, col("cents"))).as("s_tr"),
        count(when(!col("treat") && post, 1)).as("n_cp"),
        sum(when(!col("treat") && post, col("cents"))).as("s_cp"),
        count(when(!col("treat") && !post, 1)).as("n_cr"),
        sum(when(!col("treat") && !post, col("cents"))).as("s_cr"))
      a.select(col("n_tp"), col("n_tr"), col("n_cp"), col("n_cr"),
          expr("(1000000 * s_tp) div n_tp").as("m_tp"),
          expr("(1000000 * s_tr) div n_tr").as("m_tr"),
          expr("(1000000 * s_cp) div n_cp").as("m_cp"),
          expr("(1000000 * s_cr) div n_cr").as("m_cr"))
        .withColumn("did_micro",
          col("m_tp") - col("m_tr") - col("m_cp") + col("m_cr"))
    }),
    "q_block_bootstrap" -> ((s, dir) => {
      // distributed standard-error estimate without resampling: 32
      // deterministic key blocks, per-block exact integer means
      // (micro-cents), then the variance of block means — the block
      // bootstrap / batch-means estimator. One data-sized hash
      // aggregation; the block rollup is 32 rows. Final variance and
      // se² are doubles OF EXACT RATIONALS (q_stats_agg discipline).
      val d = (c: Column) => c.cast("decimal(38,0)")
      val o = t(s, dir, "orders").select(
        (col("o_orderkey") % 32).as("blk"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val blocks = o.groupBy(col("blk"))
        .agg(count(lit(1)).as("n_b"), sum(col("cents")).as("s_b"))
        .withColumn("mbn", lit(1000000L) * d(col("s_b")))
        .withColumn("mb", expr("mbn div n_b"))
      blocks.agg(count(lit(1)).as("n_blocks"),
          sum(col("n_b")).as("n_rows"), sum(col("s_b")).as("s_cents"),
          sum(col("mb")).as("sm"), sum(d(col("mb")) * col("mb")).as("smm"))
        .withColumn("mean_num", lit(1000000L) * d(col("s_cents")))
        .withColumn("vnum",
          d(col("n_blocks")) * col("smm") - d(col("sm")) * col("sm"))
        .withColumn("vden",
          d(col("n_blocks")) * (col("n_blocks") - 1))
        .select(col("n_blocks"), col("n_rows"),
          expr("mean_num div n_rows").as("mean_micro"),
          (col("vnum").cast("double") / col("vden").cast("double"))
            .as("var_mb"),
          (col("vnum").cast("double") /
            (col("vden") * d(col("n_blocks"))).cast("double"))
            .as("se2_micro"))
    }),
    "q_cuped" -> ((s, dir) => {
      // CUPED variance reduction (Deng et al., WSDM 2013): per-user
      // pre-period spend (first 15 days) as the covariate for the
      // post-period outcome; θ = cov/var and the achievable variance
      // reduction ρ² from exact integer sufficient statistics. The
      // cut day derives from the data (min day + 15), attached as a
      // 1-row broadcast, so the operator is a pure function.
      val d = (c: Column) => c.cast("decimal(38,0)")
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      val cut = ev.agg((min(col("day")) + 15).as("cut"))
      val ux = ev.crossJoin(cut) // 1-row broadcast
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("cut"), col("cents"))
            .otherwise(0L)).as("x"),
          sum(when(col("day") >= col("cut"), col("cents"))
            .otherwise(0L)).as("y"))
      ux.agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(d(col("x")) * col("y")).as("sxy"),
          sum(d(col("x")) * col("x")).as("sxx"),
          sum(d(col("y")) * col("y")).as("syy"))
        .withColumn("num",
          d(col("n_users")) * col("sxy") - d(col("sx")) * col("sy"))
        .withColumn("denx",
          d(col("n_users")) * col("sxx") - d(col("sx")) * col("sx"))
        .withColumn("deny",
          d(col("n_users")) * col("syy") - d(col("sy")) * col("sy"))
        .select(col("n_users"), col("sx"), col("sy"),
          (col("num").cast("double") / col("denx").cast("double"))
            .as("theta"),
          (col("num").cast("double") * col("num").cast("double") /
            (col("denx").cast("double") * col("deny").cast("double")))
            .as("var_reduction"))
    }),
    "q_quantile_norm" -> ((s, dir) => {
      // align per-source n_chars distributions onto the pooled corpus
      // distribution by exact rank mapping — see QuantileNorm
      QuantileNorm.quantileNormalize(
        t(s, dir, "documents").select(col("doc_id").as("id"),
          col("source").as("group"), col("n_chars").as("v")))
        .select(col("id").as("doc_id"), col("group").as("source"),
          col("v").as("n_chars"), col("norm_v").as("norm_chars"))
        .orderBy(col("doc_id"))
    }),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "q_nullsafe_join" -> """
      WITH a AS (SELECT n_nationkey AS ak,
                   CASE WHEN n_nationkey % 5 = 0 THEN NULL
                        ELSE n_regionkey END AS k FROM nation),
      b AS (SELECT n_nationkey AS bk,
              CASE WHEN n_nationkey % 3 = 0 THEN NULL
                   ELSE n_regionkey END AS k2 FROM nation)
      SELECT ak, bk, k FROM a JOIN b ON k IS NOT DISTINCT FROM k2
      ORDER BY ak, bk""",
    "q_lateral_join" -> """
      SELECT c.c_custkey, l.n_orders, l.max_price
      FROM customer c,
      LATERAL (SELECT count(*) AS n_orders,
                      max(o_totalprice) AS max_price
               FROM orders o WHERE o.o_custkey = c.c_custkey) l
      WHERE l.n_orders > 0
      ORDER BY c.c_custkey""",
    "q_exists_subquery" -> """
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 100000)
        AND NOT EXISTS (SELECT 1 FROM orders o2
                        WHERE o2.o_custkey = c.c_custkey
                          AND o2.o_orderpriority = '1-URGENT')
      ORDER BY c_custkey""",
    "q_hof_arrays" -> """
      WITH g AS (SELECT l_orderkey,
                   list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
                 FROM lineitem GROUP BY 1)
      SELECT l_orderkey,
             CAST(len(qs) AS INT) AS n_items,
             CAST(len(list_filter(qs, q -> q > 25)) AS INT) AS n_big,
             CAST(list_sum(qs) AS BIGINT) AS total_qty,
             CAST(list_sum(list_transform(qs, q -> q * q)) AS BIGINT)
               AS sum_sq
      FROM g ORDER BY l_orderkey""",
    "q_json_extract" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT) AS sum_k,
             min(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS min_k,
             max(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS max_k
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q_zorder" -> """
      WITH e AS (SELECT event_id, user_id,
                   (epoch_us(ts) // 3600000000) & 65535 AS hr
                 FROM events),
      s1 AS (SELECT event_id, user_id, hr,
               (user_id & 65535) AS ax, (hr & 65535) AS bx FROM e),
      s2 AS (SELECT event_id, user_id, hr,
               ((ax | (ax << 8)) & 16711935) AS ax,
               ((bx | (bx << 8)) & 16711935) AS bx FROM s1),
      s3 AS (SELECT event_id, user_id, hr,
               ((ax | (ax << 4)) & 252645135) AS ax,
               ((bx | (bx << 4)) & 252645135) AS bx FROM s2),
      s4 AS (SELECT event_id, user_id, hr,
               ((ax | (ax << 2)) & 858993459) AS ax,
               ((bx | (bx << 2)) & 858993459) AS bx FROM s3),
      s5 AS (SELECT event_id, user_id, hr,
               ((ax | (ax << 1)) & 1431655765) AS ax,
               ((bx | (bx << 1)) & 1431655765) AS bx FROM s4)
      SELECT event_id, user_id, hr,
             CAST(ax | (bx << 1) AS BIGINT) AS z
      FROM s5 ORDER BY z, event_id""",
    "q_cube" -> """
      SELECT n_name, c_mktsegment, count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY CUBE (n_name, c_mktsegment)
      ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""",
    "q_grouping_sets" -> """
      SELECT n_name, c_mktsegment, count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
      ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""",
    "q_intersect" -> """
      (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      INTERSECT
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      ORDER BY c_custkey""",
    "q_salted_join" -> """
      SELECT o_orderpriority,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_range_join" -> """
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
      sess AS (SELECT user_id, min(ts) AS session_start,
                      max(ts) AS session_end
               FROM t GROUP BY user_id, sid)
      SELECT e.event_id, e.user_id, x.session_start
      FROM events e JOIN sess x ON e.user_id = x.user_id
        AND e.ts >= x.session_start AND e.ts <= x.session_end
      ORDER BY e.event_id""",
    "q_asof_join" -> """
      WITH ord AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
                   FROM orders GROUP BY 1, 2)
      SELECT event_id, user_id, ts, o.o_orderkey, o.o_orderdate
      FROM events e ASOF LEFT JOIN ord o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      ORDER BY event_id""",
    "q_scalar_subquery" -> """
      SELECT c_custkey,
             (SELECT max(o_totalprice) FROM orders
              WHERE o_custkey = c_custkey) AS max_price
      FROM customer ORDER BY c_custkey""",
    "q_union_all" -> """
      SELECT c_custkey, count(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        UNION ALL
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY') u
      GROUP BY c_custkey ORDER BY c_custkey""",
    "q_outer_join" -> """
      SELECT c_custkey, count(o_orderkey) AS n_big_orders,
             CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))),
                      CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_big
      FROM customer LEFT JOIN (SELECT * FROM orders
                               WHERE o_totalprice > 350000) o
           ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey""",
    "q_udaf" -> """
      SELECT l_returnflag,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS DOUBLE)
               / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
               / 100.0 AS wmean_price,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // stride = 120 - 30 = 90; n_chunks = ceil((len - overlap)/stride),
    // min 1 — the same closed form the generator and TextStats.chunk use
    "q_udtf" -> """
      WITH c AS (SELECT doc_id, text,
          greatest(1, (length(text) - 30 + 89) // 90) AS n_chunks
        FROM documents)
      SELECT doc_id, i AS chunk_id,
             substr(text, CAST(i * 90 + 1 AS INT), 120) AS chunk
      FROM c, UNNEST(range(0, n_chunks)) AS t(i)
      ORDER BY doc_id, chunk_id""",
    "q_listagg" -> """
      SELECT n_regionkey,
             string_agg(n_name, ',' ORDER BY n_name) AS names
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "q_recursive_cte" -> """
      WITH RECURSIVE e AS (
        SELECT c_custkey AS id, c_custkey // 10 AS parent FROM customer),
      walk(id, root, depth) AS (
        SELECT id, id, 0 FROM e WHERE id < 10
        UNION ALL
        SELECT e.id, w.root, w.depth + 1
        FROM e JOIN walk w ON e.parent = w.id
        WHERE e.id >= 10)
      SELECT id, root, depth FROM walk ORDER BY id""",
    // DuckDB groups by lower() — same partition as Spark's UTF8_LCASE
    // comparison on this ASCII domain; both emit the normalized key
    "q_collation" -> """
      SELECT lower(k) AS etype, count(*) AS n FROM (
        SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                    ELSE event_type END AS k
        FROM events) t GROUP BY lower(k) ORDER BY etype""",
    // DuckDB's JSON path functions are the oracle twin of Spark's
    // VARIANT extraction; both engines see the identical composed doc
    "q_variant" -> """
      WITH j AS (SELECT event_id,
          concat('{"meta":{"type":"', event_type, '","uid":', user_id,
                 '},"payload":', coalesce(props, '{}'), '}') AS v FROM events)
      SELECT event_id,
             json_extract_string(v, '$.meta.type') AS etype,
             CAST(json_extract(v, '$.meta.uid') AS BIGINT) AS uid,
             CAST(json_extract(v, '$.payload.k') AS BIGINT) AS k,
             CAST(json_extract(v, '$.payload.missing') AS BIGINT) AS missing
      FROM j ORDER BY event_id""",
    "q_variant_agg" -> """
      WITH j AS (SELECT
          concat('{"meta":{"type":"', event_type, '","uid":', user_id,
                 '},"payload":', coalesce(props, '{}'), '}') AS v FROM events)
      SELECT json_extract_string(v, '$.meta.type') AS etype,
             CAST(sum(CAST(json_extract(v, '$.payload.k') AS BIGINT))
               AS BIGINT) AS k_sum,
             count(*) AS n
      FROM j GROUP BY 1 ORDER BY etype""",
    // chr(769)/chr(776) are the combining acute/diaeresis — DuckDB's
    // utf8proc implements the same UAX #15 tables as java.text.Normalizer.
    // (no line may START with || — oracleSql's stripMargin eats a
    // leading pipe)
    "q_welch_ttest" -> """
      WITH q AS (SELECT event_type,
              CAST(round(value * 100) AS BIGINT) AS x FROM events),
      st AS (SELECT event_type, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               sum(CAST(x AS HUGEINT) * x) AS qx
             FROM q GROUP BY 1),
      p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
              a.n AS n_a, b.n AS n_b,
              CAST(a.sx AS HUGEINT) * b.n
                - CAST(b.sx AS HUGEINT) * a.n AS aa,
              CAST(a.n AS HUGEINT) * a.qx
                - CAST(a.sx AS HUGEINT) * a.sx AS bb,
              CAST(b.n AS HUGEINT) * b.qx
                - CAST(b.sx AS HUGEINT) * b.sx AS cc
            FROM st a JOIN st b ON a.event_type < b.event_type)
      SELECT type_a, type_b, n_a, n_b,
             CAST(aa // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
               AS mean_diff_centi,
             (CAST(CAST(aa AS VARCHAR) AS DOUBLE)
                * CAST(CAST(aa AS VARCHAR) AS DOUBLE)
                * CAST(n_a - 1 AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)) /
               (CAST(CAST(bb AS VARCHAR) AS DOUBLE)
                  * CAST(n_b - 1 AS DOUBLE) * CAST(n_b AS DOUBLE)
                  * CAST(n_b AS DOUBLE)
                + CAST(CAST(cc AS VARCHAR) AS DOUBLE)
                  * CAST(n_a - 1 AS DOUBLE) * CAST(n_a AS DOUBLE)
                  * CAST(n_a AS DOUBLE))
               AS t2
      FROM p ORDER BY type_a, type_b""",
    "q_skyline" -> """
      WITH p AS (SELECT p_partkey AS id,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS cost,
                   CAST(p_size AS BIGINT) AS gain FROM part)
      SELECT id, cost, gain FROM p a
      WHERE NOT EXISTS (SELECT 1 FROM p b
        WHERE b.cost <= a.cost AND b.gain >= a.gain
          AND (b.cost < a.cost OR b.gain > a.gain))
      ORDER BY cost, id""",
    "q_nearest_join" -> """
      WITH r0 AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS t0,
               min(o_orderkey) AS okey FROM orders GROUP BY 1, 2),
      l AS (SELECT event_id, user_id, user_id AS k, epoch_us(ts) AS t
            FROM events),
      u AS (SELECT k, t, 1 AS side, event_id, user_id,
              CAST(NULL AS BIGINT) AS rv, CAST(NULL AS BIGINT) AS rt
            FROM l
            UNION ALL
            SELECT k, t0, 0, NULL, NULL, okey, t0 FROM r0),
      w AS (SELECT u.*,
              last_value(rv IGNORE NULLS) OVER wb AS bv,
              last_value(rt IGNORE NULLS) OVER wb AS bt,
              first_value(rv IGNORE NULLS) OVER wf AS fv,
              first_value(rt IGNORE NULLS) OVER wf AS ft
            FROM u
            WINDOW wb AS (PARTITION BY k ORDER BY t, side
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY k ORDER BY t, side
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      x AS (SELECT event_id, user_id, t,
              bt IS NOT NULL AND t - bt <= 259200000000 AS bok,
              ft IS NOT NULL AND ft - t <= 259200000000 AS fok,
              t - bt AS bg, ft - t AS fg, bv, fv
            FROM w WHERE side = 1)
      SELECT event_id, user_id, t,
             CASE WHEN bok AND (NOT fok OR bg <= fg) THEN bv
                  WHEN fok THEN fv END AS o_orderkey,
             CASE WHEN bok AND (NOT fok OR bg <= fg) THEN bg
                  WHEN fok THEN fg END AS gap_us
      FROM x ORDER BY event_id""",
    "q_did" -> """
      WITH ev AS (SELECT event_type = 'purchase' AS treat,
               epoch_us(ts) // 86400000000 AS day,
               CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      cut AS (SELECT min(day) + 15 AS cut FROM ev),
      a AS (SELECT
              count(CASE WHEN treat AND day >= cut THEN 1 END) AS n_tp,
              sum(CASE WHEN treat AND day >= cut THEN cents END) AS s_tp,
              count(CASE WHEN treat AND day < cut THEN 1 END) AS n_tr,
              sum(CASE WHEN treat AND day < cut THEN cents END) AS s_tr,
              count(CASE WHEN NOT treat AND day >= cut THEN 1 END)
                AS n_cp,
              sum(CASE WHEN NOT treat AND day >= cut THEN cents END)
                AS s_cp,
              count(CASE WHEN NOT treat AND day < cut THEN 1 END)
                AS n_cr,
              sum(CASE WHEN NOT treat AND day < cut THEN cents END)
                AS s_cr
            FROM ev, cut),
      m AS (SELECT n_tp, n_tr, n_cp, n_cr,
              CAST((1000000 * CAST(s_tp AS HUGEINT)) // n_tp AS BIGINT)
                AS m_tp,
              CAST((1000000 * CAST(s_tr AS HUGEINT)) // n_tr AS BIGINT)
                AS m_tr,
              CAST((1000000 * CAST(s_cp AS HUGEINT)) // n_cp AS BIGINT)
                AS m_cp,
              CAST((1000000 * CAST(s_cr AS HUGEINT)) // n_cr AS BIGINT)
                AS m_cr
            FROM a)
      SELECT n_tp, n_tr, n_cp, n_cr, m_tp, m_tr, m_cp, m_cr,
             m_tp - m_tr - m_cp + m_cr AS did_micro FROM m""",
    "q_block_bootstrap" -> """
      WITH o AS (SELECT o_orderkey % 32 AS blk,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             FROM orders),
      b AS (SELECT blk, count(*) AS n_b,
              CAST(sum(cents) AS BIGINT) AS s_b FROM o GROUP BY 1),
      m AS (SELECT blk, n_b, s_b,
              (1000000 * CAST(s_b AS HUGEINT)) // n_b AS mb FROM b),
      agg AS (SELECT count(*) AS n_blocks,
                CAST(sum(n_b) AS BIGINT) AS n_rows,
                CAST(sum(s_b) AS BIGINT) AS s_cents,
                CAST(sum(mb) AS HUGEINT) AS sm,
                sum(CAST(mb AS HUGEINT) * mb) AS smm FROM m),
      r AS (SELECT n_blocks, n_rows,
              (1000000 * CAST(s_cents AS HUGEINT)) // n_rows AS mean_micro,
              CAST(n_blocks AS HUGEINT) * smm - sm * sm AS vnum,
              CAST(n_blocks AS HUGEINT) * (n_blocks - 1) AS vden
            FROM agg)
      SELECT n_blocks, n_rows, CAST(mean_micro AS BIGINT) AS mean_micro,
             CAST(CAST(vnum AS VARCHAR) AS DOUBLE) /
               CAST(CAST(vden AS VARCHAR) AS DOUBLE) AS var_mb,
             CAST(CAST(vnum AS VARCHAR) AS DOUBLE) /
               CAST(CAST(vden * n_blocks AS VARCHAR) AS DOUBLE)
               AS se2_micro
      FROM r""",
    "q_cuped" -> """
      WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
               CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      cut AS (SELECT min(day) + 15 AS cut FROM ev),
      ux AS (SELECT user_id,
               CAST(sum(CASE WHEN day < cut THEN cents ELSE 0 END)
                 AS BIGINT) AS x,
               CAST(sum(CASE WHEN day >= cut THEN cents ELSE 0 END)
                 AS BIGINT) AS y
             FROM ev, cut GROUP BY 1),
      s AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
              CAST(sum(y) AS BIGINT) AS sy,
              sum(CAST(x AS HUGEINT) * y) AS sxy,
              sum(CAST(x AS HUGEINT) * x) AS sxx,
              sum(CAST(y AS HUGEINT) * y) AS syy FROM ux),
      r AS (SELECT n, sx, sy,
              CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
              CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS denx,
              CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
            FROM s)
      SELECT n AS n_users, sx, sy,
             CAST(CAST(num AS VARCHAR) AS DOUBLE) /
               CAST(CAST(denx AS VARCHAR) AS DOUBLE) AS theta,
             CAST(CAST(num AS VARCHAR) AS DOUBLE) *
               CAST(CAST(num AS VARCHAR) AS DOUBLE) /
               (CAST(CAST(denx AS VARCHAR) AS DOUBLE) *
                CAST(CAST(deny AS VARCHAR) AS DOUBLE)) AS var_reduction
      FROM r""",
    "q_quantile_norm" -> """
      WITH d AS (SELECT doc_id AS id, source AS grp, n_chars AS v
                 FROM documents),
      rk AS (SELECT id, grp, v,
               row_number() OVER (PARTITION BY grp ORDER BY v, id) AS r
             FROM d),
      gn AS (SELECT grp, count(*) AS n FROM d GROUP BY 1),
      vc AS (SELECT v, count(*) AS c FROM d GROUP BY 1),
      cum AS (SELECT v AS pv,
                sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) - c AS cum_prev,
                sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS cum
              FROM vc),
      t AS (SELECT count(*) AS big_n FROM d),
      r2 AS (SELECT rk.id, rk.grp, rk.v,
               (rk.r * t.big_n + gn.n - 1) // gn.n AS rstar
             FROM rk JOIN gn USING (grp), t)
      SELECT r2.id AS doc_id, r2.grp AS source, r2.v AS n_chars,
             cum.pv AS norm_chars
      FROM r2 JOIN cum ON r2.rstar > cum.cum_prev
                      AND r2.rstar <= cum.cum
      ORDER BY doc_id""",
    // 3 Bellman–Ford relaxation rounds unrolled
    "q_bucket_recon" -> """
      WITH o AS (SELECT doc_id, n_chars FROM documents
                 WHERE doc_id <> 277),
      nw AS (SELECT doc_id, CASE WHEN doc_id = 421 THEN n_chars + 7
                              ELSE n_chars END AS n_chars
             FROM documents WHERE doc_id <> 137),
      of AS (SELECT doc_id, doc_id // 100 AS bucket,
               (doc_id * 1000003 + n_chars) % 1000000007 AS fp FROM o),
      nf AS (SELECT doc_id, doc_id // 100 AS bucket,
               (doc_id * 1000003 + n_chars) % 1000000007 AS fp FROM nw),
      dgo AS (SELECT bucket, count(*) AS n, sum(fp) AS s
              FROM of GROUP BY 1),
      dgn AS (SELECT bucket, count(*) AS n, sum(fp) AS s
              FROM nf GROUP BY 1),
      db AS (SELECT coalesce(dgo.bucket, dgn.bucket) AS bucket
             FROM dgo FULL OUTER JOIN dgn ON dgo.bucket = dgn.bucket
             WHERE dgo.n IS DISTINCT FROM dgn.n
                OR dgo.s IS DISTINCT FROM dgn.s),
      oo AS (SELECT of.bucket, of.doc_id, of.fp
             FROM of JOIN db USING (bucket)),
      nn AS (SELECT nf.bucket, nf.doc_id, nf.fp
             FROM nf JOIN db USING (bucket))
      SELECT bucket, doc_id, op, old_fp, new_fp FROM (
        SELECT coalesce(oo.bucket, nn.bucket) AS bucket,
               coalesce(oo.doc_id, nn.doc_id) AS doc_id,
               CASE WHEN oo.doc_id IS NULL THEN 'A'
                    WHEN nn.doc_id IS NULL THEN 'R'
                    WHEN oo.fp <> nn.fp THEN 'C' END AS op,
               oo.fp AS old_fp, nn.fp AS new_fp
        FROM oo FULL OUTER JOIN nn
          ON oo.bucket = nn.bucket AND oo.doc_id = nn.doc_id) q
      WHERE op IS NOT NULL ORDER BY doc_id""",
  )
}
