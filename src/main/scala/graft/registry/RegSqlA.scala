package graft
package registry

import graft.operators._
import graft.SparkEntry._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SqlA query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegSqlA {

  /** q_window_ratio engine body: each line's share of its order's
    * revenue in exact integer basis points. Clearing claim (proven at
    * claimed magnitudes by OverflowSpec): the window sum runs over
    * int64 cents — per-order width is SF-invariant (≤7 lines), so
    * `order_cents ≤ 7·max_cents` and `10000·cents` stays far inside
    * int64 even at fixture-max ×100 prices (1.1e9 cents → 1.1e13).
    */
  private[graft] def windowRatio(lineitem: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
    lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      .withColumn("order_cents", sum(col("cents")).over(w))
      .selectExpr("l_orderkey", "l_linenumber", "cents",
        "(10000 * cents) div order_cents AS share_bp")
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q_stats_agg engine body: exact least-squares regression per
    * group — quantize both variables to integer units through
    * DECIMAL, accumulate the five sufficient statistics exactly
    * (int64 sums; DECIMAL(38,0) for the cross products that overflow
    * int64), then derive slope / intercept / r² as IEEE doubles OF
    * EXACT RATIONALS — associativity-independent at any parallelism,
    * where a raw double covariance would drift with partition merge
    * order. DuckDB twin runs the same arithmetic in HUGEINT,
    * converted to DOUBLE through VARCHAR: DuckDB's direct
    * int128→double cast is 1 ulp off at 21 digits, while its string
    * parse is correctly rounded like Spark's BigDecimal path.
    *
    * Clearing claim (proven at claimed magnitudes by OverflowSpec):
    * at sf100 fixture domains (n≈2e8/group, x≤5e5, y≤1.1e9 quantized
    * units) the largest intermediate is numI = sy·sxx − sx·sxy
    * ≈ 1.1e37 < 10³⁸, so every DECIMAL(38,0) product clears; the
    * int64 sums clear at sy ≈ 2.2e17 < 9.2e18.
    */
  private[graft] def statsAgg(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(
      col("l_returnflag"),
      (col("l_quantity").cast("decimal(18,4)") * 10000)
        .cast("long").as("x"),
      (col("l_extendedprice").cast("decimal(18,4)") * 10000)
        .cast("long").as("y"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d(col("x")) * d(col("y"))).as("sxy"),
        sum(d(col("x")) * d(col("x"))).as("sxx"),
        sum(d(col("y")) * d(col("y"))).as("syy"))
      .select(col("l_returnflag"), col("n"), col("sx"), col("sy"), {
        val num = d(col("n")) * col("sxy") - d(col("sx")) * d(col("sy"))
        val den = d(col("n")) * col("sxx") - d(col("sx")) * d(col("sx"))
        val deny = d(col("n")) * col("syy") - d(col("sy")) * d(col("sy"))
        val numI = col("sy") * col("sxx") - d(col("sx")) * col("sxy")
        struct(
          (num.cast("double") / den.cast("double")).as("slope"),
          (numI.cast("double") / den.cast("double")).as("intercept"),
          (num.cast("double") * num.cast("double") /
            (den.cast("double") * deny.cast("double"))).as("r2"))
          .as("st")
      })
      .select(col("l_returnflag"), col("n"), col("sx"), col("sy"),
        col("st.slope").as("slope"), col("st.intercept").as("intercept"),
        col("st.r2").as("r2"))
      .orderBy(col("l_returnflag"))
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 30 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q_topk" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    }),
    "q_in_range" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderstatus").isin("O", "F") &&
          col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          // DECIMAL internally (associativity-exact), DOUBLE on the final
          // output: a DECIMAL output column stringifies with trailing
          // fractional zeros ('38.40') on one side of the driver's hash
          // compare vs shortest-repr ('38.4') on the other. Both engines
          // print the identical nearest-double for the same exact value.
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- relational core: agg / join / window / rollup / setops ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q_join_agg" -> ((s, dir) => {
      // Q5-style revenue per nation; nation (25 rows, O(1) at every SF)
      // broadcasts unconditionally, customer rides the bcDim size gate
      // (it grows with SF — hinted under the threshold, AQE above it).
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(bcDim(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),
    // ---- TPC-H composite shapes (multi-join + agg + top-k — the
    // canonical 100 TB warehouse workloads, adapted to the fixture
    // schema; revenue rides the decimal(18,4) quantization so both
    // engines hash identically) ----
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    }),
    "q_window_range" -> ((s, dir) => {
      // RANGE frame over event time: per user, events in the trailing
      // hour — ordered by exact integer µs so the frame bound is
      // engine-neutral (interval semantics over ns vs µs timestamps
      // are not)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"))
        .rangeBetween(-3600000000L, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("n_trailing_1h", count(lit(1)).over(w))
        .select(col("user_id"), col("event_id"), col("n_trailing_1h"))
        .orderBy(col("event_id"))
    }),
    "q_window_nav" -> ((s, dir) => {
      // navigation functions + ntile over one user-time window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .select(col("user_id"), col("event_id"),
          lag(col("event_id"), 1).over(w).as("prev_id"),
          lead(col("event_id"), 1).over(w).as("next_id"),
          first(col("event_id")).over(w).as("first_id"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy(col("event_id"))
    }),
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("double").as("sum_bal"))
        .orderBy(col("n_name").asc_nulls_first,
          col("c_mktsegment").asc_nulls_first)
    }),
    "q_setops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
        .except(c.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")))
        .orderBy(col("c_custkey"))
    }),
    "q_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),
    "q_map_funcs" -> ((s, dir) => {
      // map-typed column surface: build a per-user event_type→count
      // map with map_from_entries over a sorted entry array, then
      // interrogate it with try_element_at (ANSI element_at throws on
      // a missing key), map_filter, and map_entries. Maps are
      // UNORDERED — the hashed output renders entries through the
      // sorted array, never the map itself, and the oracle computes
      // the same answers relationally (DuckDB's MAP dialect differs;
      // the point is the Spark surface, the oracle just needs the
      // values).
      val counts = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("user_id"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("n")))))
          .as("m"))
        .select(
          col("user_id"),
          size(col("m")).cast("long").as("n_types"),
          coalesce(expr("try_element_at(m, 'click')"), lit(0L))
            .as("clicks"),
          size(map_filter(col("m"), (_, v) => v >= 10)).cast("long")
            .as("n_heavy"),
          array_join(transform(map_entries(col("m")),
            e => concat(e.getField("key"), lit(":"), e.getField("value"))),
            ",").as("summary"))
        .orderBy(col("user_id"))
    }),
    "q_window_ratio" -> ((s, dir) =>
      // percent-of-total window (ratio_to_report): each line's share
      // of its order's revenue in exact integer basis points — the
      // window sum runs over int64 cents, so shares are
      // partitioning-invariant (a double window sum would not be).
      // Body extracted to [[windowRatio]] so OverflowSpec can drive
      // the exact expressions at claimed-magnitude synthetic inputs.
      windowRatio(t(s, dir, "lineitem"))),
    "q_window_ignore_nulls" -> ((s, dir) => {
      // IGNORE NULLS navigation — sparse-observation forward fill:
      // value is observed only on purchase rows; every event carries
      // the most recent observation (last IGNORE NULLS, running
      // frame) and the user's first observation (first IGNORE NULLS,
      // whole-partition frame). One window shuffle on user_id.
      val v = when(col("event_type") === "purchase", col("value"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val fill = byUser
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = byUser
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        v.as("obs"),
        last(v, ignoreNulls = true).over(fill).as("filled"),
        first(v, ignoreNulls = true).over(whole).as("first_obs"))
        .orderBy(col("event_id"))
    }),
    "q_mode" -> ((s, dir) => {
      // exact mode with a deterministic tie-break (highest count,
      // smallest value wins): two hash aggregates + a top-1 rank that
      // WindowGroupLimit pre-truncates map-side — group-count-sized
      // state, no global sort, no collect.
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
      counts.withColumn("rk", row_number().over(
          Window.partitionBy(col("l_returnflag"))
            .orderBy(col("n").desc, col("l_quantity").asc)))
        .filter(col("rk") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("n"))
        .orderBy(col("l_returnflag"))
    }),
    "q_stats_agg" -> ((s, dir) =>
      // exact least-squares regression per group — body extracted to
      // [[statsAgg]] so OverflowSpec can drive the exact expressions
      // at claimed-magnitude synthetic inputs.
      statsAgg(t(s, dir, "lineitem"))),
    "dq_checks" -> ((s, dir) => {
      // declarative data-quality contract over a corpus drop: all six
      // row-level checks ride ONE aggregate pass, ALL Unique checks
      // fuse into one grouping-sets shuffle, referential integrity
      // one anti-join each — the whole report is 9 rows however big
      // the table
      import Expectations._
      val docs = t(s, dir, "documents")
      val report = Expectations.run(docs, Seq(
        NotNull("text"),
        InRange("n_chars", 1, 500),
        Matches("source", "^src[0-9]+$"),
        InSet("lang", Seq("en", "de", "fr", "es")),
        Predicate("len_eq_n_chars", length(col("text")) === col("n_chars")),
        Unique(Seq("doc_id")),
        Unique(Seq("text"))))
      val fkOrders = Expectations.refIntegrity(t(s, dir, "orders"),
        t(s, dir, "customer"), "o_custkey", "c_custkey")
      val fkEvents = Expectations.refIntegrity(t(s, dir, "events"),
        t(s, dir, "customer"), "user_id", "c_custkey")
      report.unionByName(fkOrders).unionByName(fkEvents)
        .orderBy(col("check"), col("detail"))
    }),
    "q_explode_outer" -> ((s, dir) => {
      // explode_outer: generator rows for non-empty arrays, a single
      // null row for empty/missing — the LEFT JOIN of generators. The
      // oracle IS that left join, relationally.
      val big = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity").cast("long")))
          .as("qs"))
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), explode_outer(col("qs")).as("big_qty"))
        .orderBy(col("o_orderkey"), col("big_qty").asc_nulls_first)
    }),
    "q_union_by_name" -> ((s, dir) => {
      // schema reconciliation union: inputs with different column
      // ORDER and a missing column union by NAME, the absent column
      // null-filled (allowMissingColumns) — position-based union
      // would scramble or reject these
      val c = t(s, dir, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val b = c.filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_name"), col("c_custkey"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy(col("c_custkey"))
    }),
    "q_try_arith" -> ((s, dir) => {
      // try_* arithmetic: errors become NULL instead of killing the
      // job — division by zero and int64 overflow, the two failure
      // modes a 100 TB pipeline cannot afford to discover row 9
      // billion into a stage. Oracles spell out the same NULL cases.
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        expr("try_divide(l_extendedprice, l_linenumber - 1)")
          .as("per_prior"),
        expr("try_multiply(9223372036854775807L, CAST(l_quantity AS LONG))")
          .as("overflow_null"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q_bitwise_agg" -> ((s, dir) => {
      // bitwise aggregate surface: AND/OR/XOR folds over user ids +
      // a popcount sum — integer-exact, partitioning-invariant
      // (bitwise ops are commutative/associative)
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(expr("bit_and(user_id)").as("b_and"),
          expr("bit_or(user_id)").as("b_or"),
          expr("bit_xor(user_id)").as("b_xor"),
          sum(expr("bit_count(user_id)")).as("pop_sum"))
        .orderBy(col("event_type"))
    }),
    "q_array_setops" -> ((s, dir) => {
      // array set algebra between the quantity sets of the two line
      // statuses per flag; every derived array is sorted before
      // rendering because set-op output order is implementation-
      // defined in BOTH engines
      val byStatus = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          sort_array(collect_set(when(col("l_linestatus") === "O",
            col("l_quantity").cast("long")))).as("qo"),
          sort_array(collect_set(when(col("l_linestatus") === "F",
            col("l_quantity").cast("long")))).as("qf"))
      byStatus.select(col("l_returnflag"),
        size(col("qo")).as("n_o"), size(col("qf")).as("n_f"),
        array_join(sort_array(array_intersect(col("qo"), col("qf"))), ",")
          .as("inter_s"),
        array_join(sort_array(array_distinct(
          concat(col("qo"), col("qf")))), ",").as("union_s"),
        array_join(sort_array(array_except(col("qo"), col("qf"))), ",")
          .as("except_s"))
        .orderBy(col("l_returnflag"))
    }),
    "q_string_funcs" -> ((s, dir) => {
      // the string-function surface beyond q_scalar_funcs: translate,
      // padding, reverse, 1-based substring position, delimited-field
      // extraction — each with an exact DuckDB twin
      t(s, dir, "part").select(
        col("p_partkey"),
        translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
        reverse(col("p_brand")).as("rev"),
        instr(col("p_type"), "a").as("pos_a"),
        expr("split_part(p_type, ' ', 1)").as("first_word"))
        .orderBy(col("p_partkey"))
    }),
    "q_ivm_agg" -> ((s, dir) => {
      // incremental materialized-view maintenance: per-customer
      // (count, sum-cents) state updated by a signed delta batch
      // (deletes: every 10th order; inserts: every 7th, restated +1¢)
      // WITHOUT touching base rows — hash-equal to the full recompute
      // the oracle performs. Delta-sized work is the entire point at
      // 100 TB.
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      val state = Merge.aggState(o, "o_custkey", "cents")
      val deletes = o.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_custkey"), col("cents"), lit("D").as("op"))
      val inserts = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_custkey"), (col("cents") + 1).as("cents"),
          lit("I").as("op"))
      Merge.incrementalAgg(state, deletes.unionByName(inserts),
        "o_custkey", "cents")
        .orderBy(col("o_custkey"))
    }),
    "q_percentiles" -> ((s, dir) => {
      // exact interpolated quartiles over integer cents per order
      // priority — percentile() (NOT percentile_approx), restricted
      // to power-of-two quantiles: the interpolation fraction and the
      // (b−a)·f product are then exact binary operations, so the
      // resulting doubles hash-match DuckDB's quantile_cont (the same
      // trick events_session_stats / events_anomaly_robust ride). One
      // map-side-combinable sort-based aggregate per group at scale.
      t(s, dir, "orders")
        .select(col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(cents, 0.25)").as("q1_cents"),
          expr("percentile(cents, 0.5)").as("median_cents"),
          expr("percentile(cents, 0.75)").as("q3_cents"))
        .orderBy(col("o_orderpriority"))
    }),
    "q_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    }),
    "q_scalar_funcs" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type5"),
        concat_ws("-", col("p_brand"), col("p_type")).as("bt"),
        floor(col("p_retailprice")).cast("long").as("price_fl"),
        pmod(col("p_partkey"), lit(7)).as("pk_mod"))
        .orderBy(col("p_partkey"))
    }),
    "q_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"))
        .orderBy(col("y"), col("m"))
    }),
    "q_case_bucket" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 3000, "low")
          .when(col("c_acctbal") < 7000, "mid")
          .otherwise("high").as("bucket"))
        .orderBy(col("c_custkey"))
    }),
    "q_pivot" -> ((s, dir) => {
      // pivot with an EXPLICIT value list: no distinct-value discovery
      // job, and the output schema is fixed at plan time (the only
      // pivot shape that scales — value discovery over 100 TB is a
      // full extra pass)
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // fill ONLY the pivoted counts — an unscoped fill would also
        // rewrite a null group key to 0 and merge it with real user 0
        .na.fill(0L,
          Seq("click", "error", "purchase", "signup", "view"))
        .orderBy(col("user_id"))
    }),
    "q_unpivot" -> ((s, dir) => {
      t(s, dir, "customer")
        .unpivot(Array(col("c_custkey")),
          Array(col("c_acctbal").cast("double").as("c_acctbal"),
            col("c_nationkey").cast("double").as("c_nationkey")),
          "metric", "val")
        .orderBy(col("c_custkey"), col("metric"))
    }),

    // ---- north star: deduplication ----
    "q_snapshot_diff" -> ((s, dir) => {
      // corpus drop audit: old snapshot lacks doc_id%10==3, the new
      // drop lacks %10==7 and bumps n_chars on %5==0 — added/removed/
      // changed classified in one full-outer key join
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val oldSnap = base.filter(col("doc_id") % 10 =!= 3)
      val newSnap = base.filter(col("doc_id") % 10 =!= 7)
        .withColumn("n_chars",
          when(col("doc_id") % 5 === 0, col("n_chars") + 1)
            .otherwise(col("n_chars")))
      Diff.snapshot(oldSnap, newSnap, Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q_window_dist" -> ((s, dir) => {
      // distribution window functions: ntile / percent_rank /
      // cume_dist over a deterministic total order
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy(col("c_custkey"))
    }),
    "q_cdc_merge" -> ((s, dir) => {
      // lakehouse MERGE: a staged change set (updates with two
      // versions for some keys to exercise last-wins, deletes,
      // inserts) applied onto the customer snapshot
      val cust = t(s, dir, "customer")
      val base = cust.select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      val upd1 = base.filter(col("c_custkey") < 50)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .withColumn("op", lit("U")).withColumn("version", lit(1L))
      val upd2 = base.filter(col("c_custkey") < 20)
        .withColumn("c_acctbal", col("c_acctbal") + 500.0)
        .withColumn("op", lit("U")).withColumn("version", lit(2L))
      val dels = base.filter(col("c_custkey") >= 50 &&
          col("c_custkey") < 60)
        .withColumn("op", lit("D")).withColumn("version", lit(1L))
      val ins = base.filter(col("c_custkey") < 10)
        .withColumn("c_custkey", col("c_custkey") + 100000L)
        .withColumn("op", lit("U")).withColumn("version", lit(1L))
      val changes = upd1.unionByName(upd2).unionByName(dels)
        .unionByName(ins)
      Merge.applyCdc(base, changes, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),
    "q_scd2" -> ((s, dir) => {
      // dimension history from a versioned change log: every order a
      // customer places is a new "version" of the customer dimension
      // (the order date stands in for the change version)
      Merge.scd2(
        t(s, dir, "orders").select(col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp"))
            .as("version"), col("o_totalprice"))
          // duplicate (key, date) rows would make valid_to ambiguous:
          // keep the highest-priced order per day as the day's state
          .groupBy(col("o_custkey"), col("version"))
          .agg(max(col("o_totalprice")).as("o_totalprice")),
        keys = Seq("o_custkey"))
        .orderBy(col("o_custkey"), col("valid_from"))
    }),
    "q_scd2_asof" -> ((s, dir) => {
      // time travel: each customer's dimension state as of 2000-01-01
      // — a pushable interval-containment filter over the history
      val hist = Merge.scd2(
        t(s, dir, "orders").select(col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp"))
            .as("version"), col("o_totalprice"))
          .groupBy(col("o_custkey"), col("version"))
          .agg(max(col("o_totalprice")).as("o_totalprice")),
        keys = Seq("o_custkey"))
      // 2000-01-01T00:00:00Z in epoch µs
      Merge.scd2AsOf(hist, lit(946684800000000L))
        .orderBy(col("o_custkey"))
    }),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "q_snapshot_diff" -> """
      WITH o AS (SELECT doc_id, source, n_chars FROM documents
                 WHERE doc_id % 10 <> 3),
      n AS (SELECT doc_id, source,
              CASE WHEN doc_id % 5 = 0 THEN n_chars + 1 ELSE n_chars END
                AS n_chars
            FROM documents WHERE doc_id % 10 <> 7),
      j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.doc_id IS NULL THEN 'A'
                   WHEN n.doc_id IS NULL THEN 'R'
                   WHEN o.source IS DISTINCT FROM n.source
                     OR o.n_chars IS DISTINCT FROM n.n_chars THEN 'C'
              END AS op,
              o.source AS old_source, n.source AS new_source,
              o.n_chars AS old_n_chars, n.n_chars AS new_n_chars
            FROM o FULL JOIN n ON o.doc_id = n.doc_id)
      SELECT * FROM j WHERE op IS NOT NULL ORDER BY doc_id""",
    "q_cdc_merge" -> """
      WITH base AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                           c_mktsegment FROM customer),
      changes AS (
        SELECT c_custkey, c_name, c_nationkey,
               c_acctbal + 100.0 AS c_acctbal, c_mktsegment,
               'U' AS op, 1 AS version FROM base WHERE c_custkey < 50
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 500.0,
               c_mktsegment, 'U', 2 FROM base WHERE c_custkey < 20
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               'D', 1 FROM base WHERE c_custkey >= 50 AND c_custkey < 60
        UNION ALL
        SELECT c_custkey + 100000, c_name, c_nationkey, c_acctbal,
               c_mktsegment, 'U', 1 FROM base WHERE c_custkey < 10),
      latest AS (SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY c_custkey
            ORDER BY version DESC) AS rn FROM changes) WHERE rn = 1)
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM base WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM latest WHERE op <> 'D'
      ORDER BY c_custkey""",
    "q_scd2" -> """
      WITH v AS (SELECT o_custkey,
                   epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS version,
                   max(o_totalprice) AS o_totalprice
                 FROM orders GROUP BY 1, 2)
      SELECT o_custkey, version, o_totalprice,
             version AS valid_from,
             lead(version) OVER w AS valid_to,
             lead(version) OVER w IS NULL AS is_current
      FROM v
      WINDOW w AS (PARTITION BY o_custkey ORDER BY version)
      ORDER BY o_custkey, valid_from""",
    "q_scd2_asof" -> """
      WITH v AS (SELECT o_custkey,
                   epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS version,
                   max(o_totalprice) AS o_totalprice
                 FROM orders GROUP BY 1, 2),
      h AS (SELECT o_custkey, version, o_totalprice,
              version AS valid_from,
              lead(version) OVER w AS valid_to,
              lead(version) OVER w IS NULL AS is_current
            FROM v
            WINDOW w AS (PARTITION BY o_custkey ORDER BY version))
      SELECT * FROM h
      WHERE valid_from <= 946684800000000
        AND (valid_to IS NULL OR valid_to > 946684800000000)
      ORDER BY o_custkey""",
    "q_window_dist" -> """
      SELECT c_custkey, c_mktsegment,
             ntile(4) OVER w AS quartile,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey""",
    "q_filter_project" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'
      ORDER BY l_orderkey, l_linenumber""",
    "q_topk" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_in_range" -> """
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE o_orderstatus IN ('O','F')
        AND o_orderdate >= TIMESTAMP '1995-01-01'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q_join_agg" -> """
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",
    "q_window_rank" -> """
      SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
      WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q_window_range" -> """
      SELECT user_id, event_id,
             count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
               AS n_trailing_1h
      FROM events ORDER BY event_id""",
    "q_window_nav" -> """
      SELECT user_id, event_id,
             lag(event_id, 1) OVER w AS prev_id,
             lead(event_id, 1) OVER w AS next_id,
             first_value(event_id) OVER w AS first_id,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      ORDER BY event_id""",
    "q_rollup" -> """
      SELECT n_name, c_mktsegment, count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY ROLLUP (n_name, c_mktsegment)
      ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""",
    "q_setops" -> """
      (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      EXCEPT
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      ORDER BY c_custkey""",
    "q_distinct_agg" -> """
      SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part,
             count(DISTINCT l_suppkey) AS nd_supp, count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_map_funcs" -> """
      WITH c AS (SELECT user_id, event_type, count(*) AS n
                 FROM events GROUP BY 1, 2)
      SELECT user_id,
             count(*) AS n_types,
             coalesce(max(CASE WHEN event_type = 'click' THEN n END), 0)
               AS clicks,
             CAST(sum(CASE WHEN n >= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_heavy,
             string_agg(event_type || ':' || n, ',' ORDER BY event_type)
               AS summary
      FROM c GROUP BY user_id ORDER BY user_id""",
    "q_percentiles" -> """
      SELECT o_orderpriority, count(*) AS n,
             quantile_cont(cents, 0.25) AS q1_cents,
             quantile_cont(cents, 0.5)  AS median_cents,
             quantile_cont(cents, 0.75) AS q3_cents
      FROM (SELECT o_orderpriority,
              CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                AS cents
            FROM orders) t
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_window_ratio" -> """
      WITH c AS (SELECT l_orderkey, l_linenumber,
              CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                AS cents
            FROM lineitem)
      SELECT l_orderkey, l_linenumber, cents,
             CAST((10000 * cents) //
               sum(cents) OVER (PARTITION BY l_orderkey) AS BIGINT)
               AS share_bp
      FROM c ORDER BY l_orderkey, l_linenumber""",
    "q_window_ignore_nulls" -> """
      SELECT event_id, user_id,
             CASE WHEN event_type = 'purchase' THEN value END AS obs,
             last_value(CASE WHEN event_type = 'purchase' THEN value END
                 IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS filled,
             first_value(CASE WHEN event_type = 'purchase' THEN value END
                 IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING)
               AS first_obs
      FROM events ORDER BY event_id""",
    "q_mode" -> """
      WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
                 FROM lineitem GROUP BY 1, 2)
      SELECT l_returnflag, l_quantity AS mode_qty, n
      FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                        ORDER BY n DESC, l_quantity ASC) AS rk
            FROM c) t
      WHERE rk = 1 ORDER BY l_returnflag""",
    "q_stats_agg" -> """
      WITH q AS (SELECT l_returnflag,
              CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT)
                AS x,
              CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
                AS y
            FROM lineitem),
      s AS (SELECT l_returnflag, count(*) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              sum(CAST(x AS HUGEINT) * y) AS sxy,
              sum(CAST(x AS HUGEINT) * x) AS sxx,
              sum(CAST(y AS HUGEINT) * y) AS syy
            FROM q GROUP BY 1),
      r AS (SELECT l_returnflag, n, sx, sy,
              CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
              CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
              CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny,
              CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS numi
            FROM s)
      SELECT l_returnflag, n, sx, sy,
             CAST(CAST(num AS VARCHAR) AS DOUBLE) /
               CAST(CAST(den AS VARCHAR) AS DOUBLE) AS slope,
             CAST(CAST(numi AS VARCHAR) AS DOUBLE) /
               CAST(CAST(den AS VARCHAR) AS DOUBLE) AS intercept,
             CAST(CAST(num AS VARCHAR) AS DOUBLE) *
               CAST(CAST(num AS VARCHAR) AS DOUBLE) /
               (CAST(CAST(den AS VARCHAR) AS DOUBLE) *
                CAST(CAST(deny AS VARCHAR) AS DOUBLE)) AS r2
      FROM r ORDER BY l_returnflag""",
    "dq_checks" -> """
      WITH rl AS (SELECT
          CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS v_notnull,
          CAST(sum(CASE WHEN n_chars IS NULL OR n_chars < 1
                         OR n_chars > 500 THEN 1 ELSE 0 END) AS BIGINT)
            AS v_range,
          CAST(sum(CASE WHEN source IS NULL
                         OR NOT regexp_matches(source, '^src[0-9]+$')
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_match,
          CAST(sum(CASE WHEN lang IS NULL
                         OR lang NOT IN ('en','de','fr','es')
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
          CAST(sum(CASE WHEN length(text) = n_chars THEN 0 ELSE 1 END)
            AS BIGINT) AS v_pred
        FROM documents),
      u_id AS (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS v
               FROM (SELECT count(*) AS n FROM documents
                     GROUP BY doc_id)),
      u_text AS (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS v
                 FROM (SELECT count(*) AS n FROM documents
                       GROUP BY text)),
      fk_o AS (SELECT CAST(count(*) AS BIGINT) AS v FROM orders
               WHERE o_custkey IS NULL OR NOT EXISTS
                 (SELECT 1 FROM customer WHERE c_custkey = o_custkey)),
      fk_e AS (SELECT CAST(count(*) AS BIGINT) AS v FROM events
               WHERE user_id IS NULL OR NOT EXISTS
                 (SELECT 1 FROM customer WHERE c_custkey = user_id)),
      rep AS (
        SELECT 'not_null' AS "check", 'text' AS detail,
               v_notnull AS violations FROM rl
        UNION ALL SELECT 'in_range', 'n_chars[1.0,500.0]', v_range FROM rl
        UNION ALL SELECT 'matches', 'source', v_match FROM rl
        UNION ALL SELECT 'in_set', 'lang', v_set FROM rl
        UNION ALL SELECT 'predicate', 'len_eq_n_chars', v_pred FROM rl
        UNION ALL SELECT 'unique', 'doc_id', v FROM u_id
        UNION ALL SELECT 'unique', 'text', v FROM u_text
        UNION ALL SELECT 'ref_integrity', 'o_custkey->c_custkey', v
          FROM fk_o
        UNION ALL SELECT 'ref_integrity', 'user_id->c_custkey', v
          FROM fk_e)
      SELECT "check", detail, violations, violations = 0 AS passed
      FROM rep ORDER BY "check", detail""",
    "q_explode_outer" -> """
      SELECT o_orderkey, CAST(l.l_quantity AS BIGINT) AS big_qty
      FROM orders o LEFT JOIN
        (SELECT l_orderkey, l_quantity FROM lineitem
         WHERE l_quantity > 45) l
        ON l.l_orderkey = o.o_orderkey
      ORDER BY o_orderkey, big_qty NULLS FIRST""",
    "q_union_by_name" -> """
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_mktsegment = 'BUILDING'
      UNION ALL
      SELECT c_custkey, c_name, NULL FROM customer
      WHERE c_mktsegment = 'AUTOMOBILE'
      ORDER BY c_custkey""",
    "q_try_arith" -> """
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_linenumber = 1 THEN NULL
                  ELSE l_extendedprice / (l_linenumber - 1) END
               AS per_prior,
             CASE WHEN CAST(l_quantity AS BIGINT) = 1
                  THEN 9223372036854775807 ELSE NULL END
               AS overflow_null
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_bitwise_agg" -> """
      SELECT event_type,
             bit_and(user_id) AS b_and, bit_or(user_id) AS b_or,
             bit_xor(user_id) AS b_xor,
             CAST(sum(bit_count(user_id)) AS BIGINT) AS pop_sum
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q_array_setops" -> """
      WITH s AS (SELECT l_returnflag,
              coalesce(list_sort(list_distinct(
                list(CAST(l_quantity AS BIGINT))
                  FILTER (WHERE l_linestatus = 'O'))), []) AS qo,
              coalesce(list_sort(list_distinct(
                list(CAST(l_quantity AS BIGINT))
                  FILTER (WHERE l_linestatus = 'F'))), []) AS qf
            FROM lineitem GROUP BY 1)
      SELECT l_returnflag,
             len(qo) AS n_o, len(qf) AS n_f,
             coalesce(array_to_string(list_sort(list_intersect(qo, qf)),
               ','), '') AS inter_s,
             coalesce(array_to_string(list_sort(list_distinct(qo || qf)),
               ','), '') AS union_s,
             coalesce(array_to_string(list_sort(list_filter(qo,
               x -> NOT list_contains(qf, x))), ','), '') AS except_s
      FROM s ORDER BY l_returnflag""",
    "q_string_funcs" -> """
      SELECT p_partkey,
             translate(p_name, 'aeiou', 'AEIOU') AS tr,
             lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
             reverse(p_brand) AS rev,
             strpos(p_type, 'a') AS pos_a,
             split_part(p_type, ' ', 1) AS first_word
      FROM part ORDER BY p_partkey""",
    "q_ivm_agg" -> """
      WITH o AS (SELECT o_orderkey, o_custkey,
              CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                AS cents
            FROM orders),
      survivors AS (
        SELECT o_custkey, cents FROM o WHERE o_orderkey % 10 <> 0
        UNION ALL
        SELECT o_custkey, cents + 1 FROM o WHERE o_orderkey % 7 = 0)
      SELECT o_custkey, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
      FROM survivors GROUP BY o_custkey ORDER BY o_custkey""",
    "q_anti_join" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      ORDER BY c_custkey""",
    "q_semi_join" -> """
      SELECT c_custkey FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      ORDER BY c_custkey""",
    "q_scalar_funcs" -> """
      SELECT p_partkey, upper(p_brand) AS brand_u, length(p_name) AS name_len,
             substring(p_type, 1, 5) AS type5,
             concat_ws('-', p_brand, p_type) AS bt,
             CAST(floor(p_retailprice) AS BIGINT) AS price_fl,
             p_partkey % 7 AS pk_mod
      FROM part ORDER BY p_partkey""",
    "q_date_funcs" -> """
      SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY 1, 2 ORDER BY y, m""",
    "q_case_bucket" -> """
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal < 3000 THEN 'low'
                  WHEN c_acctbal < 7000 THEN 'mid'
                  ELSE 'high' END AS bucket
      FROM customer ORDER BY c_custkey""",
    "q_pivot" -> """
      SELECT user_id,
             count(*) FILTER (event_type = 'click') AS click,
             count(*) FILTER (event_type = 'error') AS error,
             count(*) FILTER (event_type = 'purchase') AS purchase,
             count(*) FILTER (event_type = 'signup') AS signup,
             count(*) FILTER (event_type = 'view') AS view
      FROM events GROUP BY user_id ORDER BY user_id""",
    "q_unpivot" -> """
      SELECT c_custkey, 'c_acctbal' AS metric,
             CAST(c_acctbal AS DOUBLE) AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'c_nationkey' AS metric,
             CAST(c_nationkey AS DOUBLE) AS val FROM customer
      ORDER BY c_custkey, metric""",
    // exact-integer twin of the WeightedMean Aggregator: identical
    // quantization (round half-up of price*100 — positive values, both
    // engines agree), long sums, one final double division in the same
    // operation order as Udafs.WeightedMean.finish
  )
}
