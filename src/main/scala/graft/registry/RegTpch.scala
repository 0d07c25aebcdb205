package graft
package registry

import graft.SparkEntry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tpch query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegTpch {

  /** Deterministic `partsupp` derived from the fixture's part ×
    * supplier (the driver ships no partsupp parquet): dbgen's spread
    * — 4 suppliers per part at offsets i·⌊S/4⌋ (mod S) — with
    * availqty/supplycost as fixed integer congruences of
    * (partkey, i), so BOTH engines rebuild the identical table from
    * the same two dims and Q2/Q11/Q20 become oracle-checkable.
    * Supplycost is integer CENTS (the suite's money discipline).
    * Built once per (session, sfDir) via the cross-query memo; the
    * supplier count is a dim-sized scalar job. Fact-sized output
    * (4×|part|) — downstream joins against it shuffle on its keys,
    * dims broadcast.
    */
  private def partsupp(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "partsupp") {
      val nSupp = t(s, dir, "supplier").count()
      t(s, dir, "part")
        .select(col("p_partkey").as("ps_partkey"),
          explode(sequence(lit(0L), lit(3L))).as("i"))
        .select(col("ps_partkey"),
          pmod(col("ps_partkey") + col("i") * lit(nSupp / 4),
            lit(nSupp)).as("ps_suppkey"),
          (pmod(col("ps_partkey") * 11 + col("i") * 13, lit(9999L)) + 1L)
            .as("ps_availqty"),
          (pmod(col("ps_partkey") * 7919 + col("i") * 104729,
            lit(99901L)) + 100L).as("ps_supplycost_c"))
    }

  /** The SQL twin of [[partsupp]] — prefix for the Q2/Q11/Q20
    * oracles (all operands non-negative, so `%` ≡ `pmod`).
    */
  private val psCteSql: String = """
    ps AS (SELECT p_partkey AS ps_partkey,
             (p_partkey + i * ((SELECT count(*) FROM supplier) // 4))
                % (SELECT count(*) FROM supplier) AS ps_suppkey,
             CAST((p_partkey * 11 + i * 13) % 9999 + 1 AS BIGINT)
               AS ps_availqty,
             CAST((p_partkey * 7919 + i * 104729) % 99901 + 100 AS BIGINT)
               AS ps_supplycost_c
           FROM part, UNNEST(range(4)) t(i))"""

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tpch_q2" -> ((s, dir) => {
      // Q2 minimum-cost supplier over the derived partsupp, adapted
      // to the fixture's vocabulary (p_type = 'ECONOMY', p_size <= 10
      // for the '%BRASS'/size=15 predicates; acctbal reported as
      // exact cents). Min cost per part = one hash aggregate over the
      // Europe-filtered partsupp, re-joined on (part, cost) — the
      // correlated-subquery shape flattened into agg+join; every dim
      // (supplier⋈nation⋈region, filtered part) broadcasts, the only
      // shuffles are partsupp's own aggregate/join keys. s_name is
      // unique per supplier, so the order-by chain is total.
      val eu = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val pse = partsupp(s, dir)
        .join(bcDim(eu), col("ps_suppkey") === col("s_suppkey"))
      val mc = pse.groupBy(col("ps_partkey").as("mc_partkey"))
        .agg(min(col("ps_supplycost_c")).as("min_c"))
      pse.join(mc, col("ps_partkey") === col("mc_partkey") &&
          col("ps_supplycost_c") === col("min_c"))
        .join(bcDim(t(s, dir, "part")
            .filter(col("p_size") <= 10 && col("p_type") === "ECONOMY")
            .select(col("p_partkey"), col("p_type"))),
          col("ps_partkey") === col("p_partkey"))
        .select(round(col("s_acctbal") * 100).cast("long").as("bal_c"),
          col("s_name"), col("n_name"), col("p_partkey"), col("p_type"),
          col("ps_supplycost_c"))
        .orderBy(col("bal_c").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),
    "tpch_q11" -> ((s, dir) => {
      // Q11 important stock: per-part inventory value (cents ×
      // availqty, exact int64 — ≤ 1e9/row, ≤ 8e12 total at any SF the
      // congruences admit) among one nation's suppliers, kept when
      // above 1/1000 of the total. The global total is a 1-row
      // broadcast; the fraction test cross-multiplies (value·1000 >
      // total) so no engine ever divides.
      val nsup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .filter(col("n_name") === "NATION_9")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val v = partsupp(s, dir)
        .join(bcDim(nsup), col("ps_suppkey") === col("s_suppkey"))
        .groupBy(col("ps_partkey"))
        .agg(sum(col("ps_supplycost_c") * col("ps_availqty"))
          .as("value_c"))
      val tot = v.agg(sum(col("value_c")).as("tot_c"))
      v.crossJoin(broadcast(tot))
        .filter(col("value_c") * 1000 > col("tot_c"))
        .select(col("ps_partkey"), col("value_c"))
        .orderBy(col("value_c").desc, col("ps_partkey"))
    }),
    "tpch_q21" -> ((s, dir) => {
      // Q21 suppliers-who-kept-orders-waiting, adapted with Q4's
      // lateness stand-in (no commit/receipt dates in the fixture:
      // "late" = shipped >60 days after the order date). The classic
      // double correlated EXISTS/NOT EXISTS flattens into ONE
      // per-order aggregate re-joined to the late rows: a late line
      // qualifies iff its order has ≥2 distinct suppliers and exactly
      // one distinct LATE supplier (necessarily this row's). Orders'
      // date rides the fact join; supplier⋈nation broadcasts into the
      // final count.
      val l = t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
            .filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") +
            expr("INTERVAL 60 DAYS")).as("late"))
      val perOrder = l.groupBy(col("l_orderkey").as("po_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey")))
            .as("n_late_supp"))
      l.filter(col("late"))
        .join(perOrder, col("l_orderkey") === col("po_orderkey"))
        .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
        .join(bcDim(t(s, dir, "supplier")
            .join(broadcast(t(s, dir, "nation")
                .filter(col("n_name") === "NATION_9")),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),
    "tpch_q20" -> ((s, dir) => {
      // Q20 potential part promotion: suppliers of 'small%' parts
      // whose derived stock exceeds half of what they actually
      // shipped in 1997 (availqty·2 > Σl_quantity, exact integers —
      // the fixture's quantities are integral doubles). The 1997
      // (part, supplier) shipment totals are a fact-side aggregate
      // that shares partsupp's join keys; part and the final
      // supplier⋈nation leg broadcast.
      val q97 = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val cand = partsupp(s, dir)
        .join(bcDim(t(s, dir, "part")
            .filter(col("p_name").like("small%")).select(col("p_partkey"))),
          col("ps_partkey") === col("p_partkey"))
        .join(q97, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("qty"))
        .select(col("ps_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .filter(col("n_name") === "NATION_9")),
          col("s_nationkey") === col("n_nationkey"))
        .join(cand, col("s_suppkey") === col("ps_suppkey"))
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    }),
    "tpch_q3" -> ((s, dir) => {
      // Q3 shipping priority (o_orderpriority stands in for the
      // fixture's missing o_shippriority). The selective segment
      // filter broadcasts into the orders⋈lineitem shuffle join; the
      // final top-10 compiles to TakeOrderedAndProject, with the
      // orderkey tie-break making the cut deterministic cross-engine.
      val cutoff = lit("1998-06-01").cast("timestamp")
      t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
        .join(t(s, dir, "orders").filter(col("o_orderdate") < cutoff),
          col("l_orderkey") === col("o_orderkey"))
        .join(bcDim(t(s, dir, "customer")
            .filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "tpch_q5" -> ((s, dir) => {
      // Q5 local supplier volume: revenue from orders where supplier
      // and customer share a nation, nations restricted to one region,
      // one order year. The O(1) region→nation frame (5 rows) broadcasts
      // unconditionally; customer/supplier grow with SF so they ride
      // the bcDim size gate. The only guaranteed shuffle join is
      // fact-side lineitem⋈orders. The c_nationkey = s_nationkey
      // constraint rides the supplier broadcast join condition.
      val asiaNations = t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(bcDim(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(bcDim(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asiaNations),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    "tpch_q8" -> ((s, dir) => {
      // Q8 national market share, reshaped to the fixture: among
      // ECONOMY-type parts bought by AMERICA-region customers, the
      // yearly revenue share held by NATION_7 suppliers. Double
      // division is not hash-stable cross-engine, so the share is
      // integer basis points over exact decimal tenth-cent sums
      // (both engines truncate non-negative integer division).
      val americaKeys = t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "AMERICA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val supplierNation = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val volume = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")
      t(s, dir, "lineitem")
        .join(bcDim(t(s, dir, "part")
            .filter(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(bcDim(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(americaKeys), col("c_nationkey") === col("cn_key"))
        .join(bcDim(supplierNation),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_7", volume)
            .otherwise(lit(0).cast("decimal(18,4)"))) * 10000)
            .cast("long").as("nation_rev_tc"),
          (sum(volume) * 10000).cast("long").as("total_rev_tc"))
        .select(col("o_year"), col("nation_rev_tc"), col("total_rev_tc"),
          expr("(10000 * nation_rev_tc) div total_rev_tc").as("share_bp"))
        .orderBy(col("o_year"))
    }),
    "tpch_q10" -> ((s, dir) => {
      // Q10 returned-item reporting: customers who returned goods in
      // one quarter, ranked by lost revenue, top 20. Nation broadcasts
      // unconditionally, customer via the bcDim size gate; the
      // returnflag filter prunes the fact scan.
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders").filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-07-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(bcDim(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    "tpch_q7" -> ((s, dir) => {
      // Q7 volume shipping: bilateral trade between two nations by
      // year — revenue where the supplier sits in one and the customer
      // in the other, both directions kept as separate groups. The two
      // nation lookups are O(1) broadcasts; customer/supplier ride the
      // bcDim SF gate; the only guaranteed shuffle join is
      // lineitem⋈orders.
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(bcDim(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(bcDim(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("ck"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("ck"))
        .join(broadcast(nation.select(col("n_nationkey").as("sk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("sk"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),
    "tpch_q9" -> ((s, dir) => {
      // Q9 product-type profit, adapted: the fixture has no partsupp
      // table, so "profit" is discounted revenue without the
      // ps_supplycost·l_quantity subtrahend — the plan shape (name-
      // filtered part dim pruning the fact scan, supplier→nation
      // rollup, year grouping) is the exercise. part/supplier ride the
      // bcDim gate, nation broadcasts unconditionally.
      t(s, dir, "lineitem")
        .join(bcDim(t(s, dir, "part")
            .filter(col("p_name").like("%widget%"))
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(bcDim(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),
    "tpch_q12" -> ((s, dir) => {
      // Q12 late-shipment priority audit, adapted to the fixture (no
      // l_shipmode/commitdate/receiptdate): per line status over one
      // shipping year, how many lines belong to URGENT/HIGH-priority
      // orders vs the rest — the canonical conditional-count-after-
      // join shape. One shuffle join; the CASE counts fold map-side.
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),
    "tpch_q14" -> ((s, dir) => {
      // Q14 promotion effect: share of one month's revenue from PROMO
      // parts, in integer basis points over exact tenth-cent sums
      // (double division is not hash-stable cross-engine). The part
      // dim rides the bcDim gate; single-row output.
      val volume = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(bcDim(t(s, dir, "part")
            .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          (sum(when(col("p_type") === "PROMO", volume)
            .otherwise(lit(0).cast("decimal(18,4)"))) * 10000)
            .cast("long").as("promo_rev_tc"),
          (sum(volume) * 10000).cast("long").as("total_rev_tc"))
        .select(col("promo_rev_tc"), col("total_rev_tc"),
          expr("(10000 * promo_rev_tc) div total_rev_tc").as("promo_bp"))
    }),
    "tpch_q17" -> ((s, dir) => {
      // Q17 small-quantity-order revenue: among one brand's parts,
      // revenue from lineitems whose quantity is below 20% of that
      // part's average quantity, scaled to a yearly figure. The
      // correlated scalar subquery decorrelates to a per-part
      // aggregate joined back to the fact — quantity sums are exact
      // (integer-valued doubles), so the 0.2·avg threshold is one
      // deterministic IEEE multiply on both engines.
      val brandParts = bcDim(t(s, dir, "part")
        .filter(col("p_brand") === "Brand#12").select(col("p_partkey")))
      val li = t(s, dir, "lineitem")
      val avgQty = li.groupBy(col("l_partkey").as("ap_key"))
        .agg((sum(col("l_quantity")) / count(col("l_quantity")))
          .as("avg_qty"))
      li.join(brandParts, col("l_partkey") === col("p_partkey"))
        .join(avgQty, col("l_partkey") === col("ap_key"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double") / 7.0).as("avg_yearly"))
    }),
    "tpch_q18" -> ((s, dir) => {
      // Q18 large-volume customers: orders whose total quantity tops
      // 300, with their customer, ranked by order value. The HAVING
      // pre-aggregates the fact table BEFORE any join (the shape that
      // matters at scale — the join fan-in is the handful of
      // qualifying orders, not the fact table), then customer rides
      // the bcDim gate.
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("bo_key"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
        .filter(col("total_qty") > 300L)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("bo_key"))
        .join(bcDim(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_name"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    "tpch_q4" -> ((s, dir) => {
      // Q4 order-priority checking, adapted (no l_commitdate /
      // l_receiptdate in the fixture): an order is "late" when some
      // line shipped more than 60 days after the order date. The
      // EXISTS compiles to one left-semi shuffle join with the date
      // condition evaluated join-side; the quarter filter prunes the
      // orders scan.
      val o = t(s, dir, "orders").filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      o.join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),
    "tpch_q6" -> ((s, dir) => {
      // Q6 forecasting-revenue change: the pure scan-filter-aggregate
      // — every predicate pushes into the parquet scan, no join, no
      // shuffle beyond the final 1-row agg. Discount bounds compare
      // STORED doubles against literal doubles (no arithmetic), so
      // both engines agree bit-for-bit.
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
    }),
    "tpch_q15" -> ((s, dir) => {
      // Q15 top supplier: quarter revenue per supplier, keep the
      // max-revenue one(s). Revenue compares in exact tenth-cent
      // integers so the max-equality join cannot split on FP noise;
      // the 1-row max attaches as a bounded broadcast.
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-10-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg((sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")) * 10000).cast("long").as("total_rev_tc"))
      val top = rev.agg(max(col("total_rev_tc")).as("max_tc"))
      rev.crossJoin(broadcast(top))
        .filter(col("total_rev_tc") === col("max_tc"))
        .join(bcDim(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_tc"))
        .orderBy(col("s_suppkey"))
    }),
    "tpch_q16" -> ((s, dir) => {
      // Q16 part-supplier relationship counts, adapted: no partsupp
      // table, so "suppliers who can supply" becomes "suppliers who
      // HAVE supplied" (distinct l_suppkey via lineitem), and the
      // no-complaints supplier exclusion is dropped (no comment
      // column). The distinct-count shuffles once on the descriptor
      // key after the dim join prunes the fact scan.
      t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#5" &&
          !col("p_type").like("PROMO%") &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .join(t(s, dir, "lineitem")
            .select(col("l_partkey"), col("l_suppkey")),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),
    "tpch_q19" -> ((s, dir) => {
      // Q19 discounted revenue under disjunctive brackets — three
      // (brand, size-range, quantity-range) OR-arms that Catalyst
      // must keep as one residual predicate over a single join (no
      // union-of-scans blowup); the part dim rides the bcDim gate.
      val li = t(s, dir, "lineitem")
      val arm = (brand: String, sizeHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === brand &&
          col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      li.join(bcDim(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .filter(arm("Brand#3", 5, 1, 11) || arm("Brand#9", 10, 10, 20) ||
          arm("Brand#15", 15, 20, 30))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
    }),
    "tpch_q13" -> ((s, dir) => {
      // Q13 customer order-count distribution: how many customers
      // placed N orders, zeros included — the canonical two-level
      // aggregation (outer-join count, then histogram the counts).
      // The first agg shuffles on custkey, the second on the tiny
      // count domain; customers with no orders ride the left join.
      t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    "tpch_q22" -> ((s, dir) => {
      // Q22 global-sales-opportunity, adapted twice to the fixture:
      // nation key stands in for the missing phone country code, and
      // "never ordered" becomes "DORMANT — no order since 1999" (the
      // generator gives every customer at least one order, so the
      // classic predicate is structurally empty). Positive-balance
      // customers above the positive-balance average, grouped by
      // nation. The above-average test runs on exact integer cents
      // with the division cross-multiplied away (bal·n > total on
      // both engines — no FP threshold to disagree on); dormancy is
      // one left-anti join against the date-pruned orders scan.
      val cust = t(s, dir, "customer")
        .withColumn("bal_c",
          round(col("c_acctbal") * 100).cast("long"))
      val posStats = cust.filter(col("bal_c") > 0L)
        .agg(sum(col("bal_c")).as("tot_c"), count(lit(1)).as("n_pos"))
      cust.crossJoin(broadcast(posStats))
        .filter(col("bal_c") > 0L &&
          col("bal_c") * col("n_pos") > col("tot_c"))
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntry"))
        .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totbal_c"))
        .orderBy(col("cntry"))
    }),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "tpch_q2" -> s"""
      WITH $psCteSql,
      eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
             FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'EUROPE'),
      pse AS (SELECT ps.*, s_name, s_acctbal, n_name
              FROM ps JOIN eu ON ps_suppkey = s_suppkey),
      mc AS (SELECT ps_partkey, min(ps_supplycost_c) AS min_c
             FROM pse GROUP BY ps_partkey)
      SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS bal_c, s_name,
             n_name, p_partkey, p_type, ps_supplycost_c
      FROM pse JOIN mc ON pse.ps_partkey = mc.ps_partkey
           AND pse.ps_supplycost_c = mc.min_c
           JOIN part ON p_partkey = pse.ps_partkey
      WHERE p_size <= 10 AND p_type = 'ECONOMY'
      ORDER BY bal_c DESC, n_name, s_name, p_partkey LIMIT 100""",
    "tpch_q11" -> s"""
      WITH $psCteSql,
      nsup AS (SELECT s_suppkey FROM supplier
               JOIN nation ON s_nationkey = n_nationkey
               WHERE n_name = 'NATION_9'),
      v AS (SELECT ps_partkey,
                   sum(ps_supplycost_c * ps_availqty) AS value_c
            FROM ps JOIN nsup ON ps_suppkey = s_suppkey
            GROUP BY ps_partkey)
      SELECT ps_partkey, CAST(value_c AS BIGINT) AS value_c
      FROM v WHERE value_c * 1000 > (SELECT sum(value_c) FROM v)
      ORDER BY value_c DESC, ps_partkey""",
    "tpch_q21" -> """
      WITH l AS (SELECT l_orderkey, l_suppkey,
                        l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 WHERE o_orderstatus = 'F')
      SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM l l1 JOIN supplier ON l1.l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
      WHERE l1.late
        AND n_name = 'NATION_9'
        AND EXISTS (SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM l l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""",
    "tpch_q20" -> s"""
      WITH $psCteSql,
      q97 AS (SELECT l_partkey, l_suppkey,
                     CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY 1, 2),
      cand AS (SELECT DISTINCT ps_suppkey
               FROM ps JOIN part ON p_partkey = ps_partkey
                    JOIN q97 ON l_partkey = ps_partkey
                            AND l_suppkey = ps_suppkey
               WHERE p_name LIKE 'small%' AND ps_availqty * 2 > qty)
      SELECT s_suppkey, s_name
      FROM supplier JOIN cand ON s_suppkey = ps_suppkey
           JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_9'
      ORDER BY s_suppkey""",
    "tpch_q4" -> """
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-04-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "tpch_q6" -> """
      SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24""",
    "tpch_q15" -> """
      WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS total_rev_tc
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-10-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_rev_tc
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_rev_tc = (SELECT max(total_rev_tc) FROM rev)
      ORDER BY s_suppkey""",
    "tpch_q16" -> """
      SELECT p_brand, p_type, p_size,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM part JOIN lineitem ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#5' AND p_type NOT LIKE 'PROMO%'
        AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "tpch_q19" -> """
      SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 5
             AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 10
             AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 20 AND 30)""",
    "tpch_q13" -> """
      SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey) t
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "tpch_q22" -> """
      WITH c AS (SELECT c_custkey, c_nationkey,
                        CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
                 FROM customer),
      p AS (SELECT CAST(sum(bal_c) AS BIGINT) AS tot_c,
                   count(*) AS n_pos FROM c WHERE bal_c > 0)
      SELECT c_nationkey AS cntry, CAST(count(*) AS BIGINT) AS numcust,
             CAST(sum(bal_c) AS BIGINT) AS totbal_c
      FROM c, p
      WHERE bal_c > 0 AND bal_c * n_pos > tot_c
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
      GROUP BY 1 ORDER BY cntry""",
    "tpch_q3" -> """
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-01'
        AND l_shipdate  > TIMESTAMP '1998-06-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "tpch_q5" -> """
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "tpch_q8" -> """
      SELECT o_year, nation_rev_tc, total_rev_tc,
             (10000 * nation_rev_tc) // total_rev_tc AS share_bp
      FROM (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
                             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
                             ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT) AS nation_rev_tc,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS total_rev_tc
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
        GROUP BY 1) t
      ORDER BY o_year""",
    "tpch_q10" -> """
      SELECT c_custkey, c_name, c_acctbal, n_name,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-07-01'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "tpch_q7" -> """
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
        AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2') OR
             (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""",
    "tpch_q9" -> """
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
      GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
    "tpch_q12" -> """
      SELECT l_linestatus,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_linestatus ORDER BY l_linestatus""",
    "tpch_q14" -> """
      SELECT promo_rev_tc, total_rev_tc,
             (10000 * promo_rev_tc) // total_rev_tc AS promo_bp
      FROM (
        SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
                             ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT) AS promo_rev_tc,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS total_rev_tc
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01'
          AND l_shipdate <  TIMESTAMP '1997-10-01') t""",
    "tpch_q17" -> """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS avg_yearly
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN (SELECT l_partkey AS ap_key,
                   sum(l_quantity) / count(l_quantity) AS avg_qty
            FROM lineitem GROUP BY 1) a ON l_partkey = ap_key
      WHERE p_brand = 'Brand#12' AND l_quantity < 0.2 * avg_qty""",
    "tpch_q18" -> """
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             total_qty
      FROM (SELECT l_orderkey AS bo_key,
                   CAST(sum(l_quantity) AS BIGINT) AS total_qty
            FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300) big
      JOIN orders   ON o_orderkey = bo_key
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
  )
}
