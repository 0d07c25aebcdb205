package graft
package registry

import graft.operators._
import graft.SparkEntry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegGraph {

  /** The symmetrized customer↔supplier trading graph — one edge per
    * distinct trading pair, both directions, supplier ids offset
    * +100000 into a disjoint space. EIGHT graph queries analyze this
    * same frame; a production pipeline materializes the edge list
    * once and runs every analytic off it (at 100 TB the upstream
    * orders⋈lineitem join dominates any single traversal), so the
    * frame is a [[graft.SparkEntry.memoFrame]] tenant: built and
    * checkpointed once per (session, sfDir), exempted from the
    * harness leak sweep, evicted with [[graft.SparkEntry.evictMemos]].
    * Correctness is untouched — every query's plan still derives the
    * identical frame (Verify runs hash-compare per query).
    */
  private def bipartiteEdges(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "bipartite_edges") {
      val e1 = bipartiteEdgesFwd(s, dir)
      // customer and supplier id spaces are disjoint, so the reverse
      // union introduces no duplicate edges (matches the oracle's
      // deduplicating UNION)
      e1.unionByName(e1.select(col("dst").as("src"), col("src").as("dst")))
    }

  /** The DIRECTED customer→supplier leg of the trading graph,
    * memoized separately — graph_hits consumes it as-is, and
    * [[bipartiteEdges]] symmetrizes from it (one derivation, not a
    * `src < 100000` filter of the symmetric frame, which would
    * silently drop forward edges once o_custkey reaches the +100000
    * supplier-id offset at SF ≥ ~0.67).
    */
  private def bipartiteEdgesFwd(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "bipartite_edges_fwd") {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 100000L).as("dst"))
        .distinct()
    }

  /** The 2-round LPA labels over [[bipartiteEdges]] — consumed by
    * graph_communities AND re-read three times by graph_modularity's
    * joins, so the label frame is memoized alongside the edges.
    */
  private def bipartiteLabels(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "bipartite_lpa2") {
      Graph.labelPropagation(bipartiteEdges(s, dir), iters = 2)
    }


  /** The 3-landmark BFS distance frame over [[bipartiteEdges]] —
    * consumed by graph_landmarks and reduced by graph_closeness, so
    * memoized like the edges and labels.
    */
  private def bipartiteLandmarks(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "bipartite_lm3") {
      Graph.multiSourceBfsLevels(bipartiteEdges(s, dir),
        nSources = 3, maxHops = 3)
    }

  /** The deterministic walk corpus over [[bipartiteEdges]] — consumed
    * by graph_walks and re-joined twice by graph_walk_pairs, so
    * memoized like the edge/label/landmark frames (the build is three
    * adjacency joins; one per suite, not per query).
    */
  private def bipartiteWalks(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "bipartite_walks") {
      Graph.randomWalks(bipartiteEdges(s, dir))
    }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_walks" -> ((s, dir) =>
      // deterministic 3-hop random walks from the low-id customers
      // over the memoized trading graph — the node2vec/DeepWalk
      // sampling primitive, hash-driven so both engines replay the
      // identical corpus
      bipartiteWalks(s, dir)
        .orderBy(col("start"), col("step"), col("node"))),
    "graph_walk_pairs" -> ((s, dir) =>
      // DeepWalk's training output: skip-gram (center, context) pair
      // counts within window 2 over the shared memoized walk corpus
      Graph.skipGramsFromWalks(bipartiteWalks(s, dir))
        .orderBy(col("center"), col("context"))),
    "graph_ppr" -> ((s, dir) =>
      // personalized PageRank: teleport restricted to the low-id
      // customer seeds — proximity-to-seeds ranking over the same
      // memoized trading graph (Graph.personalizedPageRank)
      Graph.personalizedPageRank(bipartiteEdges(s, dir), seedMax = 10L)
        .orderBy(col("node"))),
    "graph_pagerank" -> ((s, dir) =>
      // 3-iteration damped PageRank over the memoized trading graph
      // ([[bipartiteEdges]]). Exact integer micro-unit ranks — the
      // DuckDB twin unrolls the identical iterations relationally.
      Graph.pageRank(bipartiteEdges(s, dir)).orderBy(col("node"))),
    "graph_hits" -> ((s, dir) =>
      // HITS hubs/authorities over the DIRECTED customer→supplier leg
      // of the trading graph (its own memo — not an id-range filter
      // of the symmetric frame). Two max-normalized integer rounds;
      // the oracle unrolls the identical alternation.
      Graph.hits(bipartiteEdgesFwd(s, dir))
        .orderBy(col("kind"), col("node"))),
    "graph_triangles" -> ((s, dir) => {
      // exact triangle census + local clustering coefficient over the
      // parts co-purchase graph (parts linked when one order contains
      // both — the market-basket projection; the within-order pair
      // expansion is bounded by basket size, not corpus size). The
      // degree-oriented wedge join keeps the census O(m^1.5) under hub
      // skew — see Graph.triangles.
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = items.as("i").join(items.as("j"),
          col("i.o") === col("j.o") && col("i.p") < col("j.p"))
        .select(col("i.p").as("src"), col("j.p").as("dst")).distinct()
      Graph.triangles(edges).orderBy(col("node"))
    }),
    "graph_communities" -> ((s, dir) =>
      // deterministic synchronous label propagation (2 rounds, min-
      // label ties) over the memoized trading graph; the oracle
      // unrolls identical rounds ([[bipartiteLabels]])
      bipartiteLabels(s, dir).orderBy(col("node"))),
    "graph_bfs_levels" -> ((s, dir) =>
      // bounded single-source BFS over the memoized trading graph,
      // source = smallest node key (derived, so both engines agree);
      // the oracle's recursive CTE caps depth identically.
      Graph.bfsLevels(bipartiteEdges(s, dir), maxHops = 3)
        .orderBy(col("node"))),
    "graph_kcore" -> ((s, dir) =>
      // 3-round k=3 core peel over the memoized trading graph; the
      // oracle unrolls identical rounds (each a two-sided alive
      // restriction + degree count)
      Graph.kCore(bipartiteEdges(s, dir), k = 3, rounds = 3)
        .orderBy(col("node"))),
    "graph_assortativity" -> ((s, dir) =>
      // degree assortativity of the memoized trading graph — exact
      // sufficient statistics, doubles of exact rationals
      Graph.assortativity(bipartiteEdges(s, dir))),
    "graph_sssp" -> ((s, dir) => {
      // bounded Bellman–Ford over the customer↔supplier graph with
      // inverse-strength weights (w = 10⁶ div pair link count): the
      // cheapest path routes through the strongest trading relations.
      // The oracle unrolls the identical three relaxation rounds.
      val p = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("src"),
          (col("l_suppkey") + 100000L).as("dst"))
        .agg(count(lit(1)).as("n"))
      val e1 = p.select(col("src"), col("dst"),
        expr("1000000 div n").as("w"))
      val edges = e1.unionByName(e1.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      Graph.sssp(edges, rounds = 3).orderBy(col("node"))
    }),
    "graph_landmarks" -> ((s, dir) =>
      // 3-landmark simultaneous BFS over the memoized trading graph
      bipartiteLandmarks(s, dir).orderBy(col("source"), col("node"))),
    "graph_harmonic" -> ((s, dir) =>
      // landmark harmonic centrality (Boldi & Vigna 2014's axiom-clean
      // alternative to closeness): Σ 1/d over REACHED landmarks only,
      // so partially-reachable nodes rank instead of vanishing — the
      // disconnection-tolerance closeness lacks. Quantized 10⁴//d
      // keeps it integer-exact; same memoized landmark frame, one
      // hash aggregate + TakeOrderedAndProject.
      bipartiteLandmarks(s, dir)
        .filter(col("hop") >= 1)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_reached"),
          sum(expr("10000 div hop")).as("harmonic_q"))
        .orderBy(col("harmonic_q").desc, col("node")).limit(30)),
    "graph_closeness" -> ((s, dir) =>
      // landmark closeness (Potamias et al. 2009 landmark scheme,
      // degenerate exact form): total hops to the 3 landmarks for
      // nodes all landmarks reach within the cap — the top-30
      // most-central candidates a full closeness pass would re-rank.
      // Pure reduction of the memoized landmark frame: one hash
      // aggregate + TakeOrderedAndProject.
      bipartiteLandmarks(s, dir)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_landmarks"),
          sum(col("hop")).as("total_hops"))
        .filter(col("n_landmarks") === 3)
        .select(col("node"), col("total_hops"))
        .orderBy(col("total_hops"), col("node")).limit(30)),
    "graph_degree_dist" -> ((s, dir) =>
      // degree distribution (count-of-counts over nodes) of the
      // memoized trading graph — the first thing anyone plots about
      // a graph, and the skew input the triangle orientation relies on
      bipartiteEdges(s, dir)
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg"))),
    "graph_link_pred" -> ((s, dir) =>
      // who-trades-alike link prediction: common-part counts +
      // neighborhood Jaccard for customer pairs, hub parts capped
      // before the wedge join (Graph.linkPrediction)
      Graph.linkPrediction(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("node"),
            col("l_partkey").as("via")),
        maxHubDeg = 40, k = 50)),
    "graph_modularity" -> ((s, dir) =>
      // are the LPA communities real: per-community Newman modularity
      // terms in exact floor-division micro-units over the memoized
      // trading graph + its memoized LPA labels (Graph.modularity) —
      // the edge frame and the label frame are each built once per
      // (session, sfDir) and shared with graph_communities et al.
      Graph.modularity(bipartiteEdges(s, dir), bipartiteLabels(s, dir))),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "graph_walks" -> s"""
      WITH RECURSIVE
      e0 AS (SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      nd AS (SELECT DISTINCT src FROM e2),
      ${sdbmCte("nd", "src", "1", "CAST(src AS VARCHAR)", "h1")},
      ${sdbmCte("nd", "src", "2", "CAST(src AS VARCHAR)", "h2")},
      ${sdbmCte("nd", "src", "3", "CAST(src AS VARCHAR)", "h3")},
      adj AS (SELECT src, dst, row_number() OVER (
                PARTITION BY src ORDER BY dst) AS rk FROM e2),
      dg AS (SELECT src, count(*) AS deg FROM e2 GROUP BY 1),
      w0 AS (SELECT src AS start, src AS cur FROM nd WHERE src < 20),
      ${Seq(1, 2, 3).map { t => s"""
      w$t AS (SELECT w.start, a.dst AS cur
              FROM w${t - 1} w JOIN dg d ON d.src = w.cur
                   JOIN h$t ON h$t.sid = w.cur
                   JOIN adj a ON a.src = w.cur AND a.rk = 1 +
                     (((((h$t.hash % 2147483647) + 2147483647)
                        % 2147483647) * 48271) % 2147483647) % d.deg)"""
      }.mkString(",")}
      SELECT start, CAST(0 AS BIGINT) AS step, cur AS node FROM w0
      ${Seq(1, 2, 3).map(t =>
        s"UNION ALL SELECT start, CAST($t AS BIGINT), cur FROM w$t")
        .mkString(" ")}
      ORDER BY start, step, node""",
    "graph_walk_pairs" -> s"""
      WITH RECURSIVE
      e0 AS (SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      nd AS (SELECT DISTINCT src FROM e2),
      ${sdbmCte("nd", "src", "1", "CAST(src AS VARCHAR)", "h1")},
      ${sdbmCte("nd", "src", "2", "CAST(src AS VARCHAR)", "h2")},
      ${sdbmCte("nd", "src", "3", "CAST(src AS VARCHAR)", "h3")},
      adj AS (SELECT src, dst, row_number() OVER (
                PARTITION BY src ORDER BY dst) AS rk FROM e2),
      dg AS (SELECT src, count(*) AS deg FROM e2 GROUP BY 1),
      w0 AS (SELECT src AS start, src AS cur FROM nd WHERE src < 20),
      ${Seq(1, 2, 3).map { t => s"""
      w$t AS (SELECT w.start, a.dst AS cur
              FROM w${t - 1} w JOIN dg d ON d.src = w.cur
                   JOIN h$t ON h$t.sid = w.cur
                   JOIN adj a ON a.src = w.cur AND a.rk = 1 +
                     (((((h$t.hash % 2147483647) + 2147483647)
                        % 2147483647) * 48271) % 2147483647) % d.deg)"""
      }.mkString(",")},
      walk AS (SELECT start, CAST(0 AS BIGINT) AS step, cur AS node
               FROM w0
               ${Seq(1, 2, 3).map(t =>
                 s"UNION ALL SELECT start, CAST($t AS BIGINT), cur" +
                   s" FROM w$t").mkString(" ")})
      SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
      FROM walk a JOIN walk b ON a.start = b.start
        AND a.step <> b.step AND abs(a.step - b.step) <= 2
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "graph_ppr" -> s"""
      WITH e0 AS (SELECT DISTINCT o_custkey AS src,
                    100000 + l_suppkey AS dst
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      nodes AS (SELECT DISTINCT src AS node FROM e2),
      cnt AS (SELECT count(*) AS ns FROM nodes WHERE node < 10),
      base AS (SELECT ((1000000000000 // ns) * 15) // 100 AS b,
                      1000000000000 // ns AS init FROM cnt),
      deg AS (SELECT src, count(*) AS deg FROM e2 GROUP BY src),
      r0 AS (SELECT node,
               CASE WHEN node < 10 THEN init ELSE 0 END AS rank_micro
             FROM nodes CROSS JOIN base),
      ${Seq(("r0", "r1"), ("r1", "r2"), ("r2", "r3")).map {
        case (prev, nxt) => s"""
      $nxt AS (SELECT nodes.node,
          CASE WHEN nodes.node < 10 THEN b ELSE 0 END
            + (coalesce(s.sc, 0) * 85) // 100 AS rank_micro
        FROM nodes CROSS JOIN base
        LEFT JOIN (SELECT e2.dst AS node,
                     sum(r.rank_micro // deg.deg) AS sc
                   FROM e2 JOIN deg USING (src)
                        JOIN $prev r ON r.node = e2.src
                   GROUP BY e2.dst) s USING (node))"""
      }.mkString(",")}
      SELECT node, CAST(rank_micro AS BIGINT) AS rank_micro
      FROM r3 ORDER BY node""",
    "graph_pagerank" -> s"""
      WITH e0 AS (SELECT DISTINCT o_custkey AS src,
                    100000 + l_suppkey AS dst
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      nodes AS (SELECT DISTINCT src AS node FROM e2),
      cnt AS (SELECT count(*) AS n FROM nodes),
      base AS (SELECT ((1000000000000 // n) * 15) // 100 AS b,
                      1000000000000 // n AS init FROM cnt),
      deg AS (SELECT src, count(*) AS deg FROM e2 GROUP BY src),
      r0 AS (SELECT node, init AS rank_micro FROM nodes CROSS JOIN base),
      ${Seq(("r0", "r1"), ("r1", "r2"), ("r2", "r3")).map {
        case (prev, nxt) => s"""
      $nxt AS (SELECT nodes.node,
          b + (coalesce(s.sc, 0) * 85) // 100 AS rank_micro
        FROM nodes CROSS JOIN base
        LEFT JOIN (SELECT e2.dst AS node,
                     sum(r.rank_micro // deg.deg) AS sc
                   FROM e2 JOIN deg USING (src)
                        JOIN $prev r ON r.node = e2.src
                   GROUP BY e2.dst) s USING (node))"""
      }.mkString(",")}
      SELECT node, CAST(rank_micro AS BIGINT) AS rank_micro
      FROM r3 ORDER BY node""",
    "graph_hits" -> """
      WITH e0 AS (SELECT DISTINCT o_custkey AS src,
                    100000 + l_suppkey AS dst
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      h0 AS (SELECT DISTINCT src AS node, CAST(1000 AS BIGINT) AS s
             FROM e0),
      a1r AS (SELECT e0.dst AS node, CAST(sum(h.s) AS BIGINT) AS raw
              FROM e0 JOIN h0 h ON h.node = e0.src GROUP BY 1),
      a1 AS (SELECT node, (1000 * CAST(raw AS HUGEINT)) // (SELECT max(raw) FROM a1r)
               AS s FROM a1r),
      h1r AS (SELECT e0.src AS node, CAST(sum(a.s) AS BIGINT) AS raw
              FROM e0 JOIN a1 a ON a.node = e0.dst GROUP BY 1),
      h1 AS (SELECT node, (1000 * CAST(raw AS HUGEINT)) // (SELECT max(raw) FROM h1r)
               AS s FROM h1r),
      a2r AS (SELECT e0.dst AS node, CAST(sum(h.s) AS BIGINT) AS raw
              FROM e0 JOIN h1 h ON h.node = e0.src GROUP BY 1),
      a2 AS (SELECT node, (1000 * CAST(raw AS HUGEINT)) // (SELECT max(raw) FROM a2r)
               AS s FROM a2r),
      h2r AS (SELECT e0.src AS node, CAST(sum(a.s) AS BIGINT) AS raw
              FROM e0 JOIN a2 a ON a.node = e0.dst GROUP BY 1),
      h2 AS (SELECT node, (1000 * CAST(raw AS HUGEINT)) // (SELECT max(raw) FROM h2r)
               AS s FROM h2r)
      SELECT node, 'hub' AS kind, CAST(s AS BIGINT) AS score_milli
      FROM h2
      UNION ALL
      SELECT node, 'auth' AS kind, CAST(s AS BIGINT) AS score_milli
      FROM a2
      ORDER BY kind, node""",
    "graph_triangles" -> """
      WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem),
      e AS (SELECT DISTINCT i.p AS a, j.p AS b
            FROM it i JOIN it j ON i.o = j.o AND i.p < j.p),
      d AS (SELECT node, count(*) AS deg
            FROM (SELECT a AS node FROM e
                  UNION ALL SELECT b FROM e) n GROUP BY node),
      tr AS (SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
             FROM e e1
             JOIN e e2 ON e2.a = e1.b
             JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      pn AS (SELECT node, count(*) AS triangles
             FROM (SELECT n1 AS node FROM tr
                   UNION ALL SELECT n2 FROM tr
                   UNION ALL SELECT n3 FROM tr) x GROUP BY node)
      SELECT d.node, d.deg,
             COALESCE(pn.triangles, 0) AS triangles,
             CASE WHEN d.deg > 1
                  THEN (2000000 * COALESCE(pn.triangles, 0))
                         // (d.deg * (d.deg - 1))
                  ELSE 0 END AS cc_micro
      FROM d LEFT JOIN pn ON d.node = pn.node
      ORDER BY d.node""",
    // 2 synchronous LPA rounds unrolled; argmax(count) with min-label
    // ties via row_number — must mirror Graph.labelPropagation exactly
    "graph_communities" -> s"""
      $lpaCteSql
      SELECT node, label FROM l2 ORDER BY node""",
    "graph_bfs_levels" -> """
      WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey AS src,
                              100000 + l_suppkey AS dst
                            FROM orders
                            JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      s AS (SELECT min(src) AS s0 FROM e2),
      bfs(node, d) AS (
        SELECT s0, 0 FROM s
        UNION
        SELECT e2.dst, bfs.d + 1 FROM bfs
        JOIN e2 ON e2.src = bfs.node WHERE bfs.d < 3)
      SELECT node, CAST(min(d) AS BIGINT) AS hop
      FROM bfs GROUP BY node ORDER BY node""",
    "graph_kcore" -> s"""
      WITH e0 AS (SELECT DISTINCT o_custkey AS src,
                    100000 + l_suppkey AS dst
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      a0 AS (SELECT DISTINCT src AS node FROM e2),
      ${Seq(("a0", "d1", "a1"), ("a1", "d2", "a2"), ("a2", "d3", "a3"))
        .map { case (prev, dg, nxt) => s"""
      $dg AS (SELECT e2.src AS node, count(*) AS deg FROM e2
              JOIN $prev s ON s.node = e2.src
              JOIN $prev t ON t.node = e2.dst GROUP BY 1),
      $nxt AS (SELECT node FROM $dg WHERE deg >= 3)"""
        }.mkString(",")}
      SELECT node, CAST(deg AS BIGINT) AS deg
      FROM d3 WHERE deg >= 3 ORDER BY node""",
    "graph_assortativity" -> """
      WITH e0 AS (SELECT DISTINCT o_custkey AS src,
                    100000 + l_suppkey AS dst
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      deg AS (SELECT src AS node, count(*) AS deg FROM e2 GROUP BY 1),
      xy AS (SELECT dx.deg AS x, dy.deg AS y
             FROM e2 JOIN deg dx ON dx.node = e2.src
                     JOIN deg dy ON dy.node = e2.dst),
      s AS (SELECT count(*) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              sum(CAST(x AS HUGEINT) * y) AS sxy,
              sum(CAST(x AS HUGEINT) * x) AS sxx,
              sum(CAST(y AS HUGEINT) * y) AS syy FROM xy),
      r AS (SELECT n, sx, sy,
              CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
              CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
              CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
            FROM s)
      SELECT n AS n_edges, sx, sy,
             CAST(CAST(num AS VARCHAR) AS DOUBLE) /
               CAST(CAST(den AS VARCHAR) AS DOUBLE) AS slope,
             CAST(CAST(num AS VARCHAR) AS DOUBLE) *
               CAST(CAST(num AS VARCHAR) AS DOUBLE) /
               (CAST(CAST(den AS VARCHAR) AS DOUBLE) *
                CAST(CAST(deny AS VARCHAR) AS DOUBLE)) AS r2
      FROM r""",
    "graph_landmarks" -> """
      WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey AS src,
                              100000 + l_suppkey AS dst
                            FROM orders
                            JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      seeds AS (SELECT src FROM (
        SELECT DISTINCT src FROM e2 ORDER BY src LIMIT 3)),
      bfs(source, node, d) AS (
        SELECT src, src, 0 FROM seeds
        UNION
        SELECT bfs.source, e2.dst, bfs.d + 1 FROM bfs
        JOIN e2 ON e2.src = bfs.node WHERE bfs.d < 3)
      SELECT source, node, CAST(min(d) AS BIGINT) AS hop
      FROM bfs GROUP BY 1, 2 ORDER BY source, node""",
    "graph_degree_dist" -> """
      WITH e0 AS (SELECT DISTINCT o_custkey AS src,
                    100000 + l_suppkey AS dst
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      dg AS (SELECT src, count(*) AS deg FROM e2 GROUP BY 1)
      SELECT deg, count(*) AS n_nodes FROM dg
      GROUP BY deg ORDER BY deg""",
    "graph_sssp" -> s"""
      WITH p AS (SELECT o_custkey AS src, 100000 + l_suppkey AS dst,
                   count(*) AS n
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                 GROUP BY 1, 2),
      e AS (SELECT src, dst, 1000000 // n AS w FROM p
            UNION ALL SELECT dst, src, 1000000 // n FROM p),
      s AS (SELECT min(src) AS s0 FROM e),
      d0 AS (SELECT s0 AS node, CAST(0 AS BIGINT) AS dist FROM s),
      ${Seq(("d0", "d1"), ("d1", "d2"), ("d2", "d3")).map {
        case (prev, nxt) => s"""
      $nxt AS (SELECT node, min(d) AS dist FROM (
          SELECT node, dist AS d FROM $prev
          UNION ALL
          SELECT e.dst, $prev.dist + e.w FROM $prev
          JOIN e ON e.src = $prev.node) u GROUP BY 1)"""
      }.mkString(",")}
      SELECT node, CAST(dist AS BIGINT) AS dist
      FROM d3 ORDER BY node""",
    "graph_link_pred" -> """
      WITH p AS (SELECT DISTINCT o_custkey AS node, l_partkey AS via
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      kv AS (SELECT via FROM p GROUP BY via HAVING count(*) <= 40),
      kept AS (SELECT p.node, p.via FROM p JOIN kv USING (via)),
      deg AS (SELECT node, count(*) AS deg FROM kept GROUP BY 1),
      w AS (SELECT x.node AS a, y.node AS b, count(*) AS cn
            FROM kept x JOIN kept y
              ON x.via = y.via AND x.node < y.node
            GROUP BY 1, 2)
      SELECT a, b, cn, da.deg AS da, db.deg AS db,
             (10000 * cn) // (da.deg + db.deg - cn) AS jaccard_bp
      FROM w JOIN deg da ON da.node = w.a
             JOIN deg db ON db.node = w.b
      ORDER BY cn DESC, jaccard_bp DESC, a, b LIMIT 50""",
    "graph_modularity" -> s"""
      $lpaCteSql,
      m2f AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e2),
      deg AS (SELECT src AS node, count(*) AS deg FROM e2 GROUP BY 1),
      dc AS (SELECT label, count(*) AS n_nodes,
               CAST(sum(coalesce(deg, 0)) AS BIGINT) AS deg_sum
             FROM l2 LEFT JOIN deg USING (node) GROUP BY 1),
      intra AS (SELECT la.label, count(*) AS intra2
                FROM e2 JOIN l2 la ON la.node = e2.src
                     JOIN l2 lb ON lb.node = e2.dst
                WHERE la.label = lb.label GROUP BY 1),
      j AS (SELECT dc.label, n_nodes,
              CAST(coalesce(intra2, 0) AS BIGINT) AS intra2,
              deg_sum, m2
            FROM dc LEFT JOIN intra USING (label), m2f),
      q AS (SELECT label, n_nodes, intra2, deg_sum,
              1000000 * (CAST(m2 AS HUGEINT) * intra2 -
                CAST(deg_sum AS HUGEINT) * deg_sum) AS qn,
              CAST(m2 AS HUGEINT) * m2 AS qd
            FROM j)
      SELECT label, n_nodes, intra2, deg_sum,
             CAST((qn - ((qn % qd) + qd) % qd) // qd AS BIGINT)
               AS q_term_micro
      FROM q ORDER BY label""",
    "graph_harmonic" -> """
      WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey AS src,
                              100000 + l_suppkey AS dst
                            FROM orders
                            JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      seeds AS (SELECT src FROM (
        SELECT DISTINCT src FROM e2 ORDER BY src LIMIT 3)),
      bfs(source, node, d) AS (
        SELECT src, src, 0 FROM seeds
        UNION
        SELECT bfs.source, e2.dst, bfs.d + 1 FROM bfs
        JOIN e2 ON e2.src = bfs.node WHERE bfs.d < 3),
      h AS (SELECT source, node, min(d) AS hop FROM bfs GROUP BY 1, 2)
      SELECT node, count(*) AS n_reached,
             CAST(sum(10000 // hop) AS BIGINT) AS harmonic_q
      FROM h WHERE hop >= 1 GROUP BY node
      ORDER BY harmonic_q DESC, node LIMIT 30""",
    "graph_closeness" -> """
      WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey AS src,
                              100000 + l_suppkey AS dst
                            FROM orders
                            JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      seeds AS (SELECT src FROM (
        SELECT DISTINCT src FROM e2 ORDER BY src LIMIT 3)),
      bfs(source, node, d) AS (
        SELECT src, src, 0 FROM seeds
        UNION
        SELECT bfs.source, e2.dst, bfs.d + 1 FROM bfs
        JOIN e2 ON e2.src = bfs.node WHERE bfs.d < 3),
      h AS (SELECT source, node, min(d) AS hop FROM bfs GROUP BY 1, 2)
      SELECT node, CAST(sum(hop) AS BIGINT) AS total_hops
      FROM h GROUP BY node HAVING count(*) = 3
      ORDER BY total_hops, node LIMIT 30""",
  )
}
