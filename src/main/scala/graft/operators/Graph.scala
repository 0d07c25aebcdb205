package graft.operators

import graft.Scratch.pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on edge DataFrames — the category beyond
  * [[Dedup.clusters]]' connected components. PageRank here is the
  * classic damped power iteration (Page, Brin, Motwani & Winograd
  * 1999) in EXACT INTEGER micro-units: ranks live in units of 1e-12
  * of the initial per-node mass, every division is truncating
  * (`div`), so after any fixed iteration count the ranks are
  * bit-identical on any cluster topology AND re-derivable by a
  * relational engine — which is what makes the operator
  * oracle-checkable (DuckDB unrolls the same iterations with `//`).
  *
  * Scale shape per iteration: one equi-join of edges to the rank
  * frame on the source key plus one aggregation on the destination —
  * both shuffles on node keys (co-partitioned round over round),
  * nothing broadcast except Catalyst's own choice for the
  * (node-count-sized) rank frame when it is small. Lineage is cut
  * with a pin ([[graft.Scratch.pin]]) per round, the same
  * bounded-iteration discipline as [[Dedup.clusters]].
  *
  * Every operator pins the edge frame it re-reads each round with one
  * LAZY pin, materialized by the first round's job and cached
  * MEMORY_AND_DISK — the GraphX edge-cache discipline. Without it,
  * every round re-runs the caller's upstream joins that built the
  * edge list (at 100 TB that upstream scan dominates the iteration
  * itself). A frame the caller pinned already is kept as it is, so
  * composed queries like graph_modularity pin ONCE and share across
  * LPA + the modularity joins.
  *
  * Deliberate simplifications, documented: dangling-node mass is NOT
  * redistributed (their outflow vanishes — total mass decays, ranking
  * order is unaffected for fixed iteration counts), and the damping
  * base term uses the truncating per-node constant
  * `((unit div n) · (100−d)) div 100`.
  */
object Graph {

  /** Round `i` of `n`'s iterate, pinned every 2nd round and the last.
    * Lineage stays bounded (≤2 rounds deep) and the join/agg shape per
    * round is unchanged, but half the rounds stop paying an
    * eager-checkpoint job + a node-sized cache write — the unpinned
    * round fuses into the next round's job as ordinary stages.
    */
  private def pinEveryOther(label: String, i: Int, n: Int,
      next: DataFrame): DataFrame =
    if (i % 2 == 1 || i == n - 1) pin(s"$label round $i", next) else next

  /** One PageRank round's contribution frame — the hot join of the
    * whole family, shared by [[pageRank]] and [[pageRankConverged]]
    * and exercised directly by GraphSpec's skew test. The per-source
    * outflow c = rank div deg is computed FIRST on the two node-sized
    * frames (out-degrees ⋈ ranks — every key once, no skew possible),
    * and edges join that state exactly once on the SOURCE key, then a
    * destination-keyed sum.
    *
    * The single edges⋈state join is deliberate, and not only because
    * it is one src shuffle instead of two: under hub skew (one source
    * emitting a large share of all edges — the regime
    * `graph_degree_dist` documents) the straggler mitigation is AQE's
    * runtime skew split (`spark.sql.adaptive.skewJoin.*`, on by
    * default in [[graft.Sessions]]), and OptimizeSkewedJoin refuses
    * to split a sort-merge join whose output partitioning ANOTHER
    * same-key join still depends on — the naive
    * edges⋈deg⋈ranks chain is exactly that shape, so a static
    * three-frame plan is un-splittable. With the state pre-joined,
    * the oversized edge partition is split into threshold-sized
    * slices, each merged against a replicated copy of the hot key's
    * state row — GraphSpec pins `skew=true` in the executed plan on
    * a 97%-hub edge set with bit-identical ranks. For the same
    * reason the state is MATERIALIZED (LAZY pin — the node-sized
    * frame persists during the round that consumes it; under AQE the
    * pin runs the state's own shuffle stages when it is taken, see
    * [[graft.Scratch.pin]]): skew split also requires both join
    * children to be planner-inserted (ENSURE_REQUIREMENTS) shuffle
    * stages, and an inline outdeg⋈ranks subplan on the state side
    * would disqualify the join just as the chain does. The destination-keyed sum is
    * already safe under in-degree skew: hash aggregation combines
    * map-side, so the hot destination receives one partial row per
    * task, not one row per edge.
    */
  private[graft] def pageRankContrib(edges: DataFrame, outdeg: DataFrame,
      r: DataFrame): DataFrame = {
    val state = outdeg
      .join(r.withColumnRenamed("node", "src"), "src")
      .select(col("src"), expr("rank_micro div deg").as("c"))
    edges.join(pin("pageRank state", state, eager = false), "src")
      .groupBy(col("dst").as("node")).agg(sum(col("c")).as("sc"))
  }

  /** `edges`: (src: long, dst: long), pre-deduplicated by the caller
    * if multi-edges should not weigh double. Returns (node,
    * rank_micro) for every node appearing as a source or target.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, dampingPct: Int = 85,
      unit: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val e = pin("pageRank edges", edges, eager = false)
    val nodes = pin("pageRank nodes", e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    if (n == 0) return nodes.withColumn("rank_micro", lit(0L))
    val outdeg = pin("pageRank outdeg",
      e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val init = unit / n
    val base = (init * (100 - dampingPct)) / 100
    var r = nodes.withColumn("rank_micro", lit(init))
    for (i <- 0 until iters) {
      val contrib = pageRankContrib(e, outdeg, r)
      val next = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"(coalesce(sc, 0L) * $dampingPct) div 100"))
            .as("rank_micro"))
      r = pinEveryOther("pageRank", i, iters, next)
    }
    r
  }

  /** Personalized PageRank (Jeh & Widom 2003) — [[pageRank]] with the
    * teleport mass restricted to a SEED set (nodes < `seedMax`): the
    * random surfer restarts only at the seeds, so ranks measure
    * proximity TO the seeds rather than global importance — the
    * engine of recommendation ("users near these customers") and of
    * seed-expanded entity sets. Same exact-integer discipline as the
    * global variant: unit mass split over the seeds, damped inflow in
    * truncating micro-units, identical per-iteration join/agg shape,
    * DuckDB twin unrolls the same iterations. Non-seed nodes carry no
    * base term; a node unreachable from the seeds reads exactly 0.
    *
    * Output: (node, rank_micro), personalized to the seed set.
    */
  def personalizedPageRank(edges: DataFrame, seedMax: Long = 10L,
      iters: Int = 3, dampingPct: Int = 85,
      unit: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val e = pin("personalizedPageRank edges", edges, eager = false)
    val nodes = pin("personalizedPageRank nodes",
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val seeds = nodes.filter(col("node") < seedMax)
    val nSeeds = seeds.count()
    require(nSeeds > 0, s"no seed nodes below $seedMax")
    val outdeg = pin("personalizedPageRank outdeg",
      e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val init = unit / nSeeds
    val base = (init * (100 - dampingPct)) / 100
    val isSeed = when(col("node") < seedMax, 1L).otherwise(0L)
    var r = nodes.withColumn("rank_micro", isSeed * init)
    for (i <- 0 until iters) {
      val contrib = pageRankContrib(e, outdeg, r)
      val next = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (isSeed * base +
            expr(s"(coalesce(sc, 0L) * $dampingPct) div 100"))
            .as("rank_micro"))
      r = pinEveryOther("personalizedPageRank", i, iters, next)
    }
    r
  }

  /** [[pageRank]] with an L1-delta early exit — the production entry
    * point. Iterates the same damped update but stops as soon as the
    * total absolute rank movement Σ|rᵢ − rᵢ₋₁| (micro-units) falls to
    * `tolMicro`, or at `maxIters`. Returns (ranks, itersRun). The
    * fixed-iteration twin stays the oracle-gated query (DuckDB unrolls
    * an identical iteration count); convergence testing costs one
    * node-keyed join + scalar agg per iteration — same shuffle key the
    * iteration already uses, and each iterate is localCheckpoint'ed so
    * lineage stays flat either way.
    */
  def pageRankConverged(edges: DataFrame, maxIters: Int = 20,
      tolMicro: Long = 1000L, dampingPct: Int = 85,
      unit: Long = 1000000000000L): (DataFrame, Int) = {
    require(maxIters >= 1 && tolMicro >= 0 &&
      dampingPct >= 0 && dampingPct <= 100)
    val e = pin("pageRankConverged edges", edges, eager = false)
    val nodes = pin("pageRankConverged nodes",
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    if (n == 0) return (nodes.withColumn("rank_micro", lit(0L)), 0)
    val outdeg = pin("pageRankConverged outdeg",
      e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val init = unit / n
    val base = (init * (100 - dampingPct)) / 100
    var r = pin("pageRankConverged init",
      nodes.withColumn("rank_micro", lit(init)))
    var iters = 0
    var moved = Long.MaxValue
    while (iters < maxIters && moved > tolMicro) {
      val contrib = pageRankContrib(e, outdeg, r)
      val next = pin(s"pageRankConverged round $iters", nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"(coalesce(sc, 0L) * $dampingPct) div 100"))
            .as("rank_micro")))
      moved = next
        .join(r.withColumnRenamed("rank_micro", "prev"), "node")
        .agg(sum(abs(col("rank_micro") - col("prev"))).as("d"))
        .head().getLong(0)
      r = next
      iters += 1
    }
    (r, iters)
  }

  /** Single-source BFS hop distances, bounded at `maxHops` rounds —
    * the reachability/radius primitive the other iterative operators
    * ([[pageRank]], [[labelPropagation]]) assume the caller already
    * has. The source is the smallest source key in the edge set (a
    * pure function of the input, so any engine re-derives the same
    * start node); each round expands the current frontier through ONE
    * equi-join on the source key, anti-joins against the settled set
    * (a node keeps its FIRST hop — BFS minimality), and unions the
    * survivors in.
    *
    * Scale shape per round: frontier⋈edges is a shuffle equi-join on
    * node keys, the settled-set anti-join likewise; the frontier and
    * settled frames are node-bounded, never corpus-bounded, and AQE
    * is free to broadcast a small frontier. Lineage is cut per round
    * with localCheckpoint, the same bounded-iteration discipline as
    * [[pageRank]]. The only driver-side value is the 1-row min-source
    * fetch. Fixed `maxHops` keeps the operator a pure function for
    * the oracle; real radii want a loop-until-empty-frontier variant,
    * which is the same loop with an `isEmpty` probe per round.
    *
    * Output: (node, hop) for every node within `maxHops` of the
    * source, hop = exact BFS distance.
    */
  def bfsLevels(edges: DataFrame, maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1, "bfsLevels needs at least one round")
    val e = pin("bfsLevels edges", edges, eager = false)
    val srcRow = e.agg(min(col("src"))).head()
    require(!srcRow.isNullAt(0), "bfsLevels needs a non-empty edge set")
    val src0 = srcRow.getLong(0)
    val spark = e.sparkSession
    var dist = pin("bfsLevels source", spark.range(1)
      .select(lit(src0).as("node"), lit(0L).as("hop")))
    var frontier = dist
    for (h <- 1 to maxHops) {
      val next = frontier.select(col("node").as("src"))
        .join(e, "src")
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hop"))
      frontier = pin(s"bfsLevels round $h", next)
      // the settled set is a UNION OF CHECKPOINTED FRONTIERS — lineage
      // depth 1 by construction, so checkpointing the union itself
      // would only pay an extra job + cache write per hop.
      dist = dist.union(frontier)
    }
    dist
  }

  /** Multi-source BFS — [[bfsLevels]] generalized to the `nSources`
    * smallest source keys expanding SIMULTANEOUSLY in one composite-
    * keyed frame (source, node): the landmark-distance primitive of
    * approximate closeness/centrality schemes (pick k landmarks, BFS
    * from all of them, estimate distances through landmark sums).
    * Same per-round shape as [[bfsLevels]] — frontier⋈edges equi-join
    * + settled anti-join, now keyed (source, node) — so k landmarks
    * cost the SAME number of rounds, not k separate traversals.
    * Output: (source, node, hop).
    */
  def multiSourceBfsLevels(edges: DataFrame, nSources: Int = 3,
      maxHops: Int = 3): DataFrame = {
    require(nSources >= 1 && maxHops >= 1)
    val e = pin("multiSourceBfsLevels edges", edges, eager = false)
    val spark = e.sparkSession
    import spark.implicits._
    val srcs = e.select(col("src")).distinct().orderBy(col("src"))
      .limit(nSources).as[Long].collect().toSeq
    var dist = pin("multiSourceBfsLevels sources",
      srcs.map(s => (s, s, 0L)).toDF("source", "node", "hop"))
    var frontier = dist
    for (h <- 1 to maxHops) {
      val next = frontier.select(col("source"), col("node").as("src"))
        .join(e, "src")
        .select(col("source"), col("dst").as("node")).distinct()
        .join(dist, Seq("source", "node"), "left_anti")
        .select(col("source"), col("node"), lit(h.toLong).as("hop"))
      frontier = pin(s"multiSourceBfsLevels round $h", next)
      dist = dist.union(frontier) // union of checkpointed frontiers
    }
    dist
  }

  /** Bounded Bellman–Ford single-source shortest paths over
    * positively-weighted edges — [[bfsLevels]]' weighted sibling. Each
    * round relaxes every edge once: dist' = min(dist, min over
    * in-edges(dist(src) + w)); after `rounds` rounds the frame holds
    * exact shortest distances among paths of ≤ `rounds` edges (full
    * convergence at rounds = diameter; fixed rounds keep the operator
    * a pure function for the oracle, which unrolls the identical
    * relaxations).
    *
    * Scale shape per round: one equi-join of the dist frame to edges
    * on the source key + one min-aggregation on the destination —
    * node-keyed shuffles, dist is node-bounded, lineage cut per round
    * ([[pageRank]] discipline). Source = smallest source key, derived
    * like [[bfsLevels]]. `edges`: (src, dst, w) with w a positive
    * integer; pass both directions for undirected semantics.
    *
    * Output: (node, dist) for nodes reachable within `rounds` edges.
    */
  def sssp(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1)
    val e = pin("sssp edges", edges, eager = false)
    val srcRow = e.agg(min(col("src"))).head()
    require(!srcRow.isNullAt(0), "sssp needs a non-empty edge set")
    val src0 = srcRow.getLong(0)
    var dist = pin("sssp source", e.sparkSession.range(1)
      .select(lit(src0).as("node"), lit(0L).as("dist")))
    for (r <- 0 until rounds) {
      val relaxed = dist.select(col("node").as("src"), col("dist"))
        .join(e, "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("d"))
      val next = dist.select(col("node"), col("dist").as("d"))
        .unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("d")).as("dist"))
      dist = pinEveryOther("sssp", r, rounds, next)
    }
    dist
  }

  /** Exact per-node triangle counts + local clustering coefficient,
    * via the degree-oriented two-join plan (the MapReduce triangle
    * pattern of Suri & Vassilvitskii, WWW 2011 "Counting Triangles
    * and the Curse of the Last Reducer"): canonicalize to an
    * undirected simple graph, orient every edge from its LOWER to its
    * higher endpoint under the total order (degree, node), enumerate
    * wedges inside each node's out-neighborhood, and close them with
    * one equi-join back against the oriented edge set.
    *
    * Why orientation matters at 100 TB: out-degrees under the
    * (degree, node) order are bounded by O(√m), so wedge work is
    * O(m^1.5) however skewed the hubs — a value-order orientation
    * would enumerate Θ(deg²) wedges AT the hub (the "last reducer"
    * of the paper's title). Every step is a shuffle equi-join or
    * hash aggregation on node keys; nothing is broadcast or
    * collected. Each triangle is found exactly once (at its
    * lowest-ordered apex).
    *
    * Output: (node, deg, triangles, cc_micro) — cc_micro the local
    * clustering coefficient 2·tri/(deg·(deg−1)) in exact integer
    * micro-units (truncating division, 0 for deg ≤ 1).
    */
  def triangles(edges: DataFrame): DataFrame = {
    // NOT pinned, deliberately (r19 optimization round A/B'd it in
    // one JVM, interleaved reps): checkpointing und/deg/oriented to
    // stop the caller's edge derivation recomputing per consumer
    // measured SLOWER (registry-pinned 2.49-2.93 s vs unpinned
    // 2.11-2.67 s warm) — the fan-out looks like 188 scans in the
    // static plan, but runtime exchange reuse already dedupes the
    // repeated subtrees, so the pins only added three job barriers.
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    // carry the head's (deg, node) key so the wedge pair order and the
    // closing join never need to re-attach degrees
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
        .as("e"))
      .select(col("e.u"), col("e.v"), col("e.dv"))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (struct(col("x.dv"), col("x.v")) <
            struct(col("y.dv"), col("y.v"))))
      .select(col("x.u").as("n1"), col("x.v").as("n2"),
        col("y.v").as("n3"))
    val tris = wedges.join(
      oriented.select(col("u").as("n2"), col("v").as("n3")),
      Seq("n2", "n3"))
    val perNode = tris.select(col("n1").as("node"))
      .union(tris.select(col("n2").as("node")))
      .union(tris.select(col("n3").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_micro",
        when(col("deg") > 1,
          expr("(2000000 * triangles) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
  }

  /** Bounded k-core peeling (Seidman 1983): repeatedly drop nodes
    * whose degree among SURVIVING nodes falls below `k`; after enough
    * rounds the survivors are exactly the k-core (maximal subgraph of
    * min-degree ≥ k). Fixed `rounds` keeps the operator a pure
    * function of (edges, k, rounds) — the oracle unrolls identical
    * rounds; real users raise `rounds` until a round removes nothing
    * (each round can only shrink the alive set, so convergence is
    * monotone and detectable with a count probe).
    *
    * Scale shape per round: two alive-set equi-joins restrict the
    * edge set (node-keyed shuffles, alive is node-bounded so AQE may
    * broadcast it as it shrinks), then one degree hash-aggregation —
    * the [[pageRank]] discipline, lineage cut per round. `edges`:
    * directed; pass both directions for the undirected semantics
    * (degree = in-degree over the symmetrized edge set).
    *
    * Output: (node, deg) for nodes alive after `rounds` rounds, deg =
    * their degree within the surviving subgraph of the LAST round.
    */
  def kCore(edges: DataFrame, k: Int = 2, rounds: Int = 3): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val e0 = pin("kCore edges", edges, eager = false)
    var alive = pin("kCore nodes", e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct())
    var deg: DataFrame = null
    for (r <- 0 until rounds) {
      val e = e0
        .join(alive.withColumnRenamed("node", "src"), "src")
        .join(alive.withColumnRenamed("node", "dst"), "dst")
      // LAZY pin: under AQE taking it runs the shuffle stages below the
      // groupBy (see Scratch.pin); alive's eager pin below then computes
      // deg's blocks from that shuffle output in the job that pins
      // alive, and the final round's deg is read from cache by the
      // closing join.
      deg = pin(s"kCore round $r degrees", e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg")), eager = false)
      alive = pin(s"kCore round $r alive",
        deg.filter(col("deg") >= k).select(col("node")))
    }
    deg.join(alive, "node").select(col("node"), col("deg"))
  }

  /** Degree assortativity — the Pearson correlation of endpoint
    * degrees across (directed) edges, the one-number answer to "do
    * hubs link to hubs?" (Newman 2002). Computed with the
    * [[graft.SparkEntry]] q_stats_agg discipline: degrees are exact
    * integers, the five sufficient statistics accumulate exactly
    * (int64 / DECIMAL(38,0)), and the final slope/r² are IEEE doubles
    * OF EXACT RATIONALS — merge-order-independent at any parallelism.
    * r² is reported with the slope carrying the sign (r = sign(slope)
    * ·√r²; the square root is presentation, the rationals are the
    * statistic). Scale shape: two degree-keyed equi-joins to decorate
    * edges + one scalar aggregate — nothing windowed, nothing
    * collected.
    *
    * Output: 1 row (n_edges, sx, sy, slope, r2).
    */
  def assortativity(edges: DataFrame): DataFrame = {
    // out-degree over the symmetrized edge list = undirected degree;
    // pass both directions (as the scaladoc requires) so every
    // endpoint has a degree row
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val xy = edges
      .join(deg.select(col("node").as("src"), col("deg").as("x")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("y")), "dst")
    val d = (c: Column) => c.cast("decimal(38,0)")
    xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(d(col("x")) * col("y")).as("sxy"),
        sum(d(col("x")) * col("x")).as("sxx"),
        sum(d(col("y")) * col("y")).as("syy"))
      .withColumn("num", d(col("n")) * col("sxy") - d(col("sx")) * col("sy"))
      .withColumn("den", d(col("n")) * col("sxx") - d(col("sx")) * col("sx"))
      .withColumn("deny", d(col("n")) * col("syy") - d(col("sy")) * col("sy"))
      .select(col("n").as("n_edges"), col("sx"), col("sy"),
        (col("num").cast("double") / col("den").cast("double"))
          .as("slope"),
        (col("num").cast("double") * col("num").cast("double") /
          (col("den").cast("double") * col("deny").cast("double")))
          .as("r2"))
  }

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert & Kumara 2007), made fully deterministic: every node
    * starts as its own label (its id), and each round SIMULTANEOUSLY
    * adopts the label most frequent among its in-neighbors — ties
    * broken by the SMALLEST label, nodes with no in-edges keep their
    * label. The paper's random update order and random tie-break are
    * exactly what makes vanilla LPA irreproducible; fixed synchronous
    * rounds + min-label ties give a pure function of (edges, iters)
    * that any engine re-derives bit-identically (the oracle unrolls
    * the same rounds relationally). The cost is the known synchronous-
    * LPA oscillation mode on bipartite-ish structure — at a fixed
    * round count that is still a deterministic (and useful) labeling,
    * and callers wanting the asynchronous flavor run more rounds on
    * the symmetrized graph.
    *
    * Scale shape per round, same discipline as [[pageRank]]: one
    * equi-join of edges to the label frame on the source key, one
    * (node, label) count aggregate, one argmax via `min(struct(-n,
    * label))` — all shuffles on node keys, lineage cut per round with
    * localCheckpoint. Nothing is ever collected or broadcast by hint;
    * the label frame is node-sized and AQE decides.
    *
    * `edges`: (src, dst) directed — pass both directions for the
    * undirected semantics the paper assumes.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one round")
    val e = pin("labelPropagation edges", edges, eager = false)
    val nodes = pin("labelPropagation nodes",
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    var labels = nodes.withColumn("label", col("node"))
    for (i <- 0 until iters) {
      val votes = e
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("n"))
      val winner = votes
        .groupBy(col("node"))
        .agg(min(struct((-col("n")).as("neg_n"), col("label")))
          .as("w"))
        .select(col("node"), col("w.label").as("new_label"))
      val next = labels.join(winner, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label"))
      // the final frame is what callers like [[modularity]] re-read 3×
      labels = pinEveryOther("labelPropagation", i, iters, next)
    }
    labels
  }

  /** Newman modularity per community — "are these communities real",
    * the quality score for [[labelPropagation]]'s output (Newman &
    * Girvan 2004). Over the symmetrized edge list E₂ (|E₂| = 2m),
    * each community contributes Q_c = e_c/|E₂| − (d_c/|E₂|)², with
    * e_c the directed intra-community edge count and d_c the degree
    * mass; reported fraction-free as exact micro-units
    * (1e6·(|E₂|·e_c − d_c²)) over |E₂|² with FLOOR division (the
    * term goes negative for worse-than-random communities, so
    * truncation would diverge between engines — pmod spelling both
    * sides). Σ q_term_micro ≈ 1e6·Q. Degrees and intra counts ride
    * DECIMAL(38,0) (d_c² passes int64 near 2e9 edges). Shape: two
    * label-decorating equi-joins + two hash aggregations; the 1-row
    * edge-count frame crosses in broadcast.
    *
    * Output: (label, n_nodes, intra2, deg_sum, q_term_micro)
    * ordered by label.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    // read 3× below (m2f, deg, intra)
    val e = pin("modularity edges", edges, eager = false)
    val m2f = e.agg(count(lit(1)).as("m2"))
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val dc = labels.join(deg, Seq("node"), "left")
      .select(col("label"), coalesce(col("deg"), lit(0L)).as("deg"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val intra = e
      .join(labels.select(col("node").as("src"), col("label").as("ls")),
        "src")
      .join(labels.select(col("node").as("dst"), col("label").as("ld")),
        "dst")
      .filter(col("ls") === col("ld"))
      .groupBy(col("ls").as("label")).agg(count(lit(1)).as("intra2"))
    modularityTerms(
      dc.join(intra, Seq("label"), "left")
        .select(col("label"), col("n_nodes"),
          coalesce(col("intra2"), lit(0L)).as("intra2"), col("deg_sum"))
        .crossJoin(broadcast(m2f)))
  }

  /** [[modularity]]'s post-aggregation arithmetic over the
    * (label, n_nodes, intra2, deg_sum, m2) frame — split out so
    * OverflowSpec can drive the exact expressions at the claimed
    * magnitudes (m2 ≈ 4e9 for a 2e9-edge symmetrized graph, where
    * d_c² ≈ 1.6e19 overflows int64 and must ride DECIMAL(38,0);
    * 1e6·qn ≈ 1.6e25 and qd = m2² ≈ 1.6e19 both clear 10³⁸). The
    * inputs are COUNTS (int64-safe by construction), so the clearing
    * claim lives entirely in this arithmetic.
    */
  private[graft] def modularityTerms(joined: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    joined
      .select(col("label"), col("n_nodes"), col("intra2"),
        col("deg_sum"),
        (dec(col("m2")) * col("intra2") -
          dec(col("deg_sum")) * col("deg_sum")).as("qn"),
        (dec(col("m2")) * col("m2")).as("qd"))
      .select(col("label"), col("n_nodes"), col("intra2"),
        col("deg_sum"),
        expr("((1000000 * qn) - pmod(1000000 * qn, qd)) div qd")
          .cast("long").as("q_term_micro"))
      .orderBy(col("label"))
  }

  /** Common-neighbor link prediction over a bipartite incidence list
    * (Liben-Nowell & Kleinberg 2003's CN/Jaccard predictors): for
    * every pair of left-nodes sharing at least one right-node
    * ("via"), score the unobserved link by shared-neighbor count and
    * neighborhood Jaccard. The candidate pairs are generated by a
    * WEDGE equi-join on the via key — never an all-pairs product —
    * so work is Σ_via deg(via)², which stays O(edges) whenever
    * per-via degree is bounded. `maxHubDeg` enforces that bound:
    * right-nodes incident to more than `maxHubDeg` left-nodes are
    * dropped BEFORE the wedge join (the stopword-removal move of
    * co-occurrence mining — a hub shared by everyone predicts
    * nothing and costs deg² wedges; same skew-guard role as the
    * prefix filter in [[Dedup]]'s AllPairs). Degrees and Jaccard are
    * computed in the capped universe so the score's numerator and
    * denominator see the same edges.
    *
    * Scale shape: distinct + two hash aggregations + one via-keyed
    * self-join + one pair-keyed aggregation, all shuffles on natural
    * keys; top-k via TakeOrderedAndProject. Output: k rows
    * (a, b, cn, da, db, jaccard_bp) ordered by (cn desc,
    * jaccard_bp desc, a, b).
    */
  def linkPrediction(incidence: DataFrame, maxHubDeg: Long = 40,
      k: Int = 50): DataFrame = {
    val p = incidence.select(col("node"), col("via")).distinct()
    val keptVia = p.groupBy(col("via")).agg(count(lit(1)).as("vd"))
      .filter(col("vd") <= maxHubDeg).select(col("via"))
    // Wedge generation rides the capped per-via ADJACENCY ARRAYS, not
    // a via-keyed self-join: the join shape shuffled + sorted the
    // edge list twice and (with nothing pinned) recomputed the whole
    // incidence pipeline once per consumer — the r18 plan dump shows
    // 32 parquet scans and zero exchange reuse, and at the 100x probe
    // decade the duplicated 600 M-row sorts were most of the measured
    // 1.27x-per-unit overhead. Here the edge list shuffles ONCE onto
    // the via key (the keptVia join's partitioning is reused by the
    // groupBy — no second exchange), each via collects its sorted
    // node array (bounded by maxHubDeg, so per-group state is capped
    // at the same constant that bounds the wedge count), and the
    // i<j pairs explode out of the array map-side. Wedge mass is
    // unchanged: sum_via vd*(vd-1)/2.
    val grouped = pin("linkPrediction adjacency", p.join(keptVia, "via")
      .groupBy(col("via"))
      .agg(sort_array(collect_list(col("node"))).as("ns")), eager = false)
    // degrees in the capped universe, from the same pinned arrays —
    // node = the LEFT entity (a dimension: customers in the
    // registered query), so the frame is dimension-sized and rides a
    // broadcast to meet the pair frame without re-shuffling it.
    // Pinned because it feeds BOTH side-joins below: unpinned, the
    // explode+aggregate over the grouped arrays runs once per
    // broadcast (the r19 plan dump showed the duplicated subtree).
    val deg = pin("linkPrediction degrees", grouped
      .select(explode(col("ns")).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")), eager = false)
    // pair explode as TWO chained generates (posexplode anchors, then
    // a slice explode per anchor) rather than one nested
    // flatten(transform(transform(slice(...)))): the nested form
    // materializes the via's ENTIRE pair set as array-of-array-of-
    // struct before the generator sees it — three allocation layers
    // (slice copy, struct per pair, flatten copy) per wedge. The
    // chained form allocates one slice per anchor and streams pairs
    // out of a codegen'd generate. A/B/C probe (r19, one JVM,
    // interleaved reps, sf0.1 + 10x disjoint-shard fixtures):
    // nested 4.47 s / 18.6 s, chained 3.15 s / 13.6 s — identical
    // 50-row output asserted before timing (OPTIMIZATION_r19.md §1).
    val wedges = grouped
      .select(posexplode(col("ns")).as(Seq("i", "a")), col("ns"))
      .select(col("a"), explode(
        expr("slice(ns, i + 2, size(ns) - i - 1)")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"))
    wedges
      .join(broadcast(deg.select(col("node").as("a"),
        col("deg").as("da"))), "a")
      .join(broadcast(deg.select(col("node").as("b"),
        col("deg").as("db"))), "b")
      .select(col("a"), col("b"), col("cn"), col("da"), col("db"),
        expr("(10000 * cn) div (da + db - cn)").as("jaccard_bp"))
      .orderBy(col("cn").desc, col("jaccard_bp").desc, col("a"),
        col("b"))
      .limit(k)
  }

  /** Deterministic random walks (the node2vec/DeepWalk sampling
    * primitive, Perozzi 2014 — the corpus generator for graph
    * embeddings): from every start node, `steps` hops where hop t out
    * of node v picks neighbor rank `1 + (scramble(sdbm(v, seed=t))
    * mod outdeg(v))` over the dst-sorted adjacency — no RNG, so the
    * walk corpus is rerun-, partitioning- and engine-stable (the
    * DuckDB twin replays the identical recurrence). On a symmetrized
    * graph every reachable node has outdegree ≥ 1, so walks never
    * strand; a genuinely dangling node would simply end its walk
    * early on both engines.
    *
    * Output: (start, step, node) for step 0..steps — the flattened
    * walk corpus.
    *
    * 100 TB shape: per hop, one equi-join of the walk frontier to the
    * degree frame and one to the ranked adjacency (both shuffles on
    * the node key, co-partitioned hop over hop) — never quadratic;
    * the adjacency rank window is per-source, not global.
    */
  /** Skip-gram pair corpus from the walk set — DeepWalk's actual
    * training output: for every walk, all (center, context) node
    * pairs within `window` steps of each other (both directions,
    * self-pairs excluded), counted corpus-wide. This is the frame a
    * graph-embedding trainer consumes; emitting it closes the
    * walk → pairs → embedding pipeline at the data layer.
    *
    * Output: (center, context, n_pairs), counted over all walks.
    *
    * 100 TB shape: the walk frame self-joins on its walk key (start)
    * — a keyed equi-join whose per-key fan-out is bounded by
    * (steps+1)², a constant — then one hash aggregate at pair grain.
    */
  def walkSkipGrams(edges: DataFrame, maxStartId: Long = 20L,
      steps: Int = 3, window: Int = 2): DataFrame =
    skipGramsFromWalks(
      pin("walkSkipGrams walks", randomWalks(edges, maxStartId, steps)),
      window)

  /** [[walkSkipGrams]] over an already-built walk frame — split out
    * so the registry shares ONE memoized walk corpus between the
    * walks query and the pairs query (the walk build costs three
    * adjacency joins; the memo pays it once per suite).
    */
  def skipGramsFromWalks(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1)
    val a = walks.select(col("start"), col("step").as("sa"),
      col("node").as("center"))
    val b = walks.select(col("start"), col("step").as("sb"),
      col("node").as("context"))
    a.join(b, Seq("start"))
      .filter(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  def randomWalks(edges: DataFrame, maxStartId: Long = 20L,
      steps: Int = 3): DataFrame = {
    require(steps >= 1)
    val m = 2147483647L
    val e = pin("randomWalks edges", edges.select(col("src"), col("dst")),
      eager = false)
    val adj = e.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("dst"))))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val starts = e.select(col("src").as("node")).distinct()
      .filter(col("node") < maxStartId)
    var walk = starts.select(col("node").as("start"),
      col("node").as("cur"))
    var out = walk.select(col("start"), lit(0L).as("step"),
      col("cur").as("node"))
    for (t <- 1 to steps) {
      val h = graft.functions.sdbm_hash(lit(t.toLong),
        col("cur").cast("string"))
      val pick = pmod(pmod(h, lit(m)) * lit(48271L), lit(m)) % col("deg")
      walk = walk
        .join(deg, walk("cur") === deg("src")).drop(deg("src"))
        .withColumn("pick", pick)
        .join(adj, walk("cur") === adj("src") &&
          adj("rk") === col("pick") + 1)
        .select(col("start"), col("dst").as("cur"))
      out = out.unionByName(walk.select(col("start"),
        lit(t.toLong).as("step"), col("cur").as("node")))
    }
    out
  }

  /** HITS hubs & authorities (Kleinberg 1999 "Authoritative sources
    * in a hyperlinked environment") — the directed-graph complement
    * of [[pageRank]]: authority(v) = Σ hub over in-edges, hub(u) =
    * Σ authority over out-edges, alternated for `iters` rounds.
    * Engine-exact integer variant: instead of the classic L2
    * normalization (an irrational scale), each update renormalizes by
    * the MAX raw score to `unit` milli-units with truncating
    * division — same principal-eigenvector direction, deterministic
    * on both engines. Hubs init at `unit`; a node with no in-edges
    * never acquires authority (inner joins — both engines drop it),
    * symmetrically for hubs.
    *
    * Output: (node, kind ['hub'|'auth'], score_milli), the final
    * round's scores.
    *
    * 100 TB shape per half-round: ONE edges⋈scores equi-join + a
    * node-keyed hash aggregate (the [[pageRankContrib]] shape), then
    * a 1-row max broadcast for the renormalization — no all-pairs
    * stage, lineage cut per round via localCheckpoint.
    */
  def hits(edges: DataFrame, iters: Int = 2,
      unit: Long = 1000L): DataFrame = {
    require(iters >= 1 && unit > 0)
    val e = pin("hits edges", edges, eager = false)
    def renorm(raw: DataFrame): DataFrame = {
      val mx = raw.agg(max(col("raw")).as("mx"))
      // unit·raw overflows int64 once a node's summed in-score passes
      // ~9.2e15 (in-degree ~9e12 at unit 10³ — a 100 TB hub is
      // allowed to be that big), so the limb rides DECIMAL(38,0)
      raw.crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"CAST(($unit * CAST(raw AS DECIMAL(38,0))) div mx" +
            " AS BIGINT)").as("s"))
    }
    var hub = pin("hits init", e.select(col("src").as("node")).distinct()
      .withColumn("s", lit(unit)))
    var auth = hub.limit(0)
    for (i <- 1 to iters) {
      val araw = e
        .join(hub.select(col("node").as("src"), col("s")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("s")).as("raw"))
      auth = pin(s"hits round $i authorities", renorm(araw))
      val hraw = e
        .join(auth.select(col("node").as("dst"), col("s")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("s")).as("raw"))
      hub = pin(s"hits round $i hubs", renorm(hraw))
    }
    hub.select(col("node"), lit("hub").as("kind"),
        col("s").as("score_milli"))
      .unionByName(auth.select(col("node"), lit("auth").as("kind"),
        col("s").as("score_milli")))
  }
}
