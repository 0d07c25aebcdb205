package graft.operators

import graft.Scratch.pin
import graft.functions.{dot_long, idiv, sign_lsh}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — the
  * extended north-star surface (SURVEY.md §2b).
  *
  * Determinism design: embeddings are quantized to int64
  * (`round(x*10000)`) before any arithmetic. Dot products and norms
  * are then EXACT integer sums, and the final cosine is one
  * correctly-rounded double expression — bit-identical on any engine
  * (this is what makes the DuckDB oracle hash-match on FP data).
  *
  * Scale posture: brute-force variants are O(Q·N) / O(N²) and exist as
  * ground truth + small-N paths; the LSH variant is the 100 TB path —
  * sign-random-projection buckets make candidate generation linear,
  * with per-bucket top-k.
  */
object Similarity {

  /** Integer-quantized copy of an embedding column. */
  def quantize(c: Column): Column =
    transform(c, x => round(x.cast("double") * 10000).cast("long"))

  /** Exact int dot product of two quantized vectors — a codegen'd
    * tight loop (DotLongExpr), NOT zip_with/aggregate: higher-order
    * functions are interpreted per element, which multiplies into
    * minutes inside an O(N²) pair join.
    */
  def qdot(a: Column, b: Column): Column = dot_long(a, b)

  /** Deterministic cosine from quantized vectors + precomputed square
    * norms: dot / sqrt(na*nb), all in exactly-rounded double ops.
    *
    * PRECONDITION: both norms non-zero. ANSI double division throws on
    * a 0.0 divisor in Spark 4, so callers whose inputs can contain
    * degenerate (zero) vectors pre-filter on `norm > 0` — a zero-norm
    * vector has no defined cosine and can never match a threshold
    * anyway. Kept as a bare division on purpose: wrapping the divisor
    * in nullif/CASE pushed the 16-wide centroid-cosine arrays out of
    * whole-stage codegen and cost 5× on the IVF path (measured).
    */
  def qcosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  private def withQuantized(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
      .withColumn("norm", qdot(col("qv"), col("qv")))

  /** Embedding-space benchmark decontamination — the semantic twin of
    * [[Decontaminate.clean]]'s gram-overlap check: drop every corpus
    * vector whose cosine against ANY eval vector reaches `minCosine`
    * (paraphrased benchmark leakage that exact n-gram overlap misses).
    *
    * EXACT cell-pruned scan, not an all-pairs cross: the eval set is
    * k-means-partitioned ([[trainCentroids]] on the eval side — tiny
    * by nature) and each cell carries its angular radius
    * r_j = max_e θ(e, μ_j). For corpus doc c the spherical triangle
    * inequality gives θ(c,e) ≥ θ(c,μ_j) − r_j for every e in cell j,
    * so a cell with θ(c,μ_j) > θ_t + r_j provably contains NO eval
    * vector at cosine ≥ minCosine — pruning is a THEOREM, never a
    * recall probability (sign-LSH prefiltering was considered and
    * rejected: at low thresholds its collision curve cannot separate
    * θ_t from background, so identical output is not guaranteeable).
    * Survivor cells resolve through a broadcast HASH equi-join on the
    * cell id (no nested loop) with the exact integer-quantized cosine
    * as the verify, so the result is bit-identical to the full O(N·E)
    * scan and the DuckDB oracle checks it end to end.
    *
    * Cost: nCells·dim column math per corpus doc (the same IVF
    * assignment shape as [[ivfTopK]]) plus dim work per SURVIVING
    * (doc, eval-in-candidate-cell) pair — on a clustered eval suite
    * (the real-world case) most of the N·E dots vanish; on an
    * adversarially uniform eval set it degrades gracefully to the
    * exact scan it replaced, never below it by more than the
    * assignment pass. The angle pruning margin (1e-7 rad — sized to
    * dominate acos's ~2e-8 rad error near the pole, see the inline
    * note) absorbs FP rounding so the bound stays conservative; the
    * OUTPUT filter is exact quantized cosine either way.
    */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      minCosine: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", nCells: Int = 16,
      trainIters: Int = 2): DataFrame = {
    val c = withQuantized(corpus, idCol, vecCol)
    // a zero-norm eval vector has undefined cosine against everything —
    // it can never flag a doc — so drop it before it can seed a
    // centroid or distort a cell radius
    // the eval side is read by the trainer (iters+1 passes), the radius
    // aggregation and the verify join: materialize it once as a single
    // partition so each of those is a one-task job — at eval sizes
    // (10²-10⁵ rows) the scan+quantize cost is trivial but the
    // 32-task-per-pass scheduling overhead is not
    val e = pin("semanticDecontaminate eval side",
      withQuantized(evalSet, idCol, vecCol).filter(col("norm") > 0)
        .coalesce(1))
    // a Lloyd-updated centroid can in principle cancel to the zero
    // vector, whose angles are undefined — that would void the pruning
    // theorem for its whole cell. Fall back to the raw lowest-id init
    // (actual eval vectors, all non-zero after the norm filter).
    val cents0 = trainCentroids(e, nCells, trainIters)
    val cents = if (cents0.exists(_._2 == 0L)) trainCentroids(e, nCells, 0)
      else cents0
    if (cents.isEmpty) return corpus // empty eval set: nothing to flag
    // safe acos input: exact integer Cauchy-Schwarz guarantees |cos|<=1,
    // but the double rounding of the division may land 1ulp outside
    val ang = (x: Column) => acos(least(lit(1d), greatest(lit(-1d), x)))
    val eAssigned = withCells(e, cents)
      .withColumn("cellCos", element_at(col("cellArr"), col("cell") + 1))
      .drop("cellArr")
    // per-cell angular radius; NULL cosines (degenerate centroid) are
    // skipped by max so they cannot poison a cell's radius and wrongly
    // prune real members — their rows still verify via the equi-join
    val radii = Array.fill(cents.length)(0d)
    eAssigned.groupBy(col("cell"))
      .agg(max(ang(col("cellCos"))).as("r")).collect()
      .foreach(r => if (!r.isNullAt(1)) radii(r.getInt(0)) = r.getDouble(1))
    val thetaT = math.acos(math.min(1d, math.max(-1d, minCosine)))
    // candidate cells per corpus doc: posexplode the centroid-cosine
    // array ONCE per row (lambda-HOF formulations re-inline the whole
    // array per element — O(nCells²) dots, measured) and prune each
    // (doc, cell) row with a scalar bound check; a NULL cosine
    // (degenerate cell) fails the check and is dropped.
    // Zero-norm corpus docs have no defined cosine against anything:
    // they can never be flagged, so they skip candidacy entirely (and
    // keep qcosine's non-zero-divisor precondition); left_anti on the
    // ORIGINAL corpus still passes them through to the output
    val radiiLit = typedlit(radii.toSeq)
    val candCells = c.filter(col("norm") > 0)
      .withColumn("cellArr", cellCosArr(cents))
      .select(col("id"), col("qv"), col("norm"),
        posexplode(col("cellArr")).as(Seq("cell", "cellCos")))
      // 1e-7 rad margin: acos error near the pole reaches ~2e-8 rad
      // when a clamped cosine sits within an ulp of 1 (d(acos)/dx → ∞
      // at x=1), so the margin must dominate THAT, not just generic
      // 1-ulp arithmetic noise — conservative-only, never admits a
      // wrong pair (the exact cosine verify follows)
      .filter(ang(col("cellCos")) <=
        lit(thetaT) + element_at(radiiLit, col("cell") + 1) + lit(1e-7))
      .select(col("id"), col("qv"), col("norm"), col("cell"))
    val flagged = candCells.as("c")
      .join(broadcast(eAssigned).as("e"), col("c.cell") === col("e.cell"))
      .filter(qcosine(qdot(col("c.qv"), col("e.qv")),
        col("c.norm"), col("e.norm")) >= minCosine)
      .select(col("c.id").as("__bad")).distinct()
    corpus.join(flagged, corpus(idCol) === col("__bad"), "left_anti")
  }

  /** All pairs with cosine >= minCosine (embedding near-dup dedup).
    * Brute force O(N²) — ground truth; use [[annTopK]]'s bucketing at
    * scale. Output: (id_a, id_b, cosine).
    *
    * The pairs are compared on an 8 x 8 grid: each vector hashes to a
    * block, its left copy joins the cells of its grid row and its right
    * copy those of its grid column, so every pair meets in exactly one
    * cell of an equi-join. The planner picks that join by size, and the
    * corpus is never the build side of a nested-loop join (the
    * [[graft.PlanAudit]] census flags one).
    */
  def cosinePairs(emb: DataFrame, minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val blocks = 8
    val q = withQuantized(emb, idCol, vecCol)
      .withColumn("blk", pmod(hash(col("id")), lit(blocks)))
    val grid = sequence(lit(0), lit(blocks - 1))
    val rows = q.withColumn("cell",
      explode(transform(grid, j => col("blk") * blocks + j)))
    val cols = q.withColumn("cell",
      explode(transform(grid, i => i * blocks + col("blk"))))
    rows.as("a").join(cols.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        qcosine(qdot(col("a.qv"), col("b.qv")), col("a.norm"), col("b.norm"))
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Exact top-k neighbors for each query vector (brute force over the
    * candidate set). Output: (query_id, rank, neighbor_id, cosine).
    * Rank ties (exactly equal cosine) break by neighbor id.
    */
  def topK(queries: DataFrame, candidates: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withQuantized(queries, idCol, vecCol)
    val c = withQuantized(candidates, idCol, vecCol)
    val scored = broadcast(q).as("q").join(c.as("c"), col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("neighbor_id"),
        qcosine(qdot(col("q.qv"), col("c.qv")), col("q.norm"), col("c.norm"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Sign-random-projection bucket id (nPlanes bits) for an embedding.
    * At scale this is the shuffle key: vectors only meet candidates in
    * their own bucket, making ANN candidate generation linear.
    * Codegen'd (SignLshExpr; deterministic murmur-derived planes from
    * VectorOps.planeComponent). `table` selects an independent plane
    * set for multi-table banding.
    */
  def lshBucket(vecCol: Column, nPlanes: Int, table: Int = 0): Column =
    sign_lsh(vecCol, nPlanes, table * nPlanes)

  /** Deterministic distributed Lloyd iterations for the IVF coarse
    * quantizer: init = the nCells lowest-id vectors; assignment =
    * argmax cosine over broadcast centroid literals (first-index
    * tie-break); update = per-cell elementwise integer mean of the
    * quantized vectors. All arithmetic is exact integer (sums) or
    * truncating long division, so centroids are bit-identical on any
    * cluster topology. Shuffle per iteration is tiny: the
    * posexplode(qv) rows partial-aggregate map-side to at most
    * partitions × nCells × dim groups; only nCells × dim sums reach
    * the driver. Empty cells keep their previous centroid.
    */
  private def trainCentroids(q: DataFrame, nCells: Int,
      iters: Int): Array[(Seq[Long], Long)] = {
    var cents: Array[Seq[Long]] = q.orderBy(col("id")).limit(nCells)
      .select(col("qv")).collect().map(_.getSeq[Long](0))
    if (cents.isEmpty) return Array.empty // empty corpus: nothing to train
    for (_ <- 0 until iters) {
      val withNorm = cents.map(cv => (cv, cv.map(x => x * x).sum))
      val sums = withCells(q, withNorm)
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, c) =>
        byCell.get(c).fold(old) { rows =>
          val arr = old.toArray.clone()
          rows.foreach(r => arr(r.getInt(1)) = r.getLong(2) / r.getLong(3))
          arr.toSeq
        }
      }
    }
    cents.map(cv => (cv, cv.map(x => x * x).sum))
  }

  /** IVF-style ANN: a coarse quantizer of `nCells` centroids assigns
    * every vector to its nearest cell; queries probe the `nProbe`
    * nearest cells only. Centroids are k-means-trained in
    * `trainIters` deterministic distributed Lloyd passes
    * ([[trainCentroids]]; `trainIters = 0` falls back to the raw
    * lowest-id sample); assignment/probing is pure column math over
    * broadcast centroid literals, so the index build is one narrow
    * projection and candidate generation is linear like the LSH path.
    * Output shape matches [[topK]] (rank within probed cells).
    */
  /** Per-centroid cosine array for a quantized frame (shared by the
    * IVF and SemDeDup paths; ties broken by FIRST max, matching the
    * trainer's assignment).
    */
  private def cellCosArr(cents: Array[(Seq[Long], Long)]): Column =
    array(cents.map { case (cv, cn) =>
      // a degenerate (zero) centroid has no defined angle: emit a
      // literal NULL decided at PLAN BUILD time (cn is a Scala value),
      // so the hot path stays a bare codegen'd division and argmax
      // assignment simply never picks the dead cell
      if (cn == 0L) lit(null).cast("double")
      else qcosine(qdot(col("qv"), typedlit(cv)), col("norm"), lit(cn))
    }.toIndexedSeq: _*)

  /** Attach the nearest-centroid `cell` (and keep `cellArr` for
    * callers that probe multiple cells).
    */
  private def withCells(q: DataFrame,
      cents: Array[(Seq[Long], Long)]): DataFrame =
    q.withColumn("cellArr", cellCosArr(cents))
      .withColumn("cell",
        (array_position(col("cellArr"), array_max(col("cellArr"))) - 1)
          .cast("int"))

  def ivfTopK(emb: DataFrame, queryFilter: Column, k: Int,
      nCells: Int = 16, nProbe: Int = 4, trainIters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withQuantized(emb, idCol, vecCol)
    val cents = trainCentroids(q, nCells, trainIters)
    if (cents.isEmpty) {
      // empty corpus → zero centroids; the cosine-array expressions
      // below would not even analyze, so short-circuit with an empty
      // frame of the output schema
      return q.limit(0).select(col("id").as("query_id"),
        lit(0).as("rank"), col("id").as("neighbor_id"),
        lit(0d).as("cosine"))
    }
    val withCell = withCells(q, cents)
    val indexed = withCell.drop("cellArr")
    // top-nProbe cells per query: sort (cos, idx) structs, take the tail
    val zipped = zip_with(col("cellArr"),
      sequence(lit(0), lit(nCells - 1)),
      (c, i) => struct(c.as("cos"), i.as("idx")))
    val probes = withCell
      .filter(queryFilter)
      .withColumn("probe",
        explode(slice(reverse(array_sort(zipped)), 1, nProbe)
          .getField("idx")))
      .select(col("id").as("query_id"), col("qv").as("q_qv"),
        col("norm").as("q_norm"), col("probe"))
    // No broadcast hint: the query set may be corpus-sized (embedding
    // dedup probes every vector). Catalyst auto-broadcasts small probe
    // sets; large ones shuffle on the cell key like any equi-join.
    val scored = probes.as("q")
      .join(indexed.as("c"),
        col("q.probe") === col("c.cell") && col("q.query_id") =!= col("c.id"))
      .select(col("q.query_id"), col("c.id").as("neighbor_id"),
        qcosine(qdot(col("q.q_qv"), col("c.qv")), col("q.q_norm"),
          col("c.norm")).as("cosine"))
    // no dedup needed: each candidate lives in exactly one cell and
    // each query probes distinct cells
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): partition the
    * embedding space with k-means, then compute EXACT cosine pairs
    * only within each cluster — semantic near-dups are by definition
    * close in embedding space, so co-clustering captures them while
    * cutting the pair space from O(N²) to O(Σ|cell|²) ≈ O(N²/C).
    *
    * Composition of the engine's own pieces: the deterministic
    * distributed Lloyd trainer and first-max cell assignment of
    * [[ivfTopK]], the int64-quantized exact cosine of
    * [[cosinePairs]]. The within-cell join is a plain equi-join on
    * the cell id (shuffle, never broadcast, never a nested loop);
    * quadratic work is confined inside each cell — the paper's
    * design point. Cross-cluster near-dups at the boundary are missed
    * by construction (same trade as the paper; raise nCells for
    * speed, lower for recall, or use [[annCosinePairs]] for
    * overlapping-bucket recall).
    *
    * Output: (id_a, id_b, cell, cosine).
    */
  def semanticPairs(emb: DataFrame, minCosine: Double, nCells: Int = 16,
      trainIters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = withQuantized(emb, idCol, vecCol)
    val cents = trainCentroids(q, nCells, trainIters)
    if (cents.isEmpty) {
      return q.limit(0).select(col("id").as("id_a"),
        col("id").as("id_b"), lit(0).as("cell"), lit(0d).as("cosine"))
    }
    val assigned = withCells(q, cents).drop("cellArr")
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.cell").as("cell"),
        qcosine(qdot(col("a.qv"), col("b.qv")), col("a.norm"),
          col("b.norm")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Embedding near-dup pairs at scale: sign-LSH bucketed candidate
    * generation + exact quantized-cosine verify — the linear
    * production path that replaces [[cosinePairs]]' O(N²) ground
    * truth on a real corpus (same compositional shape as
    * [[Dedup.minhashPairs]]: band keys → equi-join → exact verify).
    *
    * Recall/precision contract: every returned pair passes the EXACT
    * integer-quantized cosine test, so the result is always a subset
    * of [[cosinePairs]] with bit-identical cosines (perfect
    * precision); recall is the probability that a true pair collides
    * in at least one table, 1-(1-p^nPlanes)^nTables with
    * p = 1 - θ/π. Near-dup thresholds in practice sit at
    * cosine ≥ 0.9 (θ ≤ 0.45 rad, p ≥ 0.86), where the scale defaults
    * give > 0.97 recall with small buckets; a LOW threshold (≈ 0.45,
    * p ≈ 0.65) needs coarser tables — fewer planes, more of them —
    * and correspondingly larger buckets.
    *
    * Plan shape at 100 TB: only (id, bucket-key) pairs flow through
    * the exploded band join — a flat-long-key shuffle equi-join with
    * NEITHER side broadcast; quantized vectors re-attach by id for
    * the verify, as two narrow column-pruned joins. No
    * BroadcastNestedLoopJoin / CartesianProduct anywhere.
    *
    * Output: (id_a, id_b, cosine) — identical schema and values (for
    * recalled pairs) to [[cosinePairs]].
    */
  def annCosinePairs(emb: DataFrame, minCosine: Double,
      nPlanes: Int = 16, nTables: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nTables >= 1 && nTables <= 64, "nTables must be in [1,64]")
    require(nPlanes + 7 <= 63, "nPlanes must leave room for the table tag")
    val bucketArr = array((0 until nTables).map { t =>
      lit(t.toLong << nPlanes).bitwiseOR(lshBucket(col(vecCol), nPlanes, t))
    }: _*)
    val banded = emb.select(col(idCol).as("id"), explode(bucketArr).as("bk"))
    // id_a < id_b canonicalizes the unordered pair; distinct collapses
    // multi-table collisions before the (wider) verify joins
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = withQuantized(emb, idCol, vecCol)
    candidates
      .join(vecs.select(col("id").as("id_a"), col("qv").as("qv_a"),
        col("norm").as("norm_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("qv").as("qv_b"),
        col("norm").as("norm_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        qcosine(qdot(col("qv_a"), col("qv_b")), col("norm_a"), col("norm_b"))
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Approximate top-k: candidates are vectors that share the query's
    * bucket in ANY of `nTables` independent sign-LSH tables (multi-
    * table banding — same recall structure as MinHash bands: more
    * tables recover neighbors a single table's unlucky plane split
    * loses; more planes per table keep buckets small).
    *
    * Corpus-scale shape (every doc may be a query, e.g. embedding
    * dedup): the bucket join is a plain shuffle equi-join on a flat
    * long key — NEITHER side is broadcast; only (id, bucket) pairs
    * flow through the exploded band join; vectors are re-attached by
    * id afterwards for scoring. Candidate volume is ~N·L·E[bucket
    * size], linear for well-spread buckets — never the N²/buckets
    * cartesian a broadcast-everything single-table design degrades to.
    * Each scoring input is a narrow column-pruned scan rather than a
    * persisted corpus copy (caching N quantized vectors is exactly
    * what does NOT fit at 100 TB).
    *
    * Output shape matches [[topK]] (rank within merged candidates).
    *
    * @param queryFilter predicate selecting the query vectors; it is
    *   applied to the banded frame, whose only columns are `id` (the
    *   renamed idCol) and the bucket key — filter on `col("id")`.
    */
  def annTopK(emb: DataFrame, queryFilter: Column, k: Int,
      nPlanes: Int = 16, nTables: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nTables >= 1 && nTables <= 64, "nTables must be in [1,64]")
    require(nPlanes + 7 <= 63, "nPlanes must leave room for the table tag")
    // flat long band key: table index in the high bits
    val bucketArr = array((0 until nTables).map { t =>
      lit(t.toLong << nPlanes).bitwiseOR(lshBucket(col(vecCol), nPlanes, t))
    }: _*)
    val banded = emb.select(col(idCol).as("id"), explode(bucketArr).as("bk"))
    val candPairs = banded.filter(queryFilter).as("q")
      .join(banded.as("c"),
        col("q.bk") === col("c.bk") && col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("neighbor_id"))
      .distinct()
    val vecs = emb.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
      .withColumn("norm", qdot(col("qv"), col("qv")))
    val scored = candPairs
      .join(vecs.select(col("id").as("query_id"), col("qv").as("q_qv"),
        col("norm").as("q_norm")), "query_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("qv").as("c_qv"),
        col("norm").as("c_norm")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        qcosine(qdot(col("q_qv"), col("c_qv")), col("q_norm"), col("c_norm"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Deterministic L2 Lloyd iterations for ALL m PQ subspaces at
    * once: same exact-integer recipe as [[trainCentroids]] (lowest-id
    * init, first-index tie-break, truncating integer-mean update,
    * empty cells keep their centroid) but with SQUARED-L2 assignment
    * — PQ codebooks quantize distance, not angle. Each iteration is
    * ONE Spark job over the (bounded, checkpointed) training sample:
    * the codegen'd [[graft.functions.PqEncodeExpr]] assigns every
    * subspace's code in a single pass and one posexplode aggregation
    * collects all m × ksub × dsub component sums — not m·iters
    * separate jobs. Returns per-subspace (centroid, Σc²) pairs.
    */
  private def trainPqBooks(sample: DataFrame, m: Int, ksub: Int,
      dsub: Int, iters: Int): IndexedSeq[Array[(Seq[Long], Long)]] = {
    val initRows = sample.orderBy(col("id")).limit(ksub)
      .select(col("qv")).collect().map(_.getSeq[Long](0))
    // subspace s's init = the lowest-id sample vectors' s-th slice
    var books: IndexedSeq[Array[Seq[Long]]] = (0 until m).map { s =>
      initRows.map(_.slice(s * dsub, (s + 1) * dsub)).toArray
    }
    if (initRows.isEmpty) return IndexedSeq.empty
    for (_ <- 0 until iters) {
      val flat = books.flatMap(_.flatMap(identity))
      val codes = graft.functions.pq_encode(col("qv"), flat, m, ksub)
      val sums = sample
        .withColumn("codes", codes)
        .select(col("codes"), posexplode(col("qv")).as(Seq("p", "x")))
        .select(
          (col("p") / dsub).cast("int").as("s"),
          element_at(col("codes"), (col("p") / dsub).cast("int") + 1)
            .as("code"),
          (col("p") % dsub).cast("int").as("j"), col("x"))
        .groupBy(col("s"), col("code"), col("j"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val grouped = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = books.zipWithIndex.map { case (book, s) =>
        book.zipWithIndex.map { case (old, c) =>
          grouped.get((s, c)).fold(old) { rows =>
            val arr = old.toArray.clone()
            rows.foreach(r => arr(r.getInt(2)) = r.getLong(3) / r.getLong(4))
            arr.toSeq
          }
        }
      }
    }
    books.map(_.map(cv => (cv, cv.map(x => x * x).sum)))
  }

  /** IVF-PQ ANN (Jégou, Douze & Schmid, TPAMI 2011 "Product
    * Quantization for Nearest Neighbor Search" — the FAISS `IVFPQ`
    * shape): the [[ivfTopK]] coarse quantizer prunes the corpus to
    * `nProbe` cells, then candidates are ranked by ASYMMETRIC
    * DISTANCE COMPUTATION — each vector is stored as `m` sub-codes
    * (nearest codebook centroid per `dim/m`-wide subspace), the query
    * precomputes an m × ksub table of exact integer squared-L2
    * distances to every centroid, and a candidate's approximate
    * distance is m TABLE LOOKUPS instead of a dim-wide dot product.
    * The top `rerankFactor·k` by ADC distance re-rank with the exact
    * quantized cosine, so emitted cosines are bit-identical to
    * [[topK]]'s for every recalled neighbor.
    *
    * Simplification, documented: codes quantize RAW vectors, not
    * IVF residuals (FAISS's default refinement) — residual encoding
    * tightens recall at equal ksub but needs per-cell code tables;
    * the raw-vector variant keeps the codebook global and the recall
    * floor is driver-gated either way.
    *
    * Why this is the 100 TB shape: memory per vector falls from
    * dim×8 B to m bytes-ish (codes), the candidate join stays the
    * IVF cell equi-join (nothing broadcast, no pair blowup), and the
    * scan cost per candidate is m integer adds. All arithmetic is
    * exact int64; every tie-break is deterministic (first-index
    * argmin, neighbor-id ordering).
    *
    * Output: (query_id, rank, neighbor_id, cosine) — [[topK]] shape.
    */
  def ivfPqTopK(emb: DataFrame, queryFilter: Column, k: Int,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
      trainIters: Int = 2, rerankFactor: Int = 4, trainSample: Int = 2048,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withQuantized(emb, idCol, vecCol)
    // Codebooks (coarse + all m subspaces) train on a BOUNDED
    // deterministic sample — the lowest `trainSample` ids,
    // materialized ONCE. Training is m·iters+iters iterative jobs;
    // without the sample each would rescan and re-quantize the whole
    // corpus (measured 28 s vs ~3 s on the 5k-vector fixture — and
    // unbounded at 100 TB, where sample-trained codebooks are
    // standard FAISS practice). Assignment/encoding below still runs
    // over the FULL corpus with the trained literals.
    val sample = pin("ivfPq training sample",
      q.orderBy(col("id")).limit(trainSample))
    val coarse = trainCentroids(sample, nCells, trainIters)
    if (coarse.isEmpty) {
      return q.limit(0).select(col("id").as("query_id"),
        lit(0).as("rank"), col("id").as("neighbor_id"),
        lit(0d).as("cosine"))
    }
    val dim = sample.select(size(col("qv"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val books = trainPqBooks(sample, m, ksub, dsub, trainIters)
    val flatBooks: Seq[Long] = books.flatMap(_.flatMap(_._1))
    def distArrFor(svCol: Column, svnCol: Column, s: Int): Column =
      array(books(s).map { case (cv, cn) =>
        svnCol - lit(2L) * qdot(svCol, typedlit(cv)) + lit(cn)
      }.toIndexedSeq: _*)
    // encode the corpus: all m codes in ONE codegen'd expression —
    // building m × ksub distance expressions per row instead blew the
    // whole-stage-codegen method budget and fell back to per-centroid
    // interpretation (measured 12.6 s → ~3 s on the 5k-vector fixture)
    val withCell = withCells(q, coarse).drop("cellArr")
    val indexed = withCell.withColumn("codes",
      graft.functions.pq_encode(col("qv"), flatBooks, m, ksub))
      .select(col("id"), col("cell"), col("codes"), col("qv"), col("norm"))
    // queries probe their nProbe best cells (same math as ivfTopK)
    val zipped = zip_with(col("cellArr"),
      sequence(lit(0), lit(coarse.length - 1)),
      (c, i) => struct(c.as("cos"), i.as("idx")))
    val probes0 = withCells(q, coarse)
      .filter(queryFilter)
      .withColumn("probe",
        explode(slice(reverse(array_sort(zipped)), 1, nProbe)
          .getField("idx")))
      .select(col("id").as("query_id"), col("qv").as("q_qv"),
        col("norm").as("q_norm"), col("probe"))
    // ADC lookup table per query row: qtab[s][c] = ‖q_s − c‖² exact
    val probesT = (0 until m).foldLeft(probes0) { (d, s) =>
      d.withColumn(s"q_sv$s", slice(col("q_qv"), s * dsub + 1, dsub))
        .withColumn(s"q_svn$s", qdot(col(s"q_sv$s"), col(s"q_sv$s")))
    }.withColumn("qtab", array((0 until m).map { s =>
        distArrFor(col(s"q_sv$s"), col(s"q_svn$s"), s)
      }: _*))
      .select(col("query_id"), col("q_qv"), col("q_norm"), col("probe"),
        col("qtab"))
    val adist = (0 until m).map { s =>
      element_at(element_at(col("qtab"), s + 1),
        element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    // the ADC ranking shuffles only (query_id, neighbor_id, adist) —
    // vectors re-attach AFTER the top-rerankFactor·k cut through two
    // id-key joins (the annTopK pattern): a candidate row carrying
    // both 64-long vectors through the window shuffle would move ~10×
    // the bytes for rows that mostly get cut
    val cand = probesT.as("q")
      .join(indexed.as("c"),
        col("q.probe") === col("c.cell") && col("q.query_id") =!= col("c.id"))
      .select(col("q.query_id"), col("c.id").as("neighbor_id"),
        adist.as("adist"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val top = cand.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerankFactor * k)
      .select(col("query_id"), col("neighbor_id"))
    val vecs = q.select(col("id"), col("qv"), col("norm"))
    val rerank = top
      .join(vecs.select(col("id").as("query_id"), col("qv").as("q_qv"),
        col("norm").as("q_norm")), "query_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("qv").as("c_qv"),
        col("norm").as("c_norm")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        qcosine(qdot(col("q_qv"), col("c_qv")), col("q_norm"),
          col("c_norm")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    rerank.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"))
  }

  private def withQuantizedLabeled(emb: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame =
    emb.select(col(idCol).as("id"), col(labelCol).as("lbl"),
        quantize(col(vecCol)).as("qv"))
      .withColumn("norm", qdot(col("qv"), col("qv")))

  /** Hard-negative mining for contrastive training: for each anchor
    * vector (selected by `queryFilter` over the raw frame), the top-k
    * most similar vectors with a DIFFERENT label — exactly the
    * negatives a contrastive loss learns most from (Robinson et al.
    * 2021, "Contrastive Learning with Hard Negative Samples").
    * Cosines are the exact int64-quantized kind ([[qcosine]]), ranks
    * total (ties by neighbor id), so the mined set is reproducible
    * across runs and engines — which for TRAINING DATA is a lineage
    * property, not a nicety.
    *
    * Scale shape: identical to [[topK]] — the anchor set is small by
    * construction (it is the training batch / probe set, not the
    * corpus), so it broadcasts against the corpus scan; the label
    * inequality rides the join condition. For corpus-sized anchor
    * sets, generate candidates with [[ivfTopK]] first and apply the
    * label filter to its output — this operator is the exact kernel.
    */
  def hardNegatives(emb: DataFrame, queryFilter: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val v = withQuantizedLabeled(emb, idCol, vecCol, labelCol)
    val q = withQuantizedLabeled(emb.filter(queryFilter), idCol, vecCol,
      labelCol)
    val scored = broadcast(q).as("q")
      .join(v.as("c"), col("q.lbl") =!= col("c.lbl"))
      .select(col("q.id").as("query_id"), col("q.lbl").as("query_label"),
        col("c.id").as("neighbor_id"), col("c.lbl").as("neighbor_label"),
        qcosine(qdot(col("q.qv"), col("c.qv")), col("q.norm"),
          col("c.norm")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("rank"),
        col("neighbor_id"), col("neighbor_label"), col("cosine"))
  }

  /** Hard triplet construction (anchor, hardest positive, hardest
    * negative) — the batch-hard mining rule of Hermans, Beyer & Leibe
    * 2017 ("In Defense of the Triplet Loss"): per anchor, the
    * FARTHEST same-label vector (minimum cosine — the positive the
    * loss must pull hardest) and the NEAREST different-label vector
    * (maximum cosine — the negative it must push hardest).
    * `viol_margin = neg_cosine − pos_cosine` orders anchors by how
    * badly the embedding violates the triplet constraint (> 0 means
    * the hardest negative is currently closer than the hardest
    * positive — the rows a curriculum feeds first). One double
    * subtraction of two deterministic doubles: exact.
    *
    * Both extremes come from ONE scored pass in a single aggregate —
    * `min(struct(cosine, id))` under a same-label guard and
    * `min(struct(−cosine, id))` under the complement — so ties break
    * by id and the whole mine is two codegen'd conditional aggregates,
    * no window, no second join. Anchors broadcast as in
    * [[hardNegatives]]; anchors whose label has no same-label peer
    * (or no different-label peer) drop — a triplet needs both sides.
    */
  def hardTriplets(emb: DataFrame, queryFilter: Column,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val v = withQuantizedLabeled(emb, idCol, vecCol, labelCol)
    val q = withQuantizedLabeled(emb.filter(queryFilter), idCol, vecCol,
      labelCol)
    val scored = broadcast(q).as("q")
      .join(v.as("c"), col("q.id") =!= col("c.id"))
      .select(col("q.id").as("anchor_id"), col("q.lbl").as("anchor_label"),
        (col("q.lbl") === col("c.lbl")).as("same"),
        col("c.id").as("cid"),
        qcosine(qdot(col("q.qv"), col("c.qv")), col("q.norm"),
          col("c.norm")).as("cosine"))
    scored.groupBy(col("anchor_id"), col("anchor_label"))
      .agg(
        min(when(col("same"), struct(col("cosine"), col("cid"))))
          .as("pos"),
        min(when(!col("same"), struct((-col("cosine")).as("neg_cos"),
          col("cid")))).as("neg"))
      .filter(col("pos").isNotNull && col("neg").isNotNull)
      .select(col("anchor_id"), col("anchor_label"),
        col("pos.cid").as("pos_id"), col("pos.cosine").as("pos_cosine"),
        col("neg.cid").as("neg_id"),
        (-col("neg.neg_cos")).as("neg_cosine"))
      .withColumn("viol_margin", col("neg_cosine") - col("pos_cosine"))
  }

  /** Farthest-point (k-center greedy) coreset sampling — Gonzalez
    * 1985's 2-approximation to the k-center cover, the standard
    * diverse-subset selector for curation and codebook seeding: start
    * from the lowest id, then k−1 times add the point FARTHEST from
    * the already-chosen set (exact integer squared L2 over quantized
    * vectors; ties to the smallest id, so the sample is a pure
    * function of the input).
    *
    * Scale shape per round: distances to the chosen set are one
    * crossJoin against the ≤k-row (broadcast) chosen frame + a
    * min-aggregation per point — k·N work TOTAL, never the N² all-
    * pairs table (the oracle, which replays rounds relationally, IS
    * allowed the N² dots table — at oracle scale). The only driver
    * data is one (id, distance) row per round.
    *
    * Output: (rank, vec_id, d2) — d2 the squared distance to the
    * previously-chosen set at selection time (0 for the seed).
    */
  def farthestPointSample(emb: DataFrame, k: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1)
    val q = pin("farthestPointSample vectors",
      withQuantized(emb, idCol, vecCol))
    val seedRow = q.agg(min(col("id"))).head()
    require(!seedRow.isNullAt(0),
      "farthestPointSample needs a non-empty embedding set")
    val seed = seedRow.getLong(0)
    var chosen = Vector((seed, 0L))
    for (r <- 2 to k) {
      val ids = chosen.map(_._1)
      val cdf = q.filter(col("id").isInCollection(ids))
        .select(col("id").as("cid"), col("qv").as("cqv"),
          col("norm").as("cnorm"))
      val mind = q.filter(!col("id").isInCollection(ids))
        .crossJoin(broadcast(cdf)) // ≤k rows
        .select(col("id"),
          (col("norm") + col("cnorm") -
            lit(2L) * qdot(col("qv"), col("cqv"))).as("d2"))
        .groupBy(col("id")).agg(min(col("d2")).as("mind"))
      if (r == 2) graft.Scratch.note("farthestPointSample round 2", mind)
      val far = mind.agg(max(struct(col("mind"), (-col("id")).as("ni"))))
        .head().getStruct(0)
      chosen = chosen :+ (-far.getLong(1), far.getLong(0))
    }
    val spark = emb.sparkSession
    import spark.implicits._
    chosen.zipWithIndex
      .map { case ((id, d2), i) => ((i + 1).toLong, id, d2) }
      .toDF("rank", "vec_id", "d2")
  }

  /** Reciprocal-best-match (mutual nearest neighbor) pairs: a and b
    * link iff each is the other's single nearest neighbor by exact
    * quantized cosine — the high-precision alignment filter of bitext
    * / cross-dedup mining (a one-way top-1 is easily hubbed; mutuality
    * kills hub false positives). Ties break by neighbor id through
    * min(struct), so the result is deterministic.
    *
    * Same scoped ground-truth contract as the exact [[cosinePairs]]
    * family: the scoring pass is the documented O(N²) pair join, run
    * on capped slices; at corpus scale the candidate generator is an
    * ANN twin (LSH/IVF top-1 both directions) and this exact pass
    * re-scores candidates. Output: (id_a, id_b, cosine), id_a < id_b.
    */
  def mutualNearestNeighbors(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = withQuantized(emb, idCol, vecCol)
    val scored = q.as("a").join(q.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nid"),
        qcosine(qdot(col("a.qv"), col("b.qv")), col("a.norm"),
          col("b.norm")).as("cosine"))
    val best = scored.groupBy(col("id"))
      .agg(min(struct((-col("cosine")).as("nc"), col("nid"))).as("w"))
      .select(col("id"), col("w.nid").as("best"),
        (-col("w.nc")).as("cosine"))
    best.as("x").join(best.as("y"),
        col("x.best") === col("y.id") && col("y.best") === col("x.id") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.cosine").as("cosine"))
  }

  /** Leave-one-out 1-NN label accuracy — the embedding-quality eval
    * (a high kNN accuracy says the embedding space separates the
    * labels; the [[hardNegatives]]/[[hardTriplets]] miners assume it):
    * every vector is classified by its single nearest OTHER vector's
    * label at exact quantized cosine, ties to the smallest neighbor
    * id. Same scoped ground-truth contract as
    * [[mutualNearestNeighbors]] (O(N²) scoring pass on capped slices;
    * ANN top-1 is the scale path). Output: 1 row (n, correct, acc_bp).
    */
  def knnLabelAccuracy(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label")
      : DataFrame = {
    val q = emb.select(col(idCol).as("id"), col(labelCol).as("lbl"),
        quantize(col(vecCol)).as("qv"))
      .withColumn("norm", qdot(col("qv"), col("qv")))
    val best = q.as("a").join(q.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("a.lbl").as("lbl"),
        col("b.id").as("nid"), col("b.lbl").as("plbl"),
        qcosine(qdot(col("a.qv"), col("b.qv")), col("a.norm"),
          col("b.norm")).as("cosine"))
      .groupBy(col("id"), col("lbl"))
      .agg(min(struct((-col("cosine")).as("nc"), col("nid"),
        col("plbl"))).as("w"))
    best.agg(count(lit(1)).as("n"),
        sum(when(col("lbl") === col("w.plbl"), 1L).otherwise(0L))
          .as("correct"))
      .withColumn("acc_bp", expr("(10000 * correct) div n"))
  }

  /** Matryoshka prefix-dimension retrieval audit (Kusupati et al.
    * 2022 "Matryoshka Representation Learning") — the question a
    * storage-tiering decision needs answered: if we truncate every
    * embedding to its FIRST HALF of dimensions (half the bytes, half
    * the dot-product work), does 1-NN retrieval still pick the same
    * neighbor? Per vector, the exact-cosine 1-NN under full
    * dimensions and under the prefix half are compared; the audit row
    * is the agreement census. Ties break to the lowest neighbor id
    * (the knnLabelAccuracy min-struct idiom). Zero-norm vectors (full
    * or prefix) are excluded on both sides — a degenerate vector has
    * no defined cosine ([[qcosine]]'s precondition).
    *
    * Output: 1 row — (n_vecs, agree, agree_bp).
    *
    * CAPPED ground-truth slice by design (`vec_id < cap`), like every
    * exact all-pairs twin in this family: the production path for
    * this decision at corpus scale is the same comparison over the
    * bucketed ANN candidates — registered and recall-gated since
    * round 16 as sim_matryoshka_ann_recall ([[annTopK]] on the
    * prefix half, floor 0.90 against the exact prefix 1-NN); the
    * audit's job here is exactness.
    */
  def matryoshkaAgreement(emb: DataFrame, cap: Long = 500L): DataFrame = {
    val q = emb.filter(col("vec_id") < cap)
      .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      .withColumn("hv", expr("slice(qv, 1, size(qv) div 2)"))
      .withColumn("norm", qdot(col("qv"), col("qv")))
      .withColumn("hnorm", qdot(col("hv"), col("hv")))
      .filter(col("norm") > 0 && col("hnorm") > 0)
    val pairs = q.as("a").join(q.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nid"),
        qcosine(qdot(col("a.qv"), col("b.qv")),
          col("a.norm"), col("b.norm")).as("cf"),
        qcosine(qdot(col("a.hv"), col("b.hv")),
          col("a.hnorm"), col("b.hnorm")).as("ch"))
    pairs.groupBy(col("id"))
      .agg(min(struct((-col("cf")).as("nc"), col("nid"))).as("bf"),
        min(struct((-col("ch")).as("nc"), col("nid"))).as("bh"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("bf.nid") === col("bh.nid"), 1L).otherwise(0L))
          .as("agree"))
      // < 2 eligible vectors ⇒ the pair join is empty, the global agg
      // still emits one row with n_vecs = 0, and ANSI div would throw:
      // NULL verdict instead (the bucketUniformity n=0 convention)
      .withColumn("agree_bp", expr(
        "CASE WHEN n_vecs = 0 THEN NULL" +
          " ELSE (10000 * agree) div n_vecs END"))
  }

  /** Upper triangle of the exact integer Gram matrix XᵀX over the
    * quantized embeddings — the d×d sufficient statistic every
    * spectral method (PCA, whitening, ridge) starts from, computed
    * distributed: ONE pass explodes each vector into its d(d+1)/2
    * coordinate pairs and hash-aggregates on the (j,k) cell key.
    * Work is N·d²/2 multiply-adds with map-side combine into at most
    * d² cells — the shuffle is dimension-bounded, never corpus-
    * bounded. Products accumulate in DECIMAL(38,0) (N·q² overflows
    * int64 at corpus scale). 1-based dims to match SQL ordinality.
    * Output: (j, k, gram) for j ≤ k.
    */
  def gramUpper(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val q = emb.select(quantize(col(vecCol)).as("q"))
    q.select(posexplode(col("q")).as(Seq("j0", "x")), col("q"))
      .select((col("j0") + 1).cast("long").as("j"), col("x"),
        posexplode(col("q")).as(Seq("k0", "y")))
      .filter(col("k0") + 1 >= col("j"))
      .groupBy(col("j"), (col("k0") + 1).cast("long").as("k"))
      .agg(sum(col("x").cast("decimal(38,0)") * col("y")).as("g"))
      // string output: exact at any scale, and DECIMAL must never be
      // exposed in a hashed result (driver canonicalization hazard)
      .select(col("j"), col("k"), col("g").cast("string").as("gram"))
  }

  /** Dominant principal direction of the (uncentered) quantized
    * embedding matrix by EXACT INTEGER power iteration — v_{t+1} =
    * normalize(Xᵀ(X·v_t)) with L∞ normalization to `scale` through
    * truncating division, so every iterate is a pure integer function
    * of the input and the oracle replays the identical rounds. The
    * all-ones start vector is deterministic; `rounds` fixed like
    * [[graft.operators.Graph.pageRank]].
    *
    * Scale shape per round: the row-space pass s = X·v is one
    * codegen'd dot product per row against a LITERAL v (no join); the
    * dimension-space pass w = Σ sᵢ·xᵢ is one posexplode +
    * dimension-keyed hash aggregation (d cells, map-side combined).
    * The only driver-side data is the d-vector collected to become
    * the next round's literal — the IVF-centroid precedent. s·q
    * products reach N·d·scale·q² territory, so they accumulate in
    * DECIMAL(38,0); the collected normalization runs in BigInt.
    *
    * Output: (dim, component) — 1-based dims, components integer in
    * [−scale, scale] with max |component| = scale.
    */
  def powerIterationPC(emb: DataFrame, rounds: Int = 3,
      scale: Long = 1048576L, vecCol: String = "embedding"): DataFrame = {
    require(rounds >= 1 && scale >= 2)
    val q = pin("powerIterationPC vectors",
      emb.select(quantize(col(vecCol)).as("q")))
    val dRow = q.select(size(col("q"))).take(1)
    require(dRow.nonEmpty,
      "powerIterationPC needs a non-empty embedding set")
    val d = dRow(0).getInt(0)
    var v = Array.fill(d)(scale)
    for (_ <- 0 until rounds) {
      val vLit = array(v.map(lit(_)): _*)
      val w = q
        .select(col("q"), dot_long(col("q"), vLit).as("s"))
        .select(posexplode(col("q")).as(Seq("j0", "x")), col("s"))
        .groupBy((col("j0") + 1).cast("long").as("j"))
        .agg(sum(col("s").cast("decimal(38,0)") * col("x")).as("w"))
      val rows = w.collect().map(row =>
        (row.getLong(0), BigInt(row.getDecimal(1).toBigInteger)))
      val m = rows.map(_._2.abs).max
      require(m > 0, "degenerate input: X^T X v vanished")
      val next = Array.fill(d)(0L)
      rows.foreach { case (j, wj) =>
        next(j.toInt - 1) = ((wj * scale) / m).toLong
      }
      v = next
    }
    val spark = emb.sparkSession
    import spark.implicits._
    v.zipWithIndex.map { case (c, i) => ((i + 1).toLong, c) }.toSeq
      .toDF("dim", "component")
  }

  /** Per-label centroid drift between two deterministic halves of the
    * embedding set (vec-id parity — the split an ingest-batch
    * comparison would use): the cosine between each label's half-A
    * and half-B centroids, the embedding-space stability monitor
    * (re-embedding, encoder upgrade, distribution shift). Exactness:
    * cosine is scale-invariant, so the MEANS never need computing —
    * the per-dimension integer SUMS of quantized vectors stand in for
    * the centroids, every product rides DECIMAL(38,0), and the only
    * float op is the final dot/√(na·nb) double (the [[qcosine]]
    * discipline). Shape: one posexplode + (label, dim)-keyed hash
    * aggregation — dimension-bounded, never pairwise; no arrays are
    * ever rebuilt.
    *
    * Output: (label, n_a, n_b, drift_cos) ordered by label.
    */
  def centroidDrift(emb: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = emb.select(pmod(col("vec_id"), lit(2L)).as("half"),
        col("label"), posexplode(quantize(col("embedding"))))
      .withColumnRenamed("pos", "dim").withColumnRenamed("col", "qx")
    val s = q.groupBy(col("label"), col("dim")).agg(
      sum(when(col("half") === 0, col("qx")).otherwise(0L)).as("sa"),
      sum(when(col("half") === 1, col("qx")).otherwise(0L)).as("sb"))
    val c = s.groupBy(col("label")).agg(
      sum(dec(col("sa")) * col("sb")).as("dot"),
      sum(dec(col("sa")) * col("sa")).as("na"),
      sum(dec(col("sb")) * col("sb")).as("nb"))
    val n = emb.groupBy(col("label")).agg(
      sum(when(pmod(col("vec_id"), lit(2L)) === 0, 1L).otherwise(0L))
        .as("n_a"),
      sum(when(pmod(col("vec_id"), lit(2L)) === 1, 1L).otherwise(0L))
        .as("n_b"))
    c.join(n, "label")
      .select(col("label"), col("n_a"), col("n_b"),
        when(col("na") =!= 0 && col("nb") =!= 0,
          col("dot").cast("double") /
            sqrt(col("na").cast("double") * col("nb").cast("double")))
          .as("drift_cos"))
      .orderBy(col("label"))
  }

  /** Int8 symmetric-quantization audit — the compression feasibility
    * check run before shipping an embedding corpus at int8 (the
    * storage format ANN serving actually uses): per vector, quantize
    * each dim to `q8 = ⌊127·(x+m)/m⌋ − 127` against the vector's own
    * max-abs scale m, and report the worst reconstruction error in
    * ppm of full scale plus a position-weighted code checksum that
    * pins every emitted code. The numerator `127·(x+m)` is
    * non-negative by construction, so truncating and flooring
    * division agree and both engines produce identical codes —
    * everything stays integer-exact over the ×10⁴-quantized dims.
    * Zero vectors (m = 0) audit as all-zero codes with zero error.
    *
    * Scale shape: per-row HOF folds only (no explode, no shuffle) —
    * a pure map over the corpus at any size. Output: (vec_id,
    * maxabs, max_err_ppm, code_wsum).
    */
  def quantizeAudit(emb: DataFrame): DataFrame = {
    val q = quantize(col("embedding"))
    emb.select(col("vec_id"), q.as("qv"))
      .withColumn("ma",
        expr("aggregate(qv, 0L, (acc, x) -> greatest(acc, abs(x)))"))
      .withColumn("max_err", expr(
        "CASE WHEN ma = 0 THEN 0L ELSE aggregate(qv, 0L, (acc, x) -> " +
          "greatest(acc, abs(127 * x - " +
          "((127 * (x + ma)) div ma - 127) * ma))) END"))
      .withColumn("code_wsum", expr(
        "CASE WHEN ma = 0 THEN 0L ELSE aggregate(" +
          "zip_with(qv, sequence(1, size(qv)), " +
          "(x, i) -> ((127 * (x + ma)) div ma - 127) * CAST(i AS BIGINT))," +
          " 0L, (acc, v) -> acc + v) END"))
      .select(col("vec_id"), col("ma").as("maxabs"),
        when(col("ma") === 0, 0L)
          .otherwise(expr("1000000 * max_err div (127 * ma)"))
          .as("max_err_ppm"),
        col("code_wsum"))
  }

  /** Embedding health audit per label: exact integer L2-norm-squared
    * statistics over the quantized vectors — the first thing to check
    * when an embedding table degrades (collapsed vectors, scale
    * drift, dead labels). min/max/mean of Σq² per label; the mean is
    * a truncating div of the DECIMAL(38,0) sum (N·d·1e8 overflows
    * int64 at corpus scale), everything else rides int64.
    *
    * Scale shape: one narrow per-row HOF fold (no explode) + one
    * label-cardinality hash aggregate.
    */
  def normAudit(emb: DataFrame): DataFrame = {
    val q = quantize(col("embedding"))
    val norm2 = expr(
      "aggregate(qv, 0L, (acc, x) -> acc + x * x)")
    emb.select(col("label"), q.as("qv"))
      .select(col("label"), norm2.as("norm2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("norm2")).as("min_norm2"),
        max(col("norm2")).as("max_norm2"),
        expr("sum(CAST(norm2 AS DECIMAL(38,0))) div count(1)")
          .cast("long").as("mean_norm2"))
      .orderBy(col("label"))
  }

  /** Deterministic k-means (Lloyd 1982), `iters` assignment rounds
    * over the ×10⁴-quantized embeddings — the clustering pass a
    * corpus-curation pipeline runs for topic balancing / cluster-
    * aware sampling. Everything is engine-exact: init centroids are
    * the vectors of the k smallest vec_ids ACTUALLY PRESENT (a
    * k-row ordered-limit, not a `vec_id < k` filter — ids need not
    * be 0-based or contiguous; each seed's cluster label is its
    * vec_id), assignment is
    * argmin of the exact integer squared L2 distance with ties to the
    * lowest cluster id, and centroid updates are per-dimension
    * TRUNCATING division of the coordinate sums — Spark's `div` and
    * DuckDB's `//` both round toward zero (verified on negative
    * operands), so the spelling is shared verbatim. A cluster that
    * loses every member simply drops out of the next round on both
    * engines.
    *
    * Output: the post-iteration census — (cluster, n_vecs, inertia),
    * inertia = Σ of each member's squared distance to its centroid.
    *
    * 100 TB shape: per round, one explode to (vec, dim) grain, one
    * hash join against the (k·d)-row centroid frame, and two bounded
    * aggregates — cost is k scans of the corpus per round with no
    * quadratic stage; k and d bound every auxiliary frame, and the
    * distance sums ride longs (≤ 4·10⁸ per dim, d·4·10⁸ per vector —
    * int64-safe to d ≈ 2·10¹⁰).
    */
  def kmeans(emb: DataFrame, k: Int = 4, iters: Int = 2): DataFrame = {
    require(k > 0 && iters > 0)
    val e = emb
      .select(col("vec_id"), posexplode(quantize(col("embedding"))))
      .select(col("vec_id"), (col("pos") + 1).as("i"), col("col").as("x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d2"), col("cl"))
    def assign(cent: DataFrame): DataFrame =
      e.join(cent, Seq("i"))
        .groupBy(col("vec_id"), col("cl"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cl"), col("d2"))
    // seeds = the k smallest vec_ids present (k-row broadcast), NOT
    // `vec_id < k`: on a frame whose ids aren't 0-based contiguous
    // that filter can be empty and the census silently degenerates
    val seeds = e.select(col("vec_id")).distinct()
      .orderBy(col("vec_id")).limit(k)
    val init = e.join(broadcast(seeds), Seq("vec_id"))
      .select(col("vec_id").as("cl"), col("i"), col("x").as("c"))
    val last = (1 until iters).foldLeft(assign(init)) { (a, _) =>
      val cent = e.join(a.select(col("vec_id"), col("cl")), Seq("vec_id"))
        .groupBy(col("cl"), col("i"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("m"))
        .select(col("cl"), col("i"), expr("s div m").as("c"))
      assign(cent)
    }
    last.groupBy(col("cl").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("inertia"))
  }

  /** Int8 affine-quantization audit over the embedding column — the
    * storage-compression readout a 100 TB vector lake needs before
    * committing to 4× smaller shards: per vector, quantize the
    * 10⁴-fixed-point copy with the per-vector (min, range) affine map
    *   code = ((v − mn)·255) div rng − 128 ∈ [−128, 127],
    * dequantize, and report the EXACT reconstruction error against
    * the theoretical ceiling ceil(rng/255) = (rng + 254) div 255 —
    * `err_bounded` pins the proof into the oracle hash. mean_err_bp
    * is relative to the vector's own range (10⁴ = the full range).
    *
    * All-integer per-element arithmetic ((v−mn)·255 ≤ ~5e6 for unit-
    * scale embeddings — int64 headroom ~10¹²), so Spark and DuckDB
    * agree bit-for-bit. Per-vector HOFs are interpreted, not
    * codegen'd, but the op is a pure narrow projection — one pass,
    * no shuffle, embarrassingly parallel at any scale; the d-element
    * loop per row is the same work a codec kernel would do.
    */
  def quantizeInt8Audit(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = emb.select(col(idCol).as("vec_id"),
      quantize(col(vecCol)).as("qv"))
      // zero-dim vectors are dropped like zero-token docs: an empty
      // list has NULL min/max and engine-DIVERGENT empty-sum
      // semantics (Spark aggregate init 0 vs DuckDB NULL), so no
      // well-defined audit row exists for it (r16 self-review)
      .filter(size(col("qv")) > 0)
    q.select(col("vec_id"), col("qv"),
        array_min(col("qv")).as("mn"), array_max(col("qv")).as("mx"),
        size(col("qv")).cast("long").as("d"))
      .withColumn("rng", greatest(col("mx") - col("mn"), lit(1L)))
      .withColumn("errs", transform(col("qv"), v => {
        val code = idiv((v - col("mn")) * 255L, col("rng")) - 128L
        val dq = col("mn") + idiv((code + 128L) * col("rng"), lit(255L))
        abs(v - dq)
      }))
      .select(col("vec_id"), col("mn"), col("mx"), col("d"),
        col("rng"),
        array_max(col("errs")).as("max_err"),
        aggregate(col("errs"), lit(0L), (a, e) => a + e).as("sum_err"))
      .select(col("vec_id"), col("mn"), col("mx"), col("d"),
        col("max_err"),
        idiv(lit(10000L) * col("sum_err"), col("d") * col("rng"))
          .as("mean_err_bp"),
        (col("max_err") <= idiv(col("rng") + 254L, lit(255L)))
          .as("err_bounded"))
      .orderBy(col("vec_id"))
  }
}
