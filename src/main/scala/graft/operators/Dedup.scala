package graft.operators

import graft.Scratch.pin
import graft.Tables
import graft.functions.{minhash_shingled, shared_count, shingle_hashes, simhash64}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for the extended (north-star) surface —
  * absent from the reference (SURVEY.md §2b), designed Spark-first for
  * 100 TB corpora:
  *
  *   - exact:     content hash → one groupBy (map-side combinable);
  *   - MinHash:   per-doc signature in one narrow projection
  *                ([[graft.functions.Sketches]]), then only small band
  *                keys shuffle; candidate pairs verified with exact
  *                Jaccard. No O(N²) stage anywhere.
  *   - SimHash:   64-bit fingerprint + 16-bit band buckets, Hamming
  *                verify via xor/bit_count;
  *   - n-gram Jaccard: exact character-shingle Jaccard via shingle
  *                join — the small-scale ground truth the sketch ops
  *                are tested against (quadratic in the worst case;
  *                scope the input or use MinHash at scale).
  */
object Dedup {

  /** Whitespace word tokens, lowercased; empty text → empty array. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= "")

  /** Sliding word n-gram shingles from a token array (the MinHash
    * input domain — single tokens are too coarse for near-dup
    * detection on small vocabularies).
    */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))

  /** Distinct character n-grams of a string column, first-occurrence
    * order — a codegen'd kernel ([[graft.functions.CharNgramsExpr]]):
    * the `transform(sequence…substr)` + `array_distinct` formulation
    * is a higher-order function Spark interprets per element, which
    * dominates the decontamination / repetition scans at corpus scale
    * (parity with the HOF form is property-tested, unicode included).
    */
  def charNgrams(c: Column, n: Int): Column =
    graft.functions.char_ngrams(c, n)

  /** Exact dedup: group identical texts, keep the smallest id.
    * Output: (keep_id, dup_count, text).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"), col(textCol))

  /** Paragraph-level corpus dedup, CCNet-style (Wenzek 2020: hash
    * every paragraph, drop all but the FIRST occurrence corpus-wide —
    * the pass that removes boilerplate headers/footers shared across
    * pages without touching the rest of the doc). The fixture corpus
    * is single-line space-separated text with no paragraph breaks, so
    * "paragraph" here is its documented stand-in: consecutive
    * NON-overlapping `blockTokens`-token blocks (distinct from
    * [[duplicatedSpans]]'s overlapping character grams — blocks
    * partition the doc, spans tile it). First occurrence = smallest
    * (doc_id, block_idx) over the exact block text; keeping the text
    * itself as the group key makes the op hash-free and oracle-exact
    * (CCNet's SHA1 is a memory optimization, not semantics).
    *
    * Output: one row per doc — (doc_id, n_blocks, n_dup_blocks,
    * keep_ppm) where keep_ppm = 10⁶·(n_blocks − n_dup_blocks) div
    * n_blocks (docs with no tokens report 0 blocks, 10⁶ keep).
    *
    * 100 TB shape: exactly the [[exact]]-dedup discipline one grain
    * down — explode to blocks (output ≈ corpus size in tokens), one
    * shuffle keyed on block text for the min-occurrence aggregate,
    * one broadcast-or-shuffle join back, one doc-grain rollup. No
    * windows over the corpus, no quadratic stage; at scale the block
    * text key would swap for its 128-bit hash (same plan shape).
    */
  def paragraphDedup(docs: DataFrame, blockTokens: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(blockTokens > 0)
    val nBlocks = expr(
      s"(size(tk) + ${blockTokens - 1}) div $blockTokens")
    val blockIdx = when(nBlocks === 0, array().cast("array<bigint>"))
      .otherwise(sequence(lit(0L), nBlocks - 1))
    val blocks = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .select(col("id"), col("tk"), explode(blockIdx).as("bi"))
      .select(col("id"), col("bi"),
        array_join(slice(col("tk"),
          (col("bi") * blockTokens + 1).cast("int"), lit(blockTokens)),
          " ").as("block"))
    // first corpus-wide occurrence per block text: min (doc_id, idx)
    val first = blocks.groupBy(col("block"))
      .agg(min(struct(col("id"), col("bi"))).as("f"))
      .select(col("block"), col("f.id").as("fid"), col("f.bi").as("fbi"))
    val flagged = blocks.join(first, Seq("block"))
      .select(col("id"),
        when(col("id") === col("fid") && col("bi") === col("fbi"), 0L)
          .otherwise(1L).as("is_dup"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("is_dup")).as("n_dup"))
    docs.select(col(idCol).as("id"))
      .join(flagged, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_blocks"),
        when(coalesce(col("n_blocks"), lit(0L)) === 0, lit(1000000L))
          .otherwise(expr(
            "(1000000 * (n_blocks - n_dup)) div n_blocks"))
          .as("keep_ppm"))
  }

  /** The banded-LSH design curve — the S-curve that justifies this
    * module's MinHash parameters (k = 16 as b = 4 bands × r = 4
    * rows): a pair with Jaccard similarity s becomes a candidate with
    * probability 1 − (1 − sʳ)ᵇ. Emitted as an exact integer table in
    * ppm (powers via truncating ppm-multiplication, replayed
    * identically by the SQL twin) so the threshold behavior — which
    * similarities the band join catches and which it skips — is
    * pinned in data, not prose. No input table: the curve is pure
    * configuration.
    *
    * Output: (s_ppm, p_band_ppm, p_candidate_ppm) for
    * s = 0.1 … 0.9.
    */
  def lshDesignCurve(spark: org.apache.spark.sql.SparkSession,
      rRows: Int = 4, bands: Int = 4): DataFrame = {
    require(rRows >= 1 && bands >= 1)
    import graft.functions.idiv
    def powPpm(base: Column, n: Int): Column =
      (2 to n).foldLeft(base)((acc, _) =>
        idiv(acc * base, lit(1000000L)))
    val s = spark.range(1, 10)
      .select((col("id") * 100000L).as("s_ppm"))
    val sR = powPpm(col("s_ppm"), rRows)
    s.withColumn("p_band_ppm", sR)
      .withColumn("p_candidate_ppm",
        lit(1000000L) - powPpm(lit(1000000L) - col("p_band_ppm"), bands))
      .select(col("s_ppm"), col("p_band_ppm"), col("p_candidate_ppm"))
  }

  /** Soft dedup by cluster reweighting — the keep-everything
    * alternative to dropping near-duplicates (down-weight instead of
    * delete, so no information is destroyed but duplicated content
    * stops dominating the loss): every doc in a near-dup cluster of
    * size k trains at weight 1/k (ppm, truncating — identical in the
    * SQL twin); docs in no pair are singletons at full weight. The
    * cluster map is [[clusters]]' bounded label propagation over the
    * candidate pair graph, so the whole op inherits the banded
    * near-dup pipeline's scale shape plus one size aggregate and one
    * join.
    *
    * Output: (idCol, cluster_id, cluster_size, weight_ppm).
    */
  def softDedupWeights(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val cl = clusters(pairs).select(col("doc_id").as(idCol),
      col("cluster_id"))
    val sized = cl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    docs.select(col(idCol)).join(cl, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .join(broadcast(sized), Seq("cluster_id"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_ppm"))
  }

  /** The transform half of [[paragraphDedup]]: rebuild every affected
    * document with its duplicate blocks cut out (first corpus-wide
    * occurrence survives in place; later copies vanish, CCNet's
    * actual edit). Only docs that LOST at least one block are
    * emitted — at corpus scale the unaffected majority passes through
    * untouched upstream, and emitting only the edits keeps the output
    * delta-sized. Output: (doc_id, clean_text, n_removed).
    *
    * Same plan as the audit — block explode, min-occurrence
    * aggregate, join back — plus one doc-grain sort-free rebuild:
    * kept blocks collect per doc and re-join in block order via
    * array_sort over (idx, text) structs, so no window over the
    * corpus is needed.
    */
  def paragraphScrub(docs: DataFrame, blockTokens: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(blockTokens > 0)
    val nBlocks = expr(
      s"(size(tk) + ${blockTokens - 1}) div $blockTokens")
    val blockIdx = when(nBlocks === 0, array().cast("array<bigint>"))
      .otherwise(sequence(lit(0L), nBlocks - 1))
    val blocks = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .select(col("id"), col("tk"), explode(blockIdx).as("bi"))
      .select(col("id"), col("bi"),
        array_join(slice(col("tk"),
          (col("bi") * blockTokens + 1).cast("int"), lit(blockTokens)),
          " ").as("block"))
    val first = blocks.groupBy(col("block"))
      .agg(min(struct(col("id"), col("bi"))).as("f"))
      .select(col("block"), col("f.id").as("fid"), col("f.bi").as("fbi"))
    val marked = blocks.join(first, Seq("block"))
      .select(col("id"), col("bi"), col("block"),
        (col("id") === col("fid") && col("bi") === col("fbi"))
          .as("keep"))
    marked.groupBy(col("id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("bi"), col("block"))))),
          s => s.getField("block")), " ").as("clean_text"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"))
      .filter(col("n_removed") > 0)
      .select(col("id").as(idCol), col("clean_text"), col("n_removed"))
  }

  /** Keep-latest snapshot dedup — the recrawl shape: of every row
    * sharing a key (canonical URL, entity id), keep only the one with
    * the highest `orderCol` (crawl time, version), ties broken by the
    * highest `tieBreakCol` for a total order. One shuffle on the key;
    * the rank-1 filter compiles to WindowGroupLimit, so each map task
    * forwards one candidate per key before the exchange — at 100 TB
    * the shuffle carries ~|keys| rows, not every recrawl.
    */
  def keepLatest(df: DataFrame, keyCol: String, orderCol: String,
      tieBreakCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col(orderCol).desc, col(tieBreakCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Incremental exact dedup — the nightly-ingest shape: keep only
    * batch documents whose content fingerprint is unseen in the
    * existing corpus AND first (smallest id) within the batch.
    *
    * 100 TB posture: the corpus side collapses to its 8-byte
    * fingerprint column before the join (the corpus text never
    * moves); the left_anti and the first-wins groupBy both shuffle on
    * the fingerprint only. Output: (doc_id, fp) of the survivors.
    *
    * Null-text rows are dropped from BOTH sides before fingerprinting:
    * a document with no content has no novelty to judge, and keeping
    * it would silently collide with empty-text docs (sdbm maps null
    * and "" both to 0) while the SQL-oracle twin's `NOT IN` collapses
    * to zero rows on any NULL fingerprint. The oracle mirrors the
    * filter.
    */
  def incremental(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val bf = TextStats.fingerprint(batch.filter(col("text").isNotNull))
    val seen = TextStats.fingerprint(corpus.filter(col("text").isNotNull))
      .select(col("fp"))
    bf.join(seen, Seq("fp"), "left_anti")
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
  }

  /** Incremental NEAR-dup dedup — [[incremental]]'s MinHash twin for
    * the same nightly-ingest shape: keep only batch documents that are
    * near-duplicates of NEITHER the existing corpus NOR an
    * earlier-id batch document.
    *
    * CONTRACT: batch ids must be strictly greater than every corpus id
    * (the natural monotone-ingest property). [[minhashPairs]] emits
    * pairs as (id_a < id_b), so under that contract every near-dup
    * pair involving a batch doc names it as `id_b` with its
    * first-seen twin as `id_a` — one left_anti against the id_b set
    * implements first-wins against corpus and batch at once.
    *
    * 100 TB posture: the corpus streams through the band join exactly
    * once against the (small) batch band set — corpus-internal pairs
    * are pruned BEFORE candidate generation (minhashPairsCore's
    * `bMinId`), so nightly cost scales with batch collisions, not
    * corpus size squared. The left_anti shuffles on the 8-byte id.
    * Null-text batch docs are dropped as in [[incremental]]. The one
    * driver-side action is a min() over the batch ids (bounded).
    */
  def incrementalNear(batch: DataFrame, corpus: DataFrame,
      k: Int = 16, bands: Int = 4, minJaccard: Double = 0.7,
      idCol: String = "doc_id", textCol: String = "text",
      validateContract: Boolean = true): DataFrame = {
    val b = batch.filter(col(textCol).isNotNull)
    val minBatchId = b.agg(min(col(idCol))).collect()(0)
    if (minBatchId.isNullAt(0)) return b.select(col(idCol), col(textCol))
    // a violated id contract SILENTLY mislabels survivors (a corpus doc
    // can be treated as a batch loser and vice versa) — fail loud
    // instead. The check is one column-pruned max() over a corpus the
    // band join scans in full anyway; pass validateContract = false
    // only where the monotone-ingest property is enforced upstream.
    if (validateContract) {
      val maxCorpusId = corpus.agg(max(col(idCol))).collect()(0)
      require(maxCorpusId.isNullAt(0) ||
        maxCorpusId.getLong(0) < minBatchId.getLong(0),
        s"incrementalNear: corpus max $idCol (${maxCorpusId.get(0)}) >= " +
          s"batch min $idCol (${minBatchId.getLong(0)}) — batch ids must " +
          "all exceed corpus ids (monotone ingest)")
    }
    val all = corpus.select(col(idCol), col(textCol))
      .filter(col(textCol).isNotNull)
      .unionByName(b.select(col(idCol), col(textCol)))
    val losers = minhashPairsCore(all, k, bands, minJaccard, idCol,
      textCol, shingleWords = 3, bMinId = Some(minBatchId.getLong(0)))
      .select(col("id_b").as("__loser"))
    b.join(losers, col(idCol) === col("__loser"), "left_anti")
      .select(col(idCol), col(textCol))
  }

  /** MinHash-LSH near-dup pairs, Jaccard-verified, over distinct word
    * 3-gram shingles.
    *
    * @param k     signature length (k = bands * rowsPerBand)
    * @param bands LSH bands; a pair is a candidate if any band of the
    *              signature matches exactly.
    * @param minJaccard exact shingle-set Jaccard threshold for the
    *                   verify step.
    * Output: (id_a, id_b, shared, total) — shared/total ints so the
    * result is FP-free; jaccard = shared/total.
    */
  def minhashPairs(docs: DataFrame, k: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.7, idCol: String = "doc_id",
      textCol: String = "text", shingleWords: Int = 3): DataFrame =
    minhashPairsCore(docs, k, bands, minJaccard, idCol, textCol,
      shingleWords, bMinId = None)

  /** [[minhashPairs]] body, with an optional floor on the RIGHT side
    * of the band join (`id_b >= bMinId`): [[incrementalNear]] uses it
    * to generate only batch-involving candidates — the corpus side
    * streams through the band join once and corpus-internal pairs are
    * never formed, which is the difference between O(batch-involved
    * collisions) and re-deduplicating the whole corpus every night.
    */
  private def minhashPairsCore(docs: DataFrame, k: Int, bands: Int,
      minJaccard: Double, idCol: String, textCol: String,
      shingleWords: Int, bMinId: Option[Long]): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // Fused shingle+minhash (codegen'd, no shingle materialization for
    // the signature); distinct shingle sets kept only for the verify.
    // Persisted because the plan fans out 4 ways (both sides of the
    // band self-join + both verify joins) — without it the shingle
    // pipeline is recomputed per branch.
    // The (cheap to shuffle, expensive to hash) raw tokens are spread
    // across cores first. Docs too short to produce any shingle are
    // excluded up front: they would otherwise all share the
    // empty-signature band keys and pair quadratically with each other
    // (and 0 >= 0*minJaccard would pass the verify).
    // The verify payload is sorted distinct 64-bit shingle HASHES, not
    // shingle strings: ~10× less persisted/shuffled state for long
    // docs, and the per-pair Jaccard is a codegen'd merge pass instead
    // of array_intersect/array_union hash-set builds.
    val base = Tables.spread(
        docs.select(col(idCol).as("id"), tokens(col(textCol)).as("wt"))
          .filter(size(col("wt")) >= shingleWords), "id")
      .withColumn("sig", minhash_shingled(col("wt"), shingleWords, k))
      .withColumn("toks", shingle_hashes(col("wt"), shingleWords))
      .drop("wt")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Flat long band keys (band index folded into the hash) → plain
    // equi-join, never a nested-loop fallback.
    val bandCols = (0 until bands).map { b =>
      xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows))
    }
    val banded = base.select(col("id"), explode(array(bandCols: _*)).as("bk"))
    val bandedB = bMinId.fold(banded)(m => banded.filter(col("id") >= m))
    val candidates = banded.as("a")
      .join(bandedB.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val toks = base.select(col("id"), col("toks"))
    // Exact Jaccard verify on the candidate set only (merge-count over
    // sorted hash arrays; |A∪B| = |A|+|B|-|A∩B|).
    val verified = candidates
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("shared", shared_count(col("toks_a"), col("toks_b")))
      .withColumn("total",
        size(col("toks_a")) + size(col("toks_b")) - col("shared"))
      .filter(col("total") > 0 && col("shared") >= col("total") * minJaccard)
      .select(col("id_a"), col("id_b"), col("shared"), col("total"))
    // Materialize the (small) pair set so the wide persisted base can
    // be freed immediately instead of leaking for the session lifetime.
    //
    // Bench-regression postmortem (r2/r3 showed 35-37 s here at sf0.1
    // vs 6.9 s in r1): a full bisect (AQE-coalescing × repartition ×
    // eager-checkpoint toggles, staged timings) could not reproduce it
    // — every combination ran 0.9-1.8 s warm / ≤ 5.9 s cold in
    // isolation, and a full 57-query bench run timed this query at
    // 2.7 s with this exact code. The checkpoint itself costs ~0.4 s.
    // Conclusion: the slow driver-side runs were machine load, not
    // plan shape. The barrier log puts the pre-checkpoint plan and the
    // materialization wall-clock into the bench artifacts so any
    // recurrence is attributable from the dump alone.
    val out = pin("minhashPairs verified", verified)
    base.unpersist()
    out
  }

  /** SimHash near-dup pairs: 4×16-bit band buckets, Hamming-verified.
    * Output: (id_a, id_b, hamming).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // token-less docs all hash to sig=0 and would band-collide
    // quadratically — exclude them like minhashPairs does
    val sigs = docs.select(col(idCol).as("id"),
      tokens(col(textCol)).as("wt"))
      .filter(size(col("wt")) > 0)
      .select(col("id"), simhash64(col("wt")).as("sig"))
    // flat long band key: band index in the high bits → plain equi-join
    val banded = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sig"), b * 16)
          .bitwiseAND(lit(0xFFFFL)) + lit(b * 65536L)): _*)).as("bk"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair graph: the step that
    * turns pairwise matches into dedup decisions (one representative —
    * the minimum id — per cluster). Iterative min-label propagation
    * (the MapReduce connected-components pattern): each round every
    * node adopts the smallest label among itself and its neighbors;
    * rounds are O(graph diameter), each a shuffle-bounded join — no
    * driver-side data, only a convergence check per round.
    *
    * Output: (doc_id, cluster_id) for every node that appears in a
    * pair, cluster_id = min doc_id of its component.
    *
    * @param checkpointEvery truncate lineage with a pin every this
    *   many rounds — without it the logical plan deepens by one
    *   join+union+agg per round, and plan optimization / DAG
    *   bookkeeping (plus full-lineage recompute on cache eviction)
    *   becomes the bottleneck at large diameters. (On a real cluster,
    *   prefer reliable `checkpoint()` to survive executor loss.)
    */
  def clusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIterations: Int = 50,
      checkpointEvery: Int = 5): DataFrame = {
    val edges = pairs.select(col(idA).as("a"), col(idB).as("b"))
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    var labels: DataFrame = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    val labelType = labels.schema("label").dataType
    var cached = labels.persist(StorageLevel.MEMORY_AND_DISK)
    var iterating = true
    var iter = 0
    while (iterating && iter < maxIterations) {
      // The convergence test is fused into the job that materializes
      // the new labels: self rows carry their current label in `old`
      // (exactly one per node), neighbor rows carry null, so after the
      // min-aggregation a near-free column aggregate over the SAME
      // cached result answers "did any label change" — one Spark job
      // per round instead of three (materialize + join + count).
      val self = labels.select(col("node"), col("label"),
        col("label").as("old"))
      val neighborLabels = labels
        .join(sym, labels("node") === sym("a"))
        .select(col("b").as("node"), col("label"),
          lit(null).cast(labelType).as("old"))
      val next = self.union(neighborLabels)
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"), max(col("old")).as("old"))
      // lazy pin: materialized by the convergence job below
      val nextCached =
        if ((iter + 1) % checkpointEvery == 0)
          pin(s"clusters round $iter", next, eager = false)
        else next.persist(StorageLevel.MEMORY_AND_DISK)
      val changed = nextCached
        .agg(count(when(col("label") =!= col("old"), 1)).as("n_changed"))
        .head().getLong(0) > 0
      cached.unpersist()
      cached = nextCached
      labels = nextCached.select(col("node"), col("label"))
      iterating = changed
      iter += 1
    }
    if (iterating) {
      // fail loud: a silent cap would return multiple cluster ids for
      // one true component (propagation moves one hop per round)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIterations rounds — " +
          "component diameter exceeds the iteration cap")
    }
    sym.unpersist()
    // materialize the (small) result so the loop caches can be freed
    val out = pin(s"clusters converged after $iter rounds", labels
      .select(col("node").as("doc_id"), col("label").as("cluster_id")))
    cached.unpersist()
    out
  }

  /** The end-user dedup operation: drop every document that belongs to
    * a near-dup cluster but is not its representative (minimum id).
    * Input pairs come from any pair producer (minhashPairs /
    * ngramJaccardPairs / Similarity.cosinePairs).
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val losers = clusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__loser"))
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** Quality-aware survivor choice: keep ONE representative per
    * near-dup cluster — the row with the HIGHEST `scoreCol` (ties →
    * smallest id) — instead of [[dropNearDuplicates]]'s min-id rule.
    * The production form of cluster collapse: of a boilerplate
    * cluster, keep the cleanest/longest copy, not the one that
    * happened to be crawled first. Docs in no pair survive untouched.
    *
    * Cost on top of [[clusters]] (the dominant term): one left join of
    * the corpus against the (small — clustered docs only) label set on
    * the id, and one window per cluster_id with a rank-1 filter that
    * compiles to WindowGroupLimit — the exchange carries one candidate
    * per (map task × cluster).
    */
  def clusterRepresentatives(docs: DataFrame, pairs: DataFrame,
      scoreCol: String, idCol: String = "doc_id"): DataFrame = {
    val cl = clusters(pairs).withColumnRenamed("doc_id", idCol)
    val joined = docs.join(cl, Seq(idCol), "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(idCol))
    val reps = joined.filter(col("cluster_id").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "cluster_id")
    joined.filter(col("cluster_id").isNull).drop("cluster_id")
      .unionByName(reps)
  }

  /** (id, g): each document's distinct character n-grams, exploded
    * after [[Tables.spread]] so the three gram self-joins below run on
    * every core.
    */
  private def spreadGrams(docs: DataFrame, n: Int, idCol: String,
      textCol: String): DataFrame =
    Tables.spread(docs.select(col(idCol).as("id"), col(textCol).as("t")),
        "id")
      .select(col("id"), explode(charNgrams(col("t"), n)).as("g"))

  /** Exact character-n-gram Jaccard pairs via shingle join (ground
    * truth / oracle-checkable). Output: (id_a, id_b, shared, n_a, n_b)
    * for pairs with jaccard = shared/(n_a+n_b-shared) >= minJaccard.
    *
    * The (id, text) rows are spread across `defaultParallelism` hash
    * partitions of id before the gram explode, so the explode, the
    * gram self-join and its partial aggregate run on every core even
    * when the input is a single-row-group scan that reads as one task
    * (on the 500-doc ground-truth slice that single task was most of
    * the build). The result set does not depend on the partitioning.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
      minJaccard: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val grams = spreadGrams(docs, n, idCol, textCol)
    val counts = grams.groupBy(col("id")).agg(count(lit(1)).as("ng"))
    // Lossless size prefilter: jaccard >= t forces the distinct-gram
    // counts to satisfy min(na,nb) >= t*max(na,nb) (shared <= min and
    // shared >= t*(na+nb-shared) together imply it). Attaching counts
    // and filtering INSIDE the gram join prunes most of the quadratic
    // pair space before the group-by, with an identical result set.
    // Counts re-attach via a plain equi-join on id — no forced
    // broadcast, so AQE decides by runtime size instead of a
    // corpus-sized collect (the same cleanup the AllPairs path got).
    val g = grams.join(counts, "id")
    val shared = g.as("a")
      .join(g.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("a.ng") >= col("b.ng") * minJaccard &&
          col("b.ng") >= col("a.ng") * minJaccard)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"), first(col("a.ng")).as("n_a"),
        first(col("b.ng")).as("n_b"))
    shared
      .filter(col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")) >= minJaccard)
      .select(col("id_a"), col("id_b"), col("shared"), col("n_a"), col("n_b"))
  }

  /** Asymmetric CONTAINMENT near-dup pairs: containment(A, B) =
    * |grams(A) ∩ grams(B)| / min(|grams(A)|, |grams(B)|) — the
    * excerpt-duplication detector. Symmetric Jaccard misses a short
    * document quoted verbatim inside a long one (the union term
    * drowns the overlap: a 50-gram doc fully contained in a
    * 5000-gram doc has Jaccard ≈ 0.01 but containment 1.0); training
    * corpora are full of exactly that shape (quoted articles,
    * boilerplate-wrapped reposts — the Lee et al. 2022 substring-dup
    * motivation at whole-doc granularity).
    *
    * Same scoped ground-truth contract as [[ngramJaccardPairs]]
    * (quadratic shingle self-join, run on capped slices; there is no
    * lossless size prefilter for containment — ANY size ratio can
    * qualify, which is the point). The scale path composes the same
    * way the Jaccard one does: MinHash buckets generate candidates,
    * this verify re-scores them.
    *
    * Output: (id_a, id_b, shared, n_a, n_b, cont_bp) with
    * cont_bp = ⌊10⁴·shared / min(n_a, n_b)⌋ exact integer basis
    * points, pairs with cont_bp ≥ minContainmentBp.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      minContainmentBp: Long = 9000L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // NOT pinned, deliberately (r19 A/B'd it in one JVM, interleaved
    // reps): pinning the gram multiset measured a wash (pinned
    // 2.44-2.54 s vs unpinned 2.09-3.03 s warm) — runtime exchange
    // reuse already dedupes the identical join legs — and at corpus
    // scale materializing every 8-char gram would be a block-manager
    // wall the recomputation never pays.
    val grams = spreadGrams(docs, n, idCol, textCol)
    val counts = grams.groupBy(col("id")).agg(count(lit(1)).as("ng"))
    // plain equi-join on id — AQE picks the strategy by runtime size
    val g = grams.join(counts, "id")
    g.as("a")
      .join(g.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"), first(col("a.ng")).as("n_a"),
        first(col("b.ng")).as("n_b"))
      .withColumn("cont_bp",
        expr("(10000 * shared) div least(n_a, n_b)"))
      .filter(col("cont_bp") >= minContainmentBp)
      .select(col("id_a"), col("id_b"), col("shared"), col("n_a"),
        col("n_b"), col("cont_bp"))
  }

  /** Exact Jaccard self-join with PREFIX FILTERING (Bayardo,
    * Ma & Srikant, WWW 2007 "Scaling Up All Pairs Similarity
    * Search") — the same output as [[ngramJaccardPairs]] from a plan
    * that never joins on every gram: under a global token order
    * (ascending document frequency — rare first, the paper's
    * canonical order), two gram SETS with Jaccard ≥ t must share a
    * token inside each one's first `ng − ⌈t·ng⌉ + 1` grams, so
    * candidate generation joins only those PREFIXES. At threshold
    * 0.8 that is ~20% of the inverted index on each side (a ~25×
    * smaller candidate join than the full-index join), and the rare-
    * first order makes the surviving postings the SHORTEST lists.
    * Candidates then verify by exact shared-gram count restricted to
    * candidate pairs — work ∝ candidates × doc grams, not corpus².
    *
    * Guarantee, for the skeptic: |A∩B|/|A∪B| ≥ t implies
    * |A∩B| ≥ t·|A| (since |A∪B| ≥ |A|); if A's prefix (all grams
    * ordered before its last ⌈t·|A|⌉−1 ones... i.e. dropping only
    * ⌈t·|A|⌉−1 grams) missed every shared gram, the intersection
    * would fit inside those ⌈t·|A|⌉−1 dropped grams — a
    * contradiction; symmetrically for B. Both prefixes therefore
    * contain a shared gram and the equi-join finds the pair.
    *
    * Output: (id_a, id_b, shared, n_a, n_b) — bit-identical to
    * [[ngramJaccardPairs]] (the driver gate runs both against the
    * same oracle).
    *
    * Scale shape: this is the billed 100 TB AllPairs path, so nothing
    * corpus-sized is ever broadcast or globally sorted. The per-doc
    * count table (one row per document) re-attaches via plain shuffled
    * equi-joins on id — AQE is free to broadcast it at small scale,
    * but no hint forces a 10⁹-row collect. The global token order
    * (ascending document frequency, gram as tie-break) is never
    * materialized as a rank table: the per-doc prefix window only
    * needs the ORDER, so it sorts by (df, g) directly inside each
    * id partition — no single-task vocab-wide row_number sort.
    */
  def jaccardPairsAllPairs(docs: DataFrame, n: Int = 3,
      minJaccard: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // NOT pinned, deliberately (r19 optimization round A/B'd it): the
    // gram multiset fans out five ways and the baseline plan dump
    // shows 20 parquet scans — but an eager localCheckpoint of the
    // 3-char gram frame showed no win beyond host noise (pinned
    // 2.43-2.95 s vs unpinned 2.09-2.81 s across interleaved
    // same-host runs): the explode is cheap and codegen-pipelined
    // into each consumer, while the pin pays serialization plus a job
    // barrier the recomputation never does.
    val grams = spreadGrams(docs, n, idCol, textCol)
    val counts = grams.groupBy(col("id")).agg(count(lit(1)).as("ng"))
    // global token order key: ascending df, gram text as tie-break —
    // attached per-gram by a vocab-keyed equi-join (no rank window)
    val dfTable = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val ranked = grams.join(dfTable, "g").join(counts, "id")
    // per-doc prefix: the first ng − ⌈t·ng⌉ + 1 grams in rank order.
    // The 1e-9 nudge keeps a float ulp above an exact integer t·ng
    // from SHORTENING the prefix (which could lose pairs); it can
    // only lengthen it, which costs pruning, never correctness.
    val prefix = ranked
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .filter(col("pos") <=
        col("ng") - ceil(col("ng") * minJaccard - 1e-9).cast("long") + 1)
      .select(col("id"), col("g"), col("ng"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("a.ng") >= col("b.ng") * minJaccard &&
          col("b.ng") >= col("a.ng") * minJaccard)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact verify restricted to candidates: two id-key joins fan the
    // pair list over each side's grams, one equi-join on gram counts
    // the overlap
    val ga = grams.withColumnRenamed("id", "id_a")
    val gb = grams.select(col("id").as("__idb"), col("g").as("g_b"))
    val shared = cand
      .join(ga, "id_a")
      .join(gb, col("id_b") === col("__idb") && col("g") === col("g_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(counts.withColumnRenamed("id", "id_a")
        .withColumnRenamed("ng", "n_a"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b")
        .withColumnRenamed("ng", "n_b"), "id_b")
      .filter(col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")) >= minJaccard)
      .select(col("id_a"), col("id_b"), col("shared"), col("n_a"),
        col("n_b"))
  }

  /** Blocking depth that holds EXPECTED block occupancy constant as
    * the corpus grows: each additional prefix character multiplies the
    * distinct-block count by the text's effective branching factor
    * (≈16 for natural-language openings), so depth grows with
    * ceil(log_b(n/n0)) beyond the base. n ≤ n0 keeps the base depth —
    * existing small-corpus results are unchanged; at 10⁹ rows the
    * default deepens to 16, at 10¹² (the 100 TB regime) to 18,
    * keeping Σ|block|² linear in n for prefix-diverse corpora.
    */
  private[graft] def autoBlockPrefix(n: Long, base: Int = 12,
      n0: Long = 100000L, branch: Double = 16.0): Int =
    if (n <= n0) base
    else base + math.ceil(math.log(n.toDouble / n0) / math.log(branch)).toInt

  /** Edit-distance near-dup pairs via prefix blocking: candidates
    * share their first `blockPrefix` lowercased characters (an
    * equi-join key — quadratic work stays inside each block), pass a
    * LOSSLESS length prefilter (edit distance >= length difference),
    * and are verified with a THRESHOLDED Levenshtein (early-exit at
    * maxEdits+1, so the verify cost is O(maxEdits·len), not O(len²)).
    *
    * Blocking trade, documented: near-dups that differ inside the
    * first `blockPrefix` chars are missed (same class of trade as
    * MinHash banding — recall for speed); typo-class edits cluster in
    * document bodies, not openings, which is what makes prefix
    * blocking the standard cheap key. Cost model: verify work is
    * Σ|block|² — `blockPrefix = 0` (the default) derives the depth
    * from the corpus row count ([[autoBlockPrefix]]; one count job),
    * so default-config occupancy stays bounded as the corpus scales
    * instead of silently going quadratic. Residual hazard, documented:
    * a corpus whose documents are IDENTICAL beyond any prefix depth
    * (exact-dup floods) still collapses into one block — run
    * [[exact]]/[[minhashPairs]] upstream, which is the pipeline order
    * the hygiene CLI uses anyway.
    * Output: (id_a, id_b, edits).
    */
  def editDistancePairs(docs: DataFrame, maxEdits: Int = 4,
      blockPrefix: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxEdits >= 0 && blockPrefix >= 0, "bad edit-dedup params")
    val prefix =
      if (blockPrefix > 0) blockPrefix else autoBlockPrefix(docs.count())
    // NOT pinned, deliberately (r19 A/B'd it): checkpointing the
    // blocked frame showed no win beyond host noise — the self-join's
    // identical sides already share one exchange, so the pin only
    // added a materialization barrier for full document texts.
    val b = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .filter(col("t").isNotNull)
      .withColumn("blk", substring(lower(col("t")), 1, prefix))
      .withColumn("ln", length(col("t")))
    b.as("a").join(b.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
          abs(col("a.ln") - col("b.ln")) <= maxEdits)
      .withColumn("edits",
        levenshtein(col("a.t"), col("b.t"), maxEdits).cast("long"))
      .filter(col("edits") >= 0L)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("edits"))
  }

  // --------------------------------------------------------------------
  // Substring-level (span) dedup — the "exact substring deduplication"
  // of Lee et al., "Deduplicating Training Data Makes Language Models
  // Better" (ACL 2022), re-expressed Spark-first: instead of a global
  // suffix array (a single-machine construction), duplicated regions
  // are found as runs of length-n character grams that occur in more
  // than one document. Any cross-doc duplicated substring of length
  // >= n is covered exactly by such gram runs, so merged gram islands
  // == maximal duplicated spans at gram resolution.
  //
  // 100 TB shape: one narrow gram explode (positions generated inside
  // codegen, no gram array materialized), one groupBy on an 8-byte
  // gram hash (map-side combinable), one equi-join of positions
  // against the (much smaller) duplicated-hash set — AQE left free to
  // pick the join strategy since the dup set grows with the corpus —
  // and one per-doc window for the island merge. Nothing quadratic,
  // nothing broadcast by hint, nothing driver-side.
  //
  // Grams are keyed by xxhash64, not the string (30-char grams would
  // ~4x the shuffle width). A 64-bit collision could mark a unique
  // gram as duplicated: P ≈ G²/2^65 (~1e-8 at 10^7 grams, still only
  // a ~1e-9 false-dup RATE at 10^14) — the standard trade, same as
  // the MinHash band keys.
  // --------------------------------------------------------------------

  /** Maximal duplicated spans per document: merged (overlapping or
    * adjacent) islands of n-char grams that occur in >1 distinct
    * document. Output: (doc_id, span_start, span_end), 1-based
    * inclusive character positions.
    */
  def duplicatedSpans(docs: DataFrame, n: Int = 30,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, "span gram length must be >= 2")
    val len = length(col("t"))
    // sequence(1, len-(n-1)) is DESCENDING when len < n — guard first.
    val posArr = when(len < n, array().cast("array<int>"))
      .otherwise(sequence(lit(1), len - (n - 1)))
    // spread the cheap (id, text) rows BEFORE the explode so gram
    // generation + hashing parallelize
    val grams = Tables.spread(
        docs.select(col(idCol).as("id"), col(textCol).as("t")), "id")
      .select(col("id"), col("t"), explode(posArr).as("pos"))
      .select(col("id"), col("pos"),
        xxhash64(substr(col("t"), col("pos"), lit(n))).as("h"))
    val dup = grams.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"))
    val hit = grams.join(dup, Seq("h")).select(col("id"), col("pos"))
    val byPos = Window.partitionBy(col("id")).orderBy(col("pos"))
    val prev = byPos.rowsBetween(Window.unboundedPreceding, -1)
    val cum = byPos.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    // Island detection: a gram starts a new span iff it begins after
    // (prev covered end + 1) — overlapping OR adjacent grams merge,
    // so contiguous duplicated text is always one span.
    hit
      .withColumn("brk",
        when(col("pos") >
          coalesce(max(col("pos") + (n - 1)).over(prev), lit(-1)) + 1,
          1).otherwise(0))
      .withColumn("gid", sum(col("brk")).over(cum))
      .groupBy(col("id"), col("gid"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (n - 1)).cast("long").as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"))
  }

  /** Per-document duplicated-span rollup over ALL documents (zero for
    * clean docs): span count, duplicated chars, duplicated-char ratio.
    */
  def duplicatedSpanStats(docs: DataFrame, n: Int = 30,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    duplicatedSpanStatsFrom(docs, duplicatedSpans(docs, n, idCol, textCol),
      idCol, textCol)

  /** [[duplicatedSpanStats]] over an already-built span frame — split
    * out so the registry can share ONE memoized span extraction
    * between the spans / stats / scrub queries (the gram pipeline is
    * the cost; at 100 TB the span set is materialized once and every
    * downstream consumer reads the materialization).
    */
  def duplicatedSpanStatsFrom(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val agg = spans
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_ns"),
        sum(col("span_end") - col("span_start") + 1).as("_dc"))
    docs
      .select(col(idCol), length(col(textCol)).cast("long").as("n_chars"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_chars"),
        coalesce(col("_ns"), lit(0L)).as("n_spans"),
        coalesce(col("_dc"), lit(0L)).as("dup_chars"),
        when(col("n_chars") === 0L, lit(0.0))
          .otherwise(coalesce(col("_dc"), lit(0L)).cast("double") /
            col("n_chars").cast("double")).as("dup_ratio"))
  }

  /** Cut every duplicated span out of the affected documents (the
    * aggressive variant: ALL occurrences go, not all-but-one — the
    * conservative keep-one policy needs a global occurrence order and
    * is a corpus-level choice layered on [[duplicatedSpans]]). Only
    * affected documents are emitted; a doc fully covered by spans
    * comes out with empty text. Output: (doc_id, clean_text,
    * n_removed).
    */
  def removeDuplicatedSpans(docs: DataFrame, n: Int = 30,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // spans fans out 3 ways below (gaps, tails, affected-doc set);
    // without materialization the whole gram pipeline would recompute
    // per branch. The span set is tiny (duplicated regions only), so
    // an eager pin is cheap and truncates the lineage.
    removeDuplicatedSpansFrom(docs,
      pin("removeDuplicatedSpans spans",
        duplicatedSpans(docs, n, idCol, textCol)),
      idCol, textCol)

  /** [[removeDuplicatedSpans]] over an already-built (and pinned)
    * span frame — the registry's share point (see
    * [[duplicatedSpanStatsFrom]]). `spans` must be materialized by
    * the caller: it fans out three ways below.
    */
  def removeDuplicatedSpansFrom(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bySpan = Window.partitionBy(col(idCol)).orderBy(col("span_start"))
    // Kept segments = gaps between consecutive spans + the tail after
    // the last span (the head gap falls out of lag() defaulting to
    // position 0).
    val gaps = spans
      .withColumn("s", coalesce(lag(col("span_end"), 1).over(bySpan),
        lit(0L)) + 1)
      .withColumn("e", col("span_start") - 1)
      .filter(col("s") <= col("e"))
      .select(col(idCol), col("s"), col("e"))
    val withLen = docs.select(col(idCol), col(textCol).as("t"),
      length(col(textCol)).cast("long").as("tlen"))
    val tails = spans.groupBy(col(idCol))
      .agg(max(col("span_end")).as("_mx"))
      .join(withLen.select(col(idCol), col("tlen")), Seq(idCol))
      .filter(col("_mx") + 1 <= col("tlen"))
      .select(col(idCol), (col("_mx") + 1).as("s"), col("tlen").as("e"))
    val keep = gaps.unionByName(tails)
    // collect_list drops null entries, so a fully-covered doc (no kept
    // segments) aggregates to an empty array -> empty clean_text.
    spans.select(col(idCol)).distinct()
      .join(withLen, Seq(idCol))
      .join(keep, Seq(idCol), "left")
      .withColumn("seg", when(col("s").isNotNull,
        struct(col("s"), substr(col("t"), col("s").cast("int"),
          (col("e") - col("s") + 1).cast("int")).as("txt"))))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(col("seg"))),
          x => x.getField("txt")), "").as("clean_text"),
        max(col("tlen")).as("_tlen"))
      .select(col(idCol), col("clean_text"),
        (col("_tlen") - length(col("clean_text")).cast("long"))
          .as("n_removed"))
  }

  /** Multi-pass sorted-neighborhood near-dup pairs (Hernández &
    * Stolfo, SIGMOD 1995): sort records on a discriminating key, slide
    * a `window`-row window, and verify only the pairs that fall inside
    * it — the third blocking family next to MinHash bands (hash
    * blocking) and [[editDistancePairs]]' prefix blocking (value
    * blocking). SNM's strength is key-local typos and prefix-sharing
    * duplicates that hash whole-document signatures apart.
    *
    * This is the MULTI-PASS flavor: the sort ranks are computed per
    * `source` partition (the pass key), so the rank window is a
    * partitioned `row_number` — parallel across sources, never a
    * global single-task sort; the candidate join is an equi-join on
    * the pass key with the rank-distance predicate as residual, so
    * candidates are capped at window·N and nothing goes quadratic.
    * Classic single-key SNM over a corpus-unique key would need the
    * two-stage bucketed rank instead (the equi-depth-histogram trick).
    *
    * Verify is exact distinct-char-n-gram Jaccard, computed with
    * `array_intersect` on the per-doc gram arrays attached by id
    * equi-joins — candidate-pairs-sized work, no gram-keyed shuffle of
    * the full corpus. Output: (id_a, id_b, shared, n_a, n_b, jac_bp)
    * with id_a < id_b, jac_bp = ⌊10⁴·|∩|/|∪|⌋ ≥ `minJaccardBp`.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, window: Int = 5,
      minJaccardBp: Long = 8000L, n: Int = 3): DataFrame = {
    require(window >= 1)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("text"), col("doc_id"))
    val r = docs.select(col("doc_id"), col("source"), col("text"))
      .withColumn("rk", row_number().over(w))
    val cand = r.as("a").join(r.as("b"),
        col("a.source") === col("b.source") &&
          col("b.rk") > col("a.rk") &&
          col("b.rk") <= col("a.rk") + window)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
    val gs = docs.select(col("doc_id"),
      charNgrams(col("text"), n).as("gs"))
      .withColumn("ng", size(col("gs")).cast("long"))
      .filter(col("ng") > 0)
    cand
      .join(gs.select(col("doc_id").as("id_a"), col("gs").as("ga"),
        col("ng").as("n_a")), "id_a")
      .join(gs.select(col("doc_id").as("id_b"), col("gs").as("gb"),
        col("ng").as("n_b")), "id_b")
      .withColumn("shared",
        size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("jac_bp",
        expr("(10000 * shared) div (n_a + n_b - shared)"))
      .filter(col("jac_bp") >= minJaccardBp)
      .select(col("id_a"), col("id_b"), col("shared"), col("n_a"),
        col("n_b"), col("jac_bp"))
  }
}
