package graft.operators

import graft.functions.idiv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: fuse a lexical (tf·idf) ranking and a vector
  * (exact cosine) ranking of the same corpus with reciprocal-rank
  * fusion (RRF, Cormack et al. SIGIR'09) — the standard two-tower
  * search shape (BM25-family + embedding ANN) reduced to its exact,
  * oracle-checkable core.
  *
  * Determinism: RRF contributions are integer-quantized to
  * micro-units — `1e6 div (k + rank)` — so the fused score is a
  * BIGINT sum, bit-identical on any engine/partitioning (the usual
  * `1/(k+rank)` doubles would hash-diverge on summation order; at
  * k=60 the quantization never reorders candidates because distinct
  * ranks ≤ ~940 map to distinct quotients, and beyond that the
  * candidate pools are capped far earlier by `poolK`).
  *
  * 100 TB shape: both candidate generators are the existing scale
  * paths — [[TextStats.searchTopK]] compiles to a pruned explode +
  * TakeOrderedAndProject (no global sort), and the exact
  * [[Similarity.topK]] used here has the LSH/IVF ANN twins as the
  * corpus-scale substitutes. Fusion itself touches only the two
  * ≤poolK-row candidate pools: the window ranks and the full-outer
  * join are driver-trivial no matter the corpus size.
  *
  * Id contract: `docs.doc_id` and `embs.vec_id` index the same
  * corpus (doc i ↔ its embedding i), as in the fixture tables.
  */
object Retrieval {

  /** Top-k fused results for one query (`terms` for the lexical leg,
    * the embedding of `queryVecId` for the vector leg). Output:
    * (doc_id, lex_rank, vec_rank, rrf_micros) — a null rank means
    * that leg did not surface the doc in its top-`poolK` pool.
    */
  def hybridTopK(docs: DataFrame, embs: DataFrame, terms: Seq[String],
      queryVecId: Long, k: Int = 10, rrfK: Int = 60,
      poolK: Int = 20): DataFrame = {
    // lexical pool: integer-exact tf·idf scores, already totally
    // ordered; the unpartitioned window re-ranks only the ≤poolK
    // surviving rows (a single tiny partition by construction)
    val lex = TextStats.searchTopK(docs, terms, poolK)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id").as("lid"), col("lex_rank"))
    // vector pool: exact quantized-cosine top-poolK for the query
    // vector (rank ties break by neighbor id inside the operator)
    val vec = Similarity
      .topK(embs.filter(col("vec_id") === queryVecId), embs, poolK)
      .select(col("neighbor_id").as("vid"), col("rank").as("vec_rank"))
    def rrf(rank: org.apache.spark.sql.Column) =
      coalesce(idiv(lit(1000000L), lit(rrfK.toLong) + rank),
        lit(0L))
    lex.join(vec, col("lid") === col("vid"), "fullOuter")
      .select(coalesce(col("lid"), col("vid")).as("doc_id"),
        col("lex_rank"), col("vec_rank"),
        (rrf(col("lex_rank")) + rrf(col("vec_rank"))).as("rrf_micros"))
      .orderBy(col("rrf_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** Pseudo-relevance-feedback search (RM3-lite, Lavrenko & Croft
    * 2001 reduced to its exact core): run the BM25 query, take the
    * top-`fbDocs` results ON FAITH as relevant, mine their
    * `expTerms` highest-scoring non-query terms (feedback tf ×
    * ln-free rational idf over the FULL corpus — integer exact), and
    * re-run BM25 with the expanded term set. The classic fix for
    * vocabulary mismatch: documents discussing the topic in other
    * words now match through the expansion terms.
    *
    * Everything stays declarative — the query, feedback set, and
    * expansion terms are all DataFrames (nothing collected to the
    * driver): BM25 scoring takes the term set as a frame and joins
    * it into the token stream, so the same plan shape serves both
    * passes. The feedback and expansion frames are ≤ fbDocs/expTerms
    * rows by construction (TakeOrderedAndProject), and AQE
    * broadcasts them into the corpus-sized joins.
    *
    * Scale cost, honestly: two BM25 passes + one feedback-token
    * rollup over the corpus tokenization — the canonical PRF price.
    * The per-term expansion score `tf_fb · w` stays in int64
    * (tf_fb ≤ fbDocs · max dl; w ≤ ~5e14 at 1e9 docs — overflow
    * needs a 10⁴-token feedback window at that corpus, the same
    * documented envelope as the searchTopK family).
    *
    * Output: (doc_id, score, n_terms) like [[TextStats.bm25TopK]].
    */
  def prfSearch(docs: DataFrame, terms: Seq[String], k: Int = 10,
      fbDocs: Int = 5, expTerms: Int = 3): DataFrame = {
    require(terms.nonEmpty, "PRF search needs at least one term")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE (doc_id, term) census is the trunk of the whole query:
    // document lengths, both BM25 passes' tf, the corpus document
    // frequencies and the feedback rollup all derive from this single
    // aggregated subtree, so runtime exchange reuse computes the
    // tokenize+explode once (r20 — the previous shape diverged at the
    // raw token stream and re-ran the explode per consumer: the
    // committed plan dump shows 42 parquet scans / 32 Generates /
    // zero reuse for one query). Same integers everywhere: per-pass
    // tf = census filtered to the pass's terms, occurrence rollups =
    // SUM(tf) instead of COUNT over the token grain.
    val tfAll = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tfAll.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val corpus = dl.agg(sum(col("dl")).as("len_corpus"))
    val n = docs.agg(count(lit(1)).as("n_corpus"))
    val q0 = terms.toDF("term")
    def bm25(termFrame: DataFrame): DataFrame = {
      val tf = tfAll.join(termFrame, "term")
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(df, "term").join(dl, "doc_id")
        .crossJoin(n).crossJoin(corpus)
        .withColumn("w", idiv(
          lit(1000000L) * (col("n_corpus") + 1L), col("df") + 1L))
        .withColumn("contrib", idiv(
          col("w").cast("decimal(38,0)") * lit(22L) * col("len_corpus")
            * col("tf"),
          lit(10L) * col("len_corpus") * col("tf")
            + lit(3L) * col("len_corpus")
            + lit(9L) * col("n_corpus") * col("dl")))
        .groupBy(col("doc_id"))
        .agg(sum(col("contrib")).as("score"),
          count(lit(1)).as("n_terms"))
    }
    val fb = bm25(q0)
      .orderBy(col("score").desc, col("doc_id")).limit(fbDocs)
      .select(col("doc_id"))
    val dfAll = tfAll.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
    val exp = tfAll.join(fb, "doc_id")
      .join(q0, Seq("term"), "left_anti")
      .groupBy(col("term")).agg(sum(col("tf")).as("tf_fb"))
      .join(dfAll, "term").crossJoin(n)
      .withColumn("escore", col("tf_fb") * idiv(
        lit(1000000L) * (col("n_corpus") + 1L), col("dfc") + 1L))
      .orderBy(col("escore").desc, col("term")).limit(expTerms)
      .select(col("term"))
    bm25(q0.union(exp))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Maximal-marginal-relevance diversity re-rank (Carbonell &
    * Goldstein, SIGIR 1998): greedily pick from a scored candidate
    * pool maximizing λ·relevance − (1−λ)·max-similarity-to-chosen —
    * the standard RAG/search result diversifier (a plain top-k returns
    * five near-copies of the best hit; MMR trades a little relevance
    * for coverage). All integer basis points: relevance normalizes to
    * rel_bp = 10⁴·rel div max(rel); similarity is exact distinct
    * char-3-gram Jaccard bp via `array_intersect`; ties break to the
    * smallest id. λ is `lambdaBp`/10⁴.
    *
    * Scale shape: the EXPENSIVE work — scoring the corpus down to the
    * candidate pool — happens upstream (BM25/ANN); this operator runs
    * on the POOL (top-m, m small by construction): the pairwise sim
    * table is m²-bounded, each greedy round is one join + argmax, and
    * the only driver data is the 1-row argmax per round. The oracle
    * replays the identical rounds.
    *
    * `cands`: (id: long, rel: long, text). Output: (rank, id, mmr) —
    * mmr in integer basis points scaled by 10⁴ (λ·rel_bp −
    * (1−λ)·maxsim_bp, both already bp, so the column is bp²-scaled;
    * callers ranking by it never rescale).
    */
  def mmrRerank(cands: DataFrame, k: Int = 5,
      lambdaBp: Long = 5000L): DataFrame = {
    require(k >= 1 && lambdaBp >= 0 && lambdaBp <= 10000)
    val g = cands.select(col("id"), col("rel"),
        Dedup.charNgrams(col("text"), 3).as("gs"))
      .withColumn("ng", size(col("gs")).cast("long"))
      .filter(col("ng") > 0)
    val mx = g.agg(max(col("rel")).as("mr"))
    val base = graft.Scratch.pin("mmr candidates",
      g.crossJoin(mx) // 1-row broadcast
        .withColumn("rel_bp", expr("(10000 * rel) div mr"))
        .select(col("id"), col("rel_bp"), col("gs"), col("ng")))
    // m²-bounded pairwise similarity table
    val sims = graft.Scratch.pin("mmr similarities",
      base.as("a").join(base.as("b"), col("a.id") =!= col("b.id"))
        .withColumn("shared",
          size(array_intersect(col("a.gs"), col("b.gs"))).cast("long"))
        .select(col("a.id").as("ia"), col("b.id").as("ib"),
          expr("(10000 * shared) div (a.ng + b.ng - shared)")
            .as("sim_bp")))
    var picked = Vector.empty[(Long, Long)]
    for (_ <- 1 to k) {
      val rest = base.filter(!col("id")
        .isInCollection(picked.map(_._1) :+ -1L))
      val scored =
        if (picked.isEmpty)
          rest.select(col("id"),
            (col("rel_bp") * lambdaBp).as("mmr"))
        else rest
          .join(sims.filter(col("ib")
              .isInCollection(picked.map(_._1)))
            .groupBy(col("ia").as("id"))
            .agg(max(col("sim_bp")).as("ms")), Seq("id"), "left")
          .select(col("id"),
            (col("rel_bp") * lambdaBp -
              coalesce(col("ms"), lit(0L)) * (10000L - lambdaBp))
              .as("mmr"))
      val top = scored
        .agg(max(struct(col("mmr"), (-col("id")).as("ni"))))
        .head().getStruct(0)
      if (top == null) return toRanked(cands.sparkSession, picked)
      picked = picked :+ (-top.getLong(1), top.getLong(0))
    }
    toRanked(cands.sparkSession, picked)
  }

  private def toRanked(spark: org.apache.spark.sql.SparkSession,
      picked: Vector[(Long, Long)]): DataFrame = {
    import spark.implicits._
    picked.zipWithIndex
      .map { case ((id, mmr), i) => ((i + 1).toLong, id, mmr) }
      .toDF("rank", "id", "mmr")
  }
}
