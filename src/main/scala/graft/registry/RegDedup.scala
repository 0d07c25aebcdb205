package graft
package registry

import graft.operators._
import graft.SparkEntry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegDedup {

  /** Cross-query memo tenants ([[graft.SparkEntry.memoFrame]]) — each
    * of these frames is computed by BOTH a headline query and a
    * recall gate with identical arguments; materialize once per
    * (session, dir) like the ground-truth pair set. Values unchanged;
    * every consumer is hash-checked independently by Verify.
    */
  private def mhPairs(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "dedup_mh_pairs") {
      Dedup.minhashPairs(t(s, dir, "documents"), k = 16, bands = 4,
        minJaccard = 0.7)
    }
  private def shPairs(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "dedup_sh_pairs") {
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 6)
    }
  private def cosPairs(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "dedup_cos_pairs") {
      Similarity.cosinePairs(t(s, dir, "embeddings"), minCosine = 0.45)
    }
  private def annPairs(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "dedup_ann_pairs") {
      Similarity.annCosinePairs(t(s, dir, "embeddings"), minCosine = 0.45,
        nPlanes = 3, nTables = 12)
    }
  private def semPairs(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "dedup_sem_pairs") {
      Similarity.semanticPairs(t(s, dir, "embeddings"), minCosine = 0.45,
        nCells = 4)
    }
  private def snmPairs(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "dedup_snm_pairs") {
      Dedup.sortedNeighborhoodPairs(t(s, dir, "documents"),
        window = 5, minJaccardBp = 8000L)
    }

  /** The corpus-wide 30-char duplicated-span frame — consumed by
    * dedup_spans, re-aggregated by dedup_span_stats, and fanned out
    * three ways by dedup_span_scrubbed. The gram explode + hash join
    * is the cost (the span set itself is tiny); a production corpus
    * materializes the span extraction once and runs every consumer
    * off it, so the frame is a [[graft.SparkEntry.memoFrame]] tenant
    * like the trading-graph edges (r19 optimization: the three
    * queries previously re-ran the gram pipeline 3x per suite pass
    * at ~1.3 s each — same oracle twins, identical rows, one build).
    */
  /** The pre-checkpoint span frame exactly as the memo builds it —
    * exposed so PlanSpec can guard the REGISTERED build site (not a
    * hand-rebuilt twin) against a future forced broadcast or
    * nested-loop regression that the memo's checkpoint would hide.
    */
  private[graft] def dupSpans30Plan(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(t(s, dir, "documents"), n = 30)

  private def dupSpans30(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "dup_spans30") { dupSpans30Plan(s, dir) }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_jaccard_allpairs" -> ((s, dir) => {
      // prefix-filtered AllPairs similarity join — SAME oracle as
      // dedup_ngram_jaccard: identical output, ~25x smaller candidate
      // join (only rank-order prefixes hit the equi-join)
      Dedup.jaccardPairsAllPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "dedup_winnow_pairs" -> ((s, dir) => {
      TextStats.winnowPairs(t(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents")).orderBy(col("keep_id"))
    }),
    "dedup_paragraphs" -> ((s, dir) =>
      // CCNet-style paragraph dedup (20-token non-overlapping blocks
      // as the fixture's paragraph stand-in): first corpus-wide
      // occurrence survives, per-doc survival audit
      Dedup.paragraphDedup(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "dedup_paragraph_scrubbed" -> ((s, dir) =>
      // the transform half: affected docs rebuilt with duplicate
      // blocks cut out (delta-sized output, order-preserving rebuild)
      Dedup.paragraphScrub(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "dedup_lsh_design" -> ((s, dir) =>
      // the S-curve behind the 4x4 MinHash banding, as exact ppm data
      Dedup.lshDesignCurve(s).orderBy(col("s_ppm"))),
    "dedup_soft_weights" -> ((s, dir) =>
      // keep-everything dedup: near-dup cluster members train at
      // weight 1/k ppm instead of being dropped (same ground-truth
      // pair graph and doc scope as the leakage-free split)
      Dedup.softDedupWeights(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        groundTruthPairs(s, dir))
        .orderBy(col("doc_id"))),
    "dedup_minhash" -> ((s, dir) =>
      mhPairs(s, dir).orderBy(col("id_a"), col("id_b"))),
    "dedup_simhash" -> ((s, dir) =>
      shPairs(s, dir).orderBy(col("id_a"), col("id_b"))),
    "dedup_ngram_jaccard" -> ((s, dir) => {
      groundTruthPairs(s, dir).orderBy(col("id_a"), col("id_b"))
    }),
    "dedup_containment" -> ((s, dir) => {
      // asymmetric excerpt detector: pairs where the smaller 8-gram
      // set is ≥ 90% contained in the larger — catches short-doc-
      // quoted-in-long-doc shapes Jaccard's union term drowns. Char
      // 8-grams, not 3-grams: a small alphabet makes short-gram SETS
      // converge across unrelated docs (3-gram containment ≥ 0.55
      // matched 117k of the 125k possible pairs — pure alphabet
      // saturation), while 8-grams keep sets doc-specific. Same
      // scoped 500-doc ground-truth contract as dedup_ngram_jaccard.
      Dedup.containmentPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500)
          .select(col("doc_id"), col("text")),
        n = 8, minContainmentBp = 9000L)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "dedup_clusters" -> ((s, dir) => {
      Dedup.clusters(groundTruthPairs(s, dir)).orderBy(col("doc_id"))
    }),
    "dedup_filtered" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      Dedup.dropNearDuplicates(docs, groundTruthPairs(s, dir))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    "dedup_cluster_reps" -> ((s, dir) => {
      // quality-aware collapse: keep each near-dup cluster's LONGEST
      // doc (n_chars as the quality score), not its first-crawled id
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), col("n_chars"))
      Dedup.clusterRepresentatives(docs, groundTruthPairs(s, dir),
        scoreCol = "n_chars")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    "dedup_embedding" -> ((s, dir) => {
      // brute-force O(N²) pairs: the oracle-checkable GROUND TRUTH
      // (and the recall yardstick for dedup_embedding_ann below);
      // production corpora route through the linear ANN path instead
      cosPairs(s, dir).orderBy(col("id_a"), col("id_b"))
    }),
    "dedup_embedding_ann" -> ((s, dir) => {
      // the 100 TB path: sign-LSH bucketed candidates + exact
      // quantized-cosine verify — linear, nothing broadcast, no O(N²)
      // stage. Fixture-suited geometry: the synthetic embeddings top
      // out at cosine ~0.51 (θ ~1.04 rad, per-plane collision p~0.66),
      // so recall needs coarse tables — 3 planes × 12 tables. A real
      // near-dup corpus (cosine ≥ 0.9, p ≥ 0.86) uses the scale
      // defaults (16 planes × 4 tables) with far smaller buckets.
      annPairs(s, dir).orderBy(col("id_a"), col("id_b"))
    }),
    "dedup_edit_distance" -> ((s, dir) => {
      // typo-class near-dup: the fixture corpus is all-unique at small
      // edit distances, so the query stages mutated recrawls (2-char
      // suffix edits under new ids) the operator must pair with their
      // originals; any natural same-prefix fixture pair joins too
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val staged = docs.unionByName(
        docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" x")).as("text")))
      Dedup.editDistancePairs(staged, maxEdits = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "dedup_semantic" -> ((s, dir) => {
      // SemDeDup: k-means partition + exact within-cell cosine pairs.
      // k-means is not ANSI-SQL-expressible -> no_oracle; pinned by
      // SimilaritySpec (exact-subset-of-brute-force + recall +
      // determinism + plan asserts)
      semPairs(s, dir).orderBy(col("id_a"), col("id_b"))
    }),
    "dedup_spans" -> ((s, dir) => {
      // substring-level dedup (Lee et al. 2022 re-expressed
      // Spark-first): maximal cross-doc duplicated regions as merged
      // islands of 30-char grams occurring in >1 document
      dupSpans30(s, dir).orderBy(col("doc_id"), col("span_start"))
    }),
    "dedup_span_stats" -> ((s, dir) => {
      Dedup.duplicatedSpanStatsFrom(
        t(s, dir, "documents"), dupSpans30(s, dir))
        .orderBy(col("doc_id"))
    }),
    "dedup_span_scrubbed" -> ((s, dir) => {
      Dedup.removeDuplicatedSpansFrom(
        t(s, dir, "documents"), dupSpans30(s, dir))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: similarity search ----
    "dedup_minhash_recall" -> ((s, dir) =>
      recallGate(s, dir, "dedup_minhash_recall", groundTruthPairs(s, dir),
        mhPairs(s, dir), Seq("id_a", "id_b"), floorBp = 9500)),
    "dedup_simhash_recall" -> ((s, dir) =>
      recallGate(s, dir, "dedup_simhash_recall", groundTruthPairs(s, dir),
        shPairs(s, dir), Seq("id_a", "id_b"), floorBp = 9500)),
    "dedup_embedding_ann_recall" -> ((s, dir) =>
      recallGate(s, dir, "dedup_embedding_ann_recall",
        cosPairs(s, dir), annPairs(s, dir),
        Seq("id_a", "id_b"), floorBp = 9000)),
    "dedup_incremental_near_recall" -> ((s, dir) => {
      // the staged recrawls (corpus docs < 50 re-ingested under
      // id+10000 with a short suffix) are near-dups BY CONSTRUCTION,
      // so the must-drop set needs no sketch math: recall = the share
      // of them the incremental near-dedup actually dropped. The
      // survivor ids are materialized; the oracle recomputes the
      // staged set and the drop count from them directly.
      val all = t(s, dir, "documents")
      val corpus = all.filter(col("doc_id") < 400)
      val batch = all.filter(col("doc_id") >= 400)
        .select(col("doc_id"), col("text"))
        .unionByName(corpus.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" recrawled")).as("text")))
      val dumped = dumpForOracle(s, dir, "dedup_incremental_near_recall",
        Dedup.incrementalNear(batch, corpus).select(col("doc_id")))
      val staged = corpus.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"))
      val recallBp = "CASE WHEN n_exact = 0 THEN CAST(10000 AS BIGINT) " +
        "ELSE (10000 * n_hit) DIV n_exact END"
      staged.agg(count(lit(1)).as("n_exact")).crossJoin(
          staged.join(dumped, Seq("doc_id"), "left_anti")
            .agg(count(lit(1)).as("n_hit")))
        .selectExpr("n_exact", "n_hit", s"$recallBp AS recall_bp",
          s"$recallBp >= 9500 AS meets_floor")
    }),
    "dedup_semantic_recall" -> ((s, dir) => {
      // SemDeDup co-clustering recall vs the brute-force pair set;
      // nCells=4 on the near-orthogonal fixture keeps ~2/3 of true
      // pairs co-clustered (measured across scales by RecallProbe) —
      // a real clustered corpus concentrates near-dups in one cell
      recallGate(s, dir, "dedup_semantic_recall",
        cosPairs(s, dir), semPairs(s, dir),
        Seq("id_a", "id_b"), floorBp = 4000)
    }),
    // ---- sketch error-bound gates ----
    // Same materialize-as-data trick as the recall gates, applied to
    // the estimate-valued sketch queries: the DataSketches estimates
    // land in parquet, DuckDB re-reads them next to its own exact
    // computation, and the oracle asserts the expected within-bound
    // outcome — an estimate drifting past its published error bound
    // becomes a hash mismatch, not a silently-agreeing false.
    "dedup_keep_latest" -> ((s, dir) => {
      // recrawl dedup: latest row per key (here: each user's latest
      // event, ts desc, event_id breaking exact-ts ties)
      Dedup.keepLatest(t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
        keyCol = "user_id", orderCol = "ts", tieBreakCol = "event_id")
        .orderBy(col("user_id"))
    }),
    "dedup_incremental" -> ((s, dir) => {
      // nightly-ingest scenario on the all-unique fixture: the batch
      // is the 100 fresh docs plus 50 recrawls of corpus content
      // under new ids; the survivors must be exactly the fresh 100
      val all = t(s, dir, "documents")
      val corpus = all.filter(col("doc_id") < 400)
      val batch = all.filter(col("doc_id") >= 400).unionByName(
        corpus.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 10000))
      Dedup.incremental(batch, corpus).orderBy(col("doc_id"))
    }),

    "dedup_incremental_near" -> ((s, dir) => {
      // nightly ingest with NEAR-dup recrawls: the corpus content
      // comes back lightly mutated under new ids; MinHash (not
      // SQL-expressible -> no_oracle; pinned by DedupSpec) drops them
      // plus any batch doc near-duplicating the corpus or an
      // earlier batch doc
      val all = t(s, dir, "documents")
      val corpus = all.filter(col("doc_id") < 400)
      val batch = all.filter(col("doc_id") >= 400)
        .select(col("doc_id"), col("text"))
        .unionByName(corpus.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" recrawled")).as("text")))
      Dedup.incrementalNear(batch, corpus).orderBy(col("doc_id"))
    }),

    // ---- north star: benchmark decontamination ----
    "dedup_source_matrix" -> ((s, dir) => {
      // which sources duplicate each other: the scoped ground-truth
      // near-dup pairs attributed to (source, source) cells — the
      // provenance readout a crawl dedup report leads with
      val src = t(s, dir, "documents").select(col("doc_id"),
        col("source"))
      groundTruthPairs(s, dir)
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("sb")), "id_b")
        .groupBy(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("src_a"), col("src_b"))
    }),
    "dedup_snm_clusters" -> ((s, dir) => {
      // the blocking families all feed the same cluster collapse:
      // sorted-neighborhood pairs → bounded-lineage connected
      // components, the composition a recrawl dedup actually runs
      Dedup.clusters(snmPairs(s, dir)).orderBy(col("doc_id"))
    }),
    "dedup_sorted_neighborhood" -> ((s, dir) =>
      snmPairs(s, dir).orderBy(col("id_a"), col("id_b"))),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "dedup_exact" -> """
      SELECT min(doc_id) AS keep_id, count(*) AS dup_count, text
      FROM documents GROUP BY text ORDER BY keep_id""",
    "dedup_paragraphs" -> """
      WITH t AS (SELECT doc_id, list_filter(
               string_split_regex(lower(text), '\s+'), x -> x <> '')
               AS ws FROM documents),
      nb AS (SELECT doc_id, ws, (len(ws) + 19) // 20 AS n_blocks FROM t),
      bl AS (SELECT doc_id, CAST(i AS BIGINT) AS bi,
               array_to_string(ws[CAST(i * 20 + 1 AS INT)
                 : CAST(i * 20 + 20 AS INT)], ' ') AS block
             FROM nb, unnest(range(0, n_blocks)) AS r(i)),
      f AS (SELECT block, doc_id AS fid, bi AS fbi FROM (
              SELECT block, doc_id, bi, row_number() OVER (
                PARTITION BY block ORDER BY doc_id, bi) AS rn
              FROM bl) WHERE rn = 1),
      fl AS (SELECT b.doc_id,
               CASE WHEN b.doc_id = f.fid AND b.bi = f.fbi
                    THEN 0 ELSE 1 END AS is_dup
             FROM bl b JOIN f ON f.block = b.block),
      agg AS (SELECT doc_id, count(*) AS n_blocks,
                CAST(sum(is_dup) AS BIGINT) AS n_dup
              FROM fl GROUP BY 1)
      SELECT d.doc_id,
             CAST(coalesce(a.n_blocks, 0) AS BIGINT) AS n_blocks,
             CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup_blocks,
             CASE WHEN coalesce(a.n_blocks, 0) = 0 THEN 1000000
                  ELSE (1000000 * (a.n_blocks - a.n_dup)) // a.n_blocks
             END AS keep_ppm
      FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
      ORDER BY d.doc_id""",
    "dedup_lsh_design" -> """
      WITH s AS (SELECT CAST(i AS BIGINT) * 100000 AS s_ppm
                 FROM UNNEST(range(1, 10)) AS t(i)),
      a AS (SELECT s_ppm,
              (((((s_ppm * s_ppm) // 1000000) * s_ppm) // 1000000)
                * s_ppm) // 1000000 AS s4
            FROM s),
      b AS (SELECT s_ppm, s4, 1000000 - s4 AS q FROM a),
      c AS (SELECT s_ppm, s4,
              (((((q * q) // 1000000) * q) // 1000000) * q) // 1000000
                AS q4
            FROM b)
      SELECT s_ppm, s4 AS p_band_ppm,
             1000000 - q4 AS p_candidate_ppm
      FROM c ORDER BY s_ppm""",
    "dedup_soft_weights" -> """
      WITH RECURSIVE
      d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
      g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS gr
            FROM d, UNNEST(range(1, length(text) - 1)) AS t(i)),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id),
      pairs AS (SELECT id_a, id_b
                FROM p JOIN n na ON na.doc_id = id_a
                       JOIN n nb ON nb.doc_id = id_b
                WHERE CAST(shared AS DOUBLE)
                      / (na.ng + nb.ng - shared) >= 0.8),
      e AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a AS node, a AS r FROM e
        UNION
        SELECT e.b AS node, reach.r FROM reach JOIN e ON e.a = reach.node),
      cl AS (SELECT node AS doc_id, min(r) AS cluster_id
             FROM reach GROUP BY node),
      keyed AS (SELECT d.doc_id,
                  coalesce(cl.cluster_id, d.doc_id) AS cluster_id
                FROM d LEFT JOIN cl ON cl.doc_id = d.doc_id),
      sz AS (SELECT cluster_id, count(*) AS cluster_size
             FROM keyed GROUP BY 1)
      SELECT k.doc_id, k.cluster_id,
             CAST(s.cluster_size AS BIGINT) AS cluster_size,
             1000000 // s.cluster_size AS weight_ppm
      FROM keyed k JOIN sz s ON s.cluster_id = k.cluster_id
      ORDER BY k.doc_id""",
    "dedup_paragraph_scrubbed" -> """
      WITH t AS (SELECT doc_id, list_filter(
               string_split_regex(lower(text), '\s+'), x -> x <> '')
               AS ws FROM documents),
      nb AS (SELECT doc_id, ws, (len(ws) + 19) // 20 AS n_blocks FROM t),
      bl AS (SELECT doc_id, CAST(i AS BIGINT) AS bi,
               array_to_string(ws[CAST(i * 20 + 1 AS INT)
                 : CAST(i * 20 + 20 AS INT)], ' ') AS block
             FROM nb, unnest(range(0, n_blocks)) AS r(i)),
      f AS (SELECT block, doc_id AS fid, bi AS fbi FROM (
              SELECT block, doc_id, bi, row_number() OVER (
                PARTITION BY block ORDER BY doc_id, bi) AS rn
              FROM bl) WHERE rn = 1),
      mk AS (SELECT b.doc_id, b.bi, b.block,
               (b.doc_id = f.fid AND b.bi = f.fbi) AS keep
             FROM bl b JOIN f ON f.block = b.block)
      SELECT doc_id,
             coalesce(string_agg(CASE WHEN keep THEN block END,
               ' ' ORDER BY bi), '') AS clean_text,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
               AS n_removed
      FROM mk GROUP BY doc_id
      HAVING CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) > 0
      ORDER BY doc_id""",
    "dedup_edit_distance" -> """
      WITH aug AS (SELECT doc_id, text FROM documents
                   UNION ALL
                   SELECT doc_id + 20000, text || ' x' FROM documents
                   WHERE doc_id < 20),
      b AS (SELECT doc_id, text, substr(lower(text), 1, 12) AS blk,
                   len(text) AS ln FROM aug)
      SELECT a.doc_id AS id_a, c.doc_id AS id_b,
             CAST(levenshtein(a.text, c.text) AS BIGINT) AS edits
      FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
        AND abs(a.ln - c.ln) <= 4
      WHERE levenshtein(a.text, c.text) <= 4
      ORDER BY id_a, id_b""",
    "dedup_spans" -> s"""
      WITH $spanCteSql
      SELECT doc_id, span_start, span_end FROM spans
      ORDER BY doc_id, span_start""",
    "dedup_span_stats" -> s"""
      WITH $spanCteSql,
      agg AS (SELECT doc_id, count(*) AS n_spans,
                     sum(span_end - span_start + 1) AS dup_chars
              FROM spans GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
             CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
             CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars,
             CASE WHEN len(d.text) = 0 THEN 0.0
                  ELSE CAST(coalesce(a.dup_chars, 0) AS DOUBLE) /
                       CAST(len(d.text) AS DOUBLE) END AS dup_ratio
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id""",
    "dedup_span_scrubbed" -> s"""
      WITH $spanCteSql,
      keep AS (
        SELECT doc_id, s, e FROM (
          SELECT doc_id,
                 coalesce(lag(span_end) OVER
                   (PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS s,
                 span_start - 1 AS e
          FROM spans) WHERE s <= e
        UNION ALL
        SELECT sp.doc_id, sp.mx + 1 AS s, CAST(len(d.text) AS BIGINT) AS e
        FROM (SELECT doc_id, max(span_end) AS mx FROM spans
              GROUP BY doc_id) sp
        JOIN documents d USING (doc_id) WHERE sp.mx + 1 <= len(d.text)),
      aff AS (SELECT DISTINCT doc_id FROM spans),
      scrub AS (SELECT a.doc_id,
                  coalesce(string_agg(
                    substr(d.text, CAST(k.s AS INT),
                           CAST(k.e - k.s + 1 AS INT)),
                    '' ORDER BY k.s), '') AS clean_text
                FROM aff a JOIN documents d USING (doc_id)
                LEFT JOIN keep k ON k.doc_id = a.doc_id
                GROUP BY a.doc_id)
      SELECT s.doc_id, s.clean_text,
             CAST(len(d.text) - len(s.clean_text) AS BIGINT) AS n_removed
      FROM scrub s JOIN documents d USING (doc_id)
      ORDER BY s.doc_id""",
    "dedup_keep_latest" -> """
      SELECT user_id, ts, event_id, event_type FROM (
        SELECT user_id, ts, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
      ORDER BY user_id""",
    "dedup_ngram_jaccard" -> """
      WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
      g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
            FROM d, UNNEST(range(1, length(text) - 1)) AS t(i)),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id)
      SELECT id_a, id_b, shared, na.ng AS n_a, nb.ng AS n_b
      FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
      WHERE CAST(shared AS DOUBLE) / (na.ng + nb.ng - shared) >= 0.8
      ORDER BY id_a, id_b""",
    "dedup_containment" -> """
      WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
      g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS g
            FROM d, UNNEST(range(1, length(text) - 6)) AS t(i)),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id)
      SELECT id_a, id_b, shared, n_a, n_b, cont_bp FROM (
        SELECT id_a, id_b, shared, na.ng AS n_a, nb.ng AS n_b,
               (10000 * shared) // least(na.ng, nb.ng) AS cont_bp
        FROM p JOIN n na ON na.doc_id = id_a
               JOIN n nb ON nb.doc_id = id_b) t
      WHERE cont_bp >= 9000 ORDER BY id_a, id_b""",
    "dedup_clusters" -> """
      WITH RECURSIVE
      d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
      g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS gr
            FROM d, UNNEST(range(1, length(text) - 1)) AS t(i)),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id),
      pairs AS (SELECT id_a, id_b
                FROM p JOIN n na ON na.doc_id = id_a
                       JOIN n nb ON nb.doc_id = id_b
                WHERE CAST(shared AS DOUBLE) / (na.ng + nb.ng - shared) >= 0.8),
      e AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a AS node, a AS r FROM e
        UNION
        SELECT e.b AS node, reach.r FROM reach JOIN e ON e.a = reach.node)
      SELECT node AS doc_id, min(r) AS cluster_id
      FROM reach GROUP BY node ORDER BY doc_id""",
    "dedup_cluster_reps" -> """
      WITH RECURSIVE
      d AS (SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 500),
      g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS gr
            FROM d, UNNEST(range(1, length(text) - 1)) AS t(i)),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id),
      pairs AS (SELECT id_a, id_b
                FROM p JOIN n na ON na.doc_id = id_a
                       JOIN n nb ON nb.doc_id = id_b
                WHERE CAST(shared AS DOUBLE) / (na.ng + nb.ng - shared) >= 0.8),
      e AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a AS node, a AS r FROM e
        UNION
        SELECT e.b AS node, reach.r FROM reach JOIN e ON e.a = reach.node),
      cl AS (SELECT node AS doc_id, min(r) AS cluster_id
             FROM reach GROUP BY node),
      scored AS (SELECT d.doc_id, d.n_chars, cl.cluster_id
                 FROM d LEFT JOIN cl USING (doc_id)),
      reps AS (SELECT doc_id FROM (
                 SELECT doc_id, row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY n_chars DESC, doc_id) AS rn
                 FROM scored WHERE cluster_id IS NOT NULL)
               WHERE rn = 1)
      SELECT doc_id FROM scored WHERE cluster_id IS NULL
      UNION ALL SELECT doc_id FROM reps
      ORDER BY doc_id""",
    "dedup_filtered" -> """
      WITH RECURSIVE
      d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
      g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS gr
            FROM d, UNNEST(range(1, length(text) - 1)) AS t(i)),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id),
      pairs AS (SELECT id_a, id_b
                FROM p JOIN n na ON na.doc_id = id_a
                       JOIN n nb ON nb.doc_id = id_b
                WHERE CAST(shared AS DOUBLE) / (na.ng + nb.ng - shared) >= 0.8),
      e AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a AS node, a AS r FROM e
        UNION
        SELECT e.b AS node, reach.r FROM reach JOIN e ON e.a = reach.node),
      comp AS (SELECT node, min(r) AS root FROM reach GROUP BY node)
      SELECT doc_id FROM d
      WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> root)
      ORDER BY doc_id""",
    "dedup_embedding" -> s"""
      WITH $qEmbSql,
      d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
            FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2)
      SELECT id_a, id_b,
             CAST(dot AS DOUBLE) / sqrt(CAST(na.norm AS DOUBLE) * CAST(nb.norm AS DOUBLE)) AS cosine
      FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
      WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.norm AS DOUBLE) * CAST(nb.norm AS DOUBLE)) >= 0.45
      ORDER BY id_a, id_b""",
    "dedup_minhash_recall" -> s"""
      WITH $gtPairsCteSql,
      ${recallTailSql("dedup_minhash_recall", "id_a, id_b")}""",
    "dedup_simhash_recall" -> s"""
      WITH $gtPairsCteSql,
      ${recallTailSql("dedup_simhash_recall", "id_a, id_b")}""",
    "dedup_embedding_ann_recall" -> s"""
      WITH $qEmbSql,
      d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
            FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2),
      exact AS (SELECT id_a, id_b
                FROM d JOIN n na ON na.vec_id = id_a
                       JOIN n nb ON nb.vec_id = id_b
                WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.norm AS DOUBLE) * CAST(nb.norm AS DOUBLE)) >= 0.45),
      ${recallTailSql("dedup_embedding_ann_recall", "id_a, id_b")}""",
    "dedup_incremental_near_recall" -> s"""
      WITH surv AS (SELECT doc_id
                    FROM read_parquet('$RecallDirToken/dedup_incremental_near_recall/*.parquet')),
      staged AS (SELECT doc_id + 10000 AS doc_id FROM documents
                 WHERE doc_id < 50),
      cnt AS (SELECT count(*) AS n_exact FROM staged),
      hit AS (SELECT count(*) AS n_hit FROM staged st
              WHERE NOT EXISTS (SELECT 1 FROM surv sv
                                WHERE sv.doc_id = st.doc_id))
      SELECT n_exact, n_hit,
             CASE WHEN n_exact = 0 THEN CAST(10000 AS BIGINT)
                  ELSE (10000 * n_hit) // n_exact END AS recall_bp,
             TRUE AS meets_floor
      FROM cnt, hit""",
    "dedup_semantic_recall" -> s"""
      WITH $qEmbSql,
      d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
            FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2),
      exact AS (SELECT id_a, id_b
                FROM d JOIN n na ON na.vec_id = id_a
                       JOIN n nb ON nb.vec_id = id_b
                WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.norm AS DOUBLE) * CAST(nb.norm AS DOUBLE)) >= 0.45),
      ${recallTailSql("dedup_semantic_recall", "id_a, id_b")}""",
    // within_bound is the literal expected TRUE on the oracle side —
    // see recallTailSql's rationale: both-sides-computed booleans
    // would agree on a violation and stay green; the assertion makes
    // a bound breach a visible hash mismatch.
    "dedup_incremental" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")},
      f AS (SELECT doc_id, s.hash AS fp
            FROM documents JOIN sdbm s ON s.sid = doc_id
            WHERE text IS NOT NULL),
      batch AS (SELECT doc_id, fp FROM f WHERE doc_id >= 400
                UNION ALL
                SELECT doc_id + 10000, fp FROM f WHERE doc_id < 50)
      SELECT min(doc_id) AS doc_id, fp
      FROM batch
      WHERE fp NOT IN (SELECT fp FROM f WHERE doc_id < 400)
      GROUP BY fp ORDER BY doc_id""",
    "dedup_jaccard_allpairs" -> """
      WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
      g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
            FROM d, UNNEST(range(1, length(text) - 1)) AS t(i)),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id)
      SELECT id_a, id_b, shared, na.ng AS n_a, nb.ng AS n_b
      FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
      WHERE CAST(shared AS DOUBLE) / (na.ng + nb.ng - shared) >= 0.8
      ORDER BY id_a, id_b""",
    "dedup_winnow_pairs" -> s"""
      WITH $winnowCteSql,
      fpd AS (SELECT DISTINCT doc_id, gram FROM fp),
      rare AS (SELECT gram FROM fpd GROUP BY gram
               HAVING count(*) <= 20),
      k AS (SELECT fpd.doc_id, fpd.gram FROM fpd JOIN rare USING (gram))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM k a JOIN k b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 8
      ORDER BY id_a, id_b""",
    "dedup_source_matrix" -> s"""
      WITH $gtPairsCteSql,
      src AS (SELECT doc_id, source FROM documents)
      SELECT least(sa.source, sb.source) AS src_a,
             greatest(sa.source, sb.source) AS src_b,
             count(*) AS n_pairs
      FROM exact JOIN src sa ON sa.doc_id = exact.id_a
                 JOIN src sb ON sb.doc_id = exact.id_b
      GROUP BY 1, 2 ORDER BY src_a, src_b""",
    "dedup_snm_clusters" -> """
      WITH RECURSIVE
      r AS (SELECT doc_id, source, text,
              row_number() OVER (PARTITION BY source
                ORDER BY text, doc_id) AS rk
            FROM documents),
      c AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
              greatest(a.doc_id, b.doc_id) AS id_b
            FROM r a JOIN r b ON a.source = b.source
              AND b.rk > a.rk AND b.rk <= a.rk + 5),
      g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS gr
            FROM documents, UNNEST(range(1, length(text) - 1)) AS t(i)),
      n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
      sh AS (SELECT c.id_a, c.id_b, count(*) AS shared
             FROM c JOIN g ga ON ga.doc_id = c.id_a
                    JOIN g gb ON gb.doc_id = c.id_b AND gb.gr = ga.gr
             GROUP BY 1, 2),
      pairs AS (SELECT id_a, id_b FROM sh
                JOIN n na ON na.doc_id = id_a
                JOIN n nb ON nb.doc_id = id_b
                WHERE (10000 * shared) // (na.ng + nb.ng - shared)
                  >= 8000),
      e AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a AS node, a AS lbl FROM e
        UNION
        SELECT e.b AS node, reach.lbl FROM reach JOIN e ON e.a = reach.node)
      SELECT node AS doc_id, min(lbl) AS cluster_id
      FROM reach GROUP BY node ORDER BY doc_id""",
    "dedup_sorted_neighborhood" -> """
      WITH r AS (SELECT doc_id, source, text,
               row_number() OVER (PARTITION BY source
                 ORDER BY text, doc_id) AS rk
             FROM documents),
      c AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
              greatest(a.doc_id, b.doc_id) AS id_b
            FROM r a JOIN r b ON a.source = b.source
              AND b.rk > a.rk AND b.rk <= a.rk + 5),
      g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
            FROM documents, UNNEST(range(1, length(text) - 1)) AS t(i)),
      n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
      sh AS (SELECT c.id_a, c.id_b, count(*) AS shared
             FROM c JOIN g ga ON ga.doc_id = c.id_a
                    JOIN g gb ON gb.doc_id = c.id_b AND gb.g = ga.g
             GROUP BY 1, 2)
      SELECT id_a, id_b, shared, n_a, n_b, jac_bp FROM (
        SELECT id_a, id_b, shared, na.ng AS n_a, nb.ng AS n_b,
               (10000 * shared) // (na.ng + nb.ng - shared) AS jac_bp
        FROM sh JOIN n na ON na.doc_id = id_a
                JOIN n nb ON nb.doc_id = id_b) q
      WHERE jac_bp >= 8000 ORDER BY id_a, id_b""",
  )
}
