package graft
package registry

import graft.operators._
import graft.SparkEntry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegText {

  /** The corpus-LM score frame (doc_id, n_bigrams, mean_bp), built
    * once per (session, sfDir) and shared by text_lm_score and
    * text_lm_buckets via the cross-query memo — the explode-heavy
    * three-pass pipeline runs exactly once per suite. Spread across
    * cores like text_bigrams so the explode parallelizes.
    */
  private def lmScored(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "lm_score") {
      TextStats.lmScore(Tables.spread(
        t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id"))
    }

  /** The 8-round BPE-trained word table (w, seq, cnt), built once per
    * (session, sfDir) and shared by text_bpe_train and
    * text_bpe_encode via the cross-query memo — the iterative train
    * runs exactly once per suite.
    */
  private def bpeFinal8(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "bpe_final8") {
      TextStats.bpeFinal(t(s, dir, "documents"), rounds = 8)
    }

  /** The standardized per-doc LR feature frame, built once per
    * (session, sfDir) and shared by text_quality_lr_score and
    * text_quality_lr_calibration via the cross-query memo.
    */
  private def lrStdFrame(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "lr_std") {
      TextStats.lrQualityStd(t(s, dir, "documents"))
    }

  /** THE round count for the registered LR queries — the Spark
    * filter and every hardcoded 12 in the DuckDB twins derive from
    * this one constant (r16 self-review: a drifting default would
    * otherwise silently empty the score/calibration/agreement
    * frames).
    */
  private val LrRounds = 12

  /** The [[LrRounds]]-round GD weight trajectory (lrNum = 20), built
    * once per (session, sfDir) FROM THE MEMOIZED STD FRAME — train
    * and score share one corpus-scale feature materialization; the
    * train query returns the trajectory whole, the score and
    * calibration queries take the final round's row.
    */
  private def lrTraj(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "lr_traj") {
      TextStats.lrQualityTrainFromStd(lrStdFrame(s, dir),
        rounds = LrRounds)
    }

  /** Per-doc scores under the final-round weights (shared frame). */
  private def lrScored(s: SparkSession, dir: String): DataFrame =
    TextStats.lrQualityScoreFromWeights(lrStdFrame(s, dir),
      lrTraj(s, dir).filter(col("r") === LrRounds.toLong))

  /** Shared DuckDB CTE chain for the LR-distillation oracle twins:
    * features → exact moments → standardize → bucketize-collapse →
    * the 12-round GD recursion (aggregation over the recursive
    * reference — DuckDB supports it; the sdbm/LPT recursions are the
    * precedents). HUGEINT casts mirror the Spark side's
    * DECIMAL(38,0) gradient limbs; every division is `//` on
    * integers, which truncates toward zero exactly like Spark `div`
    * (Layout.scala:232 precedent).
    */
  private lazy val lrCtes: String = {
    val stop10 = TextStats.LrStopwords.map(w => s"'$w'").mkString(", ")
    val qcbp = Seq("the", "and", "of", "to").map(hitsSql).mkString(" + ")
    s"""
      lr_tokd AS (
        SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
               list_filter(string_split_regex(lower(text), '\\s+'),
                 w -> w <> '') AS ws
        FROM documents),
      lr_rawf AS (
        SELECT doc_id,
               CAST(CASE WHEN (1000000 * ($qcbp)
                   - 10000 * length(regexp_replace(text,
                       '[a-zA-Z0-9\\s]', '', 'g')))
                   // greatest(length(text), 1)
                   >= ${TextStats.LrLabelThresholdCbp}
                 THEN 1 ELSE 0 END AS BIGINT) AS y,
               (10000 * CAST(len(list_filter(ws,
                   w -> list_contains([$stop10], w))) AS BIGINT))
                 // len(ws) AS x1,
               (10000 * CAST(len(list_distinct(ws)) AS BIGINT))
                 // len(ws) AS x2,
               least((100 * CAST(length(regexp_replace(text, '\\s', '',
                   'g')) AS BIGINT)) // len(ws), 2000) AS x3
        FROM lr_tokd WHERE len(ws) > 0),
      lr_mu AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) // count(*) AS m1,
               CAST(sum(x2) AS BIGINT) // count(*) AS m2,
               CAST(sum(x3) AS BIGINT) // count(*) AS m3
        FROM lr_rawf),
      lr_sg AS (
        SELECT n, m1, m2, m3,
               greatest(CAST(floor(sqrt(CAST(sum((x1 - m1) * (x1 - m1))
                 // n AS DOUBLE))) AS BIGINT), 1) AS s1,
               greatest(CAST(floor(sqrt(CAST(sum((x2 - m2) * (x2 - m2))
                 // n AS DOUBLE))) AS BIGINT), 1) AS s2,
               greatest(CAST(floor(sqrt(CAST(sum((x3 - m3) * (x3 - m3))
                 // n AS DOUBLE))) AS BIGINT), 1) AS s3
        FROM lr_rawf, lr_mu GROUP BY n, m1, m2, m3),
      lr_std AS (
        SELECT doc_id, y, CAST(10000 AS BIGINT) AS x0,
               (10000 * (x1 - m1)) // s1 AS x1,
               (10000 * (x2 - m2)) // s2 AS x2,
               (10000 * (x3 - m3)) // s3 AS x3
        FROM lr_rawf, lr_sg),
      lr_feat AS (
        SELECT x0,
               ((x1 - (((x1 % 2500) + 2500) % 2500)) // 2500) * 2500
                 + 1250 AS x1,
               ((x2 - (((x2 % 2500) + 2500) % 2500)) // 2500) * 2500
                 + 1250 AS x2,
               ((x3 - (((x3 % 2500) + 2500) % 2500)) // 2500) * 2500
                 + 1250 AS x3,
               y, CAST(count(*) AS BIGINT) AS cnt
        FROM lr_std GROUP BY 1, 2, 3, 4, 5),
      lr_w AS (
        SELECT CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS w0,
               CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
               CAST(0 AS BIGINT) AS w3
        UNION ALL
        SELECT CAST(r + 1 AS BIGINT),
               CAST(w0 - (20 * g0) // ((r + 1) * n * 10000) AS BIGINT),
               CAST(w1 - (20 * g1) // ((r + 1) * n * 10000) AS BIGINT),
               CAST(w2 - (20 * g2) // ((r + 1) * n * 10000) AS BIGINT),
               CAST(w3 - (20 * g3) // ((r + 1) * n * 10000) AS BIGINT)
        FROM (
          SELECT sc.r, sc.w0, sc.w1, sc.w2, sc.w3,
                 sum(CAST(sc.cnt * (sc.pr - sc.y * 10000) AS HUGEINT)
                   * sc.x0) AS g0,
                 sum(CAST(sc.cnt * (sc.pr - sc.y * 10000) AS HUGEINT)
                   * sc.x1) AS g1,
                 sum(CAST(sc.cnt * (sc.pr - sc.y * 10000) AS HUGEINT)
                   * sc.x2) AS g2,
                 sum(CAST(sc.cnt * (sc.pr - sc.y * 10000) AS HUGEINT)
                   * sc.x3) AS g3,
                 CAST(sum(sc.cnt) AS HUGEINT) AS n
          FROM (
            SELECT w.r, w.w0, w.w1, w.w2, w.w3, f.*,
                   5000 + (10000 * z) // (2 * (10000 + abs(z))) AS pr
            FROM lr_w w, lr_feat f,
              LATERAL (SELECT (w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2
                + w.w3 * f.x3) // 10000 AS z) zz
          ) sc
          GROUP BY 1, 2, 3, 4, 5
        ) WHERE r < $LrRounds)"""
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_pmi" -> ((s, dir) => {
      // collocation mining: pointwise-mutual-information association
      // for adjacent token pairs, as the EXACT integer lift ratio
      // n_ab·N·10⁶ div (n_a·n_b) (monotone in PMI — the log is
      // presentation, the ratio is the statistic; integer division
      // keeps both engines bit-identical). Marginals are counted over
      // bigram SLOTS (first-position / second-position occurrences),
      // the standard bigram-PMI denominators. Three hash aggregations
      // over one exploded pass + two vocabulary-keyed equi-joins;
      // the single-row N attaches via a bounded 1-row broadcast.
      val bg = Tables.spread(
          t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
        .select(explode(graft.functions.word_shingles(
          Dedup.tokens(col("text")), 2)).as("pair"))
        .select(col("pair"),
          substring_index(col("pair"), " ", 1).as("w1"),
          substring_index(col("pair"), " ", -1).as("w2"))
      // r19 optimization: ALL marginals derive from the pair census
      // itself (n_a = Σ_b n_ab, n_b = Σ_a n_ab, N = Σ n_ab), so the
      // corpus-wide explode runs ONCE and the census — vocab²-bounded,
      // tiny next to the token stream — is pinned and re-aggregated
      // for the marginals (two-level aggregation, guide §2.3). The
      // prior shape re-ran scan+explode per marginal (8 scans in the
      // baseline plan dump); A/B'd in one JVM, interleaved reps:
      // 1.16-1.53 s -> 0.94-0.98 s warm.
      val pairCounts = Scratch.pin("bigram pair census",
        bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab")))
      val firstCounts = pairCounts.groupBy(col("w1"))
        .agg(sum(col("n_ab")).as("n_a"))
      val secondCounts = pairCounts.groupBy(col("w2"))
        .agg(sum(col("n_ab")).as("n_b"))
      val total = pairCounts.agg(sum(col("n_ab")).as("n_total"))
      pairCounts.filter(col("n_ab") >= 3)
        .join(firstCounts, "w1")
        .join(secondCounts, "w2")
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
          expr("(n_ab * n_total * 1000000) div (n_a * n_b)")
            .as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("w1"), col("w2"))
        .limit(50)
    }),
    "text_token_drift" -> ((s, dir) => {
      // distribution drift between the two doc_id-parity halves of
      // the corpus: per-token ppm rates under each half, the exact
      // total-variation semi-distance, and the top-20 movers — the
      // did-the-crawl-shift detector. One tokenize pass -> one token
      // hash agg -> two bounded 1-row broadcasts -> TakeOrdered 20;
      // at 100 TB the only wide op is the token-keyed aggregate.
      val tk = Tables.spread(
          t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
        .select(pmod(col("doc_id"), lit(2L)).as("h"),
          explode(Dedup.tokens(col("text"))).as("w"))
      val counts = tk.groupBy(col("w")).agg(
        sum(when(col("h") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("h") === 1L, 1L).otherwise(0L)).as("c1"))
      val tot = counts.agg(
        greatest(sum(col("c0")), lit(1L)).as("n0"),
        greatest(sum(col("c1")), lit(1L)).as("n1"))
      val ppm = counts.crossJoin(broadcast(tot))
        .select(col("w"), col("c0"), col("c1"),
          graft.functions.idiv(lit(1000000L) * col("c0"), col("n0"))
            .as("p0_ppm"),
          graft.functions.idiv(lit(1000000L) * col("c1"), col("n1"))
            .as("p1_ppm"))
        .withColumn("dppm", abs(col("p0_ppm") - col("p1_ppm")))
      val tv = ppm.agg(
        graft.functions.idiv(sum(col("dppm")), lit(2L)).as("tv_semi_ppm"))
      ppm.crossJoin(broadcast(tv))
        .orderBy(col("dppm").desc, col("w"))
        .limit(20)
    }),
    "text_winnow_fp" -> ((s, dir) => {
      TextStats.winnowFingerprints(t(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .orderBy(col("doc_id"), col("pos"), col("gram"))
    }),
    "text_compression_bounds" -> ((s, dir) => {
      // the deflate kernel's output scored against what any correct
      // DEFLATE of text must satisfy: positive, never past the
      // worst-case envelope (stored-block overhead ≤ 64 bytes at
      // fixture sizes), and a corpus mean ratio in the natural-prose
      // band (observed 0.478; bounds 0.20-0.80) — the oracle computes
      // byte totals from the table itself and asserts the expected
      // outcome booleans
      val docs = t(s, dir, "documents")
      val dumped = dumpForOracle(s, dir, "text_compression_bounds",
        TextStats.compressionSignal(docs)
          .select(col("doc_id"), col("deflate_len")))
      val exact = docs.select(col("doc_id"),
        octet_length(coalesce(col("text"), lit(""))).cast("long")
          .as("n_bytes"))
      dumped.join(exact, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bytes")).as("bytes_total"),
          sum(col("deflate_len")).as("deflate_total"),
          sum(when(col("n_bytes") === 0L ||
              (col("deflate_len") > 0L &&
                col("deflate_len") <= col("n_bytes") + 64L), 0L)
            .otherwise(1L)).as("n_bad"))
        .selectExpr("n_docs", "bytes_total", "deflate_total",
          "(10000 * deflate_total) DIV bytes_total AS mean_ratio_bp",
          "n_bad = 0 AS all_within_worstcase",
          "(10000 * deflate_total) DIV bytes_total " +
            "BETWEEN 2000 AND 8000 AS ratio_plausible")
    }),
    "text_token_stats" -> ((s, dir) => {
      TextStats.tokenStats(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "text_quality" -> ((s, dir) => {
      TextStats.qualityScore(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "text_quality_lr_train" -> ((s, dir) => {
      // CCNet-style quality-classifier distillation, trained
      // IN-ENGINE: exact integer batch gradient descent (fast-sigmoid
      // link, lrNum/r harmonic decay) against the heuristic
      // qualityCbp label. The corpus collapses to the bucketized
      // standardized feature table ONCE (the BPE word-table move);
      // every round after that is one hash aggregate over a
      // cardinality-bounded frame + a 1-row broadcast step. Output =
      // the full weight trajectory, bit-identical to the DuckDB
      // recursive-CTE twin.
      lrTraj(s, dir).orderBy(col("r"))
    }),
    "text_quality_lr_score" -> ((s, dir) => {
      // apply the trained final-round weights per doc: margin,
      // fast-sigmoid score, hard prediction, label — the student
      // filter a 100 TB pipeline would actually run (one broadcast
      // of the weight row over a codegen'd projection)
      lrScored(s, dir).orderBy(col("doc_id"))
    }),
    "text_quality_lr_calibration" -> ((s, dir) => {
      // reliability diagram of the distilled classifier: decile bins
      // of predicted p vs empirical positive rate, exact integer —
      // the is-the-score-usable-as-a-probability audit
      TextStats.lrQualityCalibration(lrScored(s, dir))
    }),
    "text_quality_lr_agreement" -> ((s, dir) => {
      // teacher/student confusion matrix + Cohen's kappa in exact bp
      // — did the distillation transfer beyond the chance floor?
      TextStats.lrQualityAgreement(lrScored(s, dir))
    }),
    "text_lexical_richness" -> ((s, dir) => {
      // type-token ratio + hapax profile: the template-spam /
      // gibberish detector of the quality family
      TextStats.lexicalRichness(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
    "text_langid" -> ((s, dir) => {
      TextStats.langId(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "text_fingerprint" -> ((s, dir) => {
      TextStats.fingerprint(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "text_repetition" -> ((s, dir) => {
      TextStats.repetition(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    "text_chunks" -> ((s, dir) => {
      TextStats.chunk(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),
    "text_chunks_tokens" -> ((s, dir) => {
      TextStats.chunkTokens(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),
    "text_diversity" -> ((s, dir) => {
      TextStats.charDiversity(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
    "text_vocab" -> ((s, dir) => {
      // corpus-level token frequency table (tokenizer-training prep):
      // the Profile heavy-hitter op composed over exploded tokens
      Profile.heavyHitters(
        t(s, dir, "documents").select(
          explode(split(lower(col("text")), " ")).as("w"))
          .filter(col("w") =!= ""),
        "w", k = 100)
        .orderBy(col("n_rows").desc, col("value"))
    }),
    "text_compression" -> ((s, dir) => {
      // deflate is not SQL-expressible -> no_oracle; the kernel and
      // signal ordering are pinned by TextStatsSpec + a PlanSpec
      // codegen assert
      TextStats.compressionSignal(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
    "text_bigrams" -> ((s, dir) => {
      // corpus-level adjacent-token-pair counts — the frequency table
      // a BPE-style tokenizer trainer consults each merge step (the
      // top row IS the next merge). The codegen'd shingle kernel (not
      // the interpreted HOF form), spread across cores before the
      // explode.
      Tables.spread(
          t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
        .select(explode(graft.functions.word_shingles(
          Dedup.tokens(col("text")), 2)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(100)
    }),
    "text_lm_score" -> ((s, dir) => {
      // corpus-as-its-own-language-model fluency scoring
      // (TextStats.lmScore): mean bigram conditional probability in
      // integer basis points — built once per suite via the shared
      // memoized frame (text_lm_buckets reads the same scores)
      lmScored(s, dir).orderBy(col("doc_id"))
    }),
    "text_postings" -> ((s, dir) => {
      // inverted index (IR/retrieval prep): term -> df + sorted
      // posting list
      TextStats.invertedIndex(t(s, dir, "documents"))
        .orderBy(col("term"))
    }),
    "text_search" -> ((s, dir) => {
      // integer-scored tf·idf top-k over the index's token domain;
      // already totally ordered (score desc, doc_id) inside the op
      TextStats.searchTopK(t(s, dir, "documents"),
        Seq("spark", "window", "merge"), k = 10)
    }),
    "text_bm25" -> ((s, dir) => {
      // Okapi BM25 (k1=1.2, b=0.75 as exact rationals) — the length-
      // normalized ranking twin of text_search; integer-exact scores,
      // totally ordered inside the op
      TextStats.bm25TopK(t(s, dir, "documents"),
        Seq("spark", "window", "merge"), k = 10)
    }),
    "text_chisq" -> ((s, dir) => {
      // χ² term–class feature selection over the 20 source classes:
      // top-3 most class-associated terms each, micro-exact scores
      TextStats.chiSquareTerms(t(s, dir, "documents"), "source",
        k = 3, minDf = 3)
        .orderBy(col("cls"), col("rank"))
    }),
    "text_prf_search" -> ((s, dir) => {
      // RM3-lite pseudo-relevance feedback: BM25 → top-5 feedback
      // docs → 3 expansion terms by tf_fb·idf → expanded BM25;
      // fully declarative, nothing collected
      Retrieval.prfSearch(t(s, dir, "documents"),
        Seq("spark", "window", "merge"), k = 10)
    }),
    "text_keywords" -> ((s, dir) => {
      TextStats.tfidfKeywords(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("rank"))
    }),
    "text_html_clean" -> ((s, dir) => {
      // boilerplate strip over the staged web-page wrapper: tags,
      // comment and script body vanish, entities decode exactly once,
      // whitespace collapses — pure codegen'd projection
      val staged = concat(lit(htmlWrapPrefix),
        coalesce(col("text"), lit("")), lit(htmlWrapSuffix))
      t(s, dir, "documents")
        .select(col("doc_id"), Scrub.htmlCleanCol(staged).as("clean_text"))
        .orderBy(col("doc_id"))
    }),
    "text_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("""\w+|[^\w\s]"""), lit(0)))
          .cast("long").as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- stateful streaming (flatMapGroupsWithState) ----
    "text_normalize" -> ((s, dir) => {
      // Unicode hygiene: append decomposed (e+U+0301, o+U+0308) and
      // composed (é ø ñ ü ç) forms to the fixture text, then NFC-
      // canonicalize and accent-fold — the same word in different
      // composition forms must converge before fingerprints/vocab
      // coalesce: Spark concat null-propagates while DuckDB concat
      // skips NULLs — without it a NULL text row would hash-diverge
      val dirty = concat(coalesce(col("text"), lit("")),
        lit(" café Nöel éøñüç"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.nfc_normalize(dirty).as("nfc_text"),
          graft.functions.strip_accents(dirty).as("plain_text"))
        .orderBy(col("doc_id"))
    }),

    "text_zipf" -> ((s, dir) => {
      // corpus vocabulary-shape summary: token count, vocabulary
      // size, hapax/dis legomena, max frequency, type-token ratio —
      // the Zipf/Heaps diagnostics a curation pass reads before
      // choosing dedup and quality thresholds. One exploded hash
      // aggregation to the vocabulary, one scalar rollup.
      val vc = t(s, dir, "documents")
        .select(explode(Dedup.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      vc.agg(sum(col("f")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(when(col("f") === 2, 1L).otherwise(0L)).as("dis"),
          max(col("f")).as("f_max"))
        .withColumn("ttr_micro", expr("(1000000 * vocab) div n_tokens"))
        .withColumn("hapax_vocab_micro",
          expr("(1000000 * hapax) div vocab"))
    }),
    "text_zipf_slope" -> ((s, dir) =>
      // the fitted Zipf exponent in exact milli units: integer least
      // squares over (log2 rank, log2 freq) bucket points, cumulative
      // ranks via a bounded sequence-explode (TextStats.zipfSlope).
      // Spread like text_bigrams so the 3-gram explode parallelizes.
      TextStats.zipfSlope(Tables.spread(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id"))),
    "text_zipf_by_source" -> ((s, dir) => {
      // per-source vocabulary shape — the text_zipf rollup grouped by
      // source, the side-by-side source-quality comparison (a source
      // with collapsed TTR is template spam before any dedup runs)
      val vc = t(s, dir, "documents")
        .select(col("source"), explode(Dedup.tokens(col("text")))
          .as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
      vc.groupBy(col("source"))
        .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"),
          max(col("f")).as("f_max"))
        .withColumn("ttr_micro", expr("(1000000 * vocab) div n_tokens"))
        .orderBy(col("source"))
    }),
    "text_mmr_rerank" -> ((s, dir) => {
      // diversity re-rank of a 10-doc candidate pool (longest src0
      // docs, rel = n_chars as the stand-in upstream score); the
      // oracle replays the identical greedy rounds
      val pool = t(s, dir, "documents")
        .filter(col("source") === "src0")
        .orderBy(col("n_chars").desc, col("doc_id")).limit(10)
        .select(col("doc_id").as("id"), col("n_chars").as("rel"),
          col("text"))
      Retrieval.mmrRerank(pool, k = 5, lambdaBp = 5000L)
        .orderBy(col("rank"))
    }),
    "text_code_score" -> ((s, dir) =>
      TextStats.codeScore(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "text_boilerplate" -> ((s, dir) =>
      // the synthetic fixture has NO cross-doc repeated sentences, so
      // this report is legitimately empty here (oracle agrees on the
      // empty set + schema); TextStatsSpec plants real boilerplate
      // and pins the non-empty behavior
      TextStats.boilerplateSentences(t(s, dir, "documents"),
        minDocs = 3L, k = 20)),
    "text_langid_confusion" -> ((s, dir) =>
      // label × prediction confusion matrix over the n-gram langid —
      // the evaluation readout of the heuristic classifier
      TextStats.langId(t(s, dir, "documents"))
        .groupBy(col("lang_label"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang_label"), col("pred_lang"))),
    "text_feature_hashing" -> ((s, dir) =>
      // hashing-trick featurizer audit: 64-bucket bag-of-words,
      // per-doc nnz + exact ||v||^2 (collision saturation signal)
      TextStats.featureHashing(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "text_vocab_drift" -> ((s, dir) =>
      // snapshot drift monitor: token TV-distance between the two
      // scrambled-bucket corpus halves, ppm-exact
      TextStats.vocabDrift(t(s, dir, "documents"))),
    "text_source_classifier" -> ((s, dir) =>
      // nearest-centroid provenance classifier as a label-leakage
      // probe: per-source token-ppm profiles learned on the bucket<80
      // train split, held-out docs scored integer-exactly. On this
      // fixture text carries no source signal, so the confusion
      // census reads ≈ chance — the desired NEGATIVE result (source
      // labels not recoverable from content); TextStatsSpec pins the
      // positive case on separable vocabularies
      TextStats.sourceClassifier(t(s, dir, "documents"))
        .orderBy(col("source"), col("predicted"))),
    "text_readability" -> ((s, dir) =>
      TextStats.readability(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "text_novelty" -> ((s, dir) => {
      // per-document novelty against everything EARLIER in the corpus
      // (doc_id order): share of the doc's distinct word 3-grams whose
      // first corpus occurrence is this doc — the dataset-growth
      // freshness curve (novelty collapsing toward 0 says new data is
      // re-crawl). Gram-keyed min aggregation + one gram-keyed join
      // back; both shuffles key on the gram, never all-pairs.
      val g = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.word_shingles(
            Dedup.tokens(col("text")), 3)).as("g"))
        .distinct()
      val first = g.groupBy(col("g")).agg(min(col("doc_id")).as("fd"))
      g.join(first, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_micro",
          expr("(1000000 * n_novel) div n_grams"))
        .orderBy(col("doc_id"))
    }),
    "text_textrank" -> ((s, dir) => {
      // TextRank keywords (Mihalcea & Tarau 2004): unweighted
      // co-occurrence graph of adjacent content tokens (length ≥ 4,
      // pair seen ≥ 2 times, both directions), ranked with the
      // exact-integer pageRank machinery; the oracle unrolls the
      // identical 3 iterations over the same derived edge set. The
      // graph is vocabulary-bounded however large the corpus; the
      // bigram pass is one exploded projection + hash aggregation.
      val bg = t(s, dir, "documents")
        .select(explode(graft.functions.word_shingles(
          Dedup.tokens(col("text")), 2)).as("pair"))
        .select(substring_index(col("pair"), " ", 1).as("w1"),
          substring_index(col("pair"), " ", -1).as("w2"))
        .filter(length(col("w1")) >= 4 && length(col("w2")) >= 4 &&
          col("w1") =!= col("w2"))
      val e0 = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
        .select(col("w1"), col("w2"))
      val e = e0.select(col("w1").as("src"), col("w2").as("dst"))
        .union(e0.select(col("w2").as("src"), col("w1").as("dst")))
        .distinct()
      Graph.pageRank(e, iters = 3)
        .orderBy(col("rank_micro").desc, col("node"))
        .limit(30)
        .select(col("node").as("token"), col("rank_micro"))
    }),
    "text_bpe_merges" -> ((s, dir) =>
      // BPE merge training on the word-frequency table — 3 learned
      // merges, vocabulary-bounded per round (TextStats.bpeMerges)
      TextStats.bpeMerges(t(s, dir, "documents"), rounds = 3)),
    "text_bpe_train" -> ((s, dir) =>
      // full BPE vocabulary training: 8 merge rounds, then the final
      // symbol census — the learned vocab a tokenizer ships alongside
      // the merges list. Shared memoized word table: the 8-round
      // train runs once per suite for train + encode.
      TextStats.bpeTrainFromFinal(bpeFinal8(s, dir))),
    "text_bpe_encode" -> ((s, dir) =>
      // the ENCODE step over the same trained table: per-doc BPE
      // token counts + fertility (TextStats.bpeEncodeFromFinal)
      TextStats.bpeEncodeFromFinal(t(s, dir, "documents"),
        bpeFinal8(s, dir)).orderBy(col("doc_id"))),
    "text_bpe_encode_oov" -> ((s, dir) =>
      // OOV-safe encode across a train/serve corpus split: the vocab
      // is trained on the EVEN-doc_id half of the UNMODIFIED corpus;
      // the serve side then encodes every doc with a doc_id-derived
      // token appended (deterministic fixture injection, the scrub-
      // query idiom — the fixture's 31-token vocabulary alone appears
      // in both halves, so without injection no word is ever OOV) and
      // flows through the left join with the per-character fallback
      // (TextStats.bpeEncodeOovSafe) — the train-once-encode-forever
      // shape with vocabulary drift visible as n_oov
      TextStats.bpeEncodeOovSafe(
        t(s, dir, "documents").withColumn("text",
          concat(col("text"), lit(" tok"), col("doc_id"))),
        memoFrame(s, dir, "bpe_final8_even") {
          TextStats.bpeFinal(t(s, dir, "documents")
            .filter(pmod(col("doc_id"), lit(2L)) === 0), rounds = 8)
        }).orderBy(col("doc_id"))),
    "text_source_overlap" -> ((s, dir) => {
      // cross-source contamination matrix: 8-gram-set Jaccard between
      // every source pair — gram-keyed equi-join, never all-pairs of
      // documents; the source×source output is mix-bounded
      // NOT pinned, deliberately (r19 A/B'd it): checkpointing the
      // distinct gram frame showed no win beyond host noise — the
      // self-join's identical legs already reuse one exchange, and
      // the census is cheap next to the materialization barrier.
      val g = t(s, dir, "documents")
        .select(col("source"), explode(graft.functions.word_shingles(
          Dedup.tokens(col("text")), 8)).as("g"))
        .distinct()
      val sz = g.groupBy(col("source")).agg(count(lit(1)).as("ng"))
      g.as("a").join(g.as("b"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sz.select(col("source").as("source_a"),
          col("ng").as("na")), "source_a")
        .join(sz.select(col("source").as("source_b"),
          col("ng").as("nb")), "source_b")
        .select(col("source_a"), col("source_b"), col("inter"),
          col("na"), col("nb"),
          expr("(10000 * inter) div (na + nb - inter)").as("jaccard_bp"))
        .orderBy(col("source_a"), col("source_b"))
    }),
    "text_length_quartiles" -> ((s, dir) => {
      // per-source document-length quartiles as exact order
      // statistics at the (source, length) grain — the corpus-mix
      // profile; windows partition by source, never global
      val cc = t(s, dir, "documents")
        .groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("m"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val wall = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      cc.withColumn("cum", sum(col("m")).over(w))
        .withColumn("n", sum(col("m")).over(wall))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n_docs"),
          min(when(col("cum") * 4 >= col("n"), col("n_chars")))
            .as("p25_chars"),
          min(when(col("cum") * 4 >= col("n") * 2, col("n_chars")))
            .as("p50_chars"),
          min(when(col("cum") * 4 >= col("n") * 3, col("n_chars")))
            .as("p75_chars"))
        .orderBy(col("source"))
    }),
    "text_gopher_rules" -> ((s, dir) =>
      // Gopher rule-based hygiene census per source (Rae et al. 2021
      // Table A1; TextStats.gopherRules): word-count bounds,
      // mean-word-length window, stopword evidence, alphabetic share
      // — exact centi/bp integers end to end
      TextStats.gopherRules(
        t(s, dir, "documents").select(col("source"), col("text")))),
    "text_lm_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail terciles of the corpus-LM fluency
      // score, censused per source (Wenzek et al. 2020) — value-domain
      // cuts, no row ranks. Scores come from the SAME memoized frame
      // text_lm_score publishes: one lmScore execution per suite
      // (r13 finding #3 — the old spelling ran the 3-pass pipeline
      // twice inside this query alone)
      TextStats.lmBucketsFromScored(lmScored(s, dir),
        t(s, dir, "documents").select(col("doc_id"), col("source")))),
    "text_vocab_coverage" -> ((s, dir) =>
      // tokenizer-budget OOV curve: share of token occurrences the
      // top-k vocabulary covers (TextStats.vocabCoverage) — one
      // token-grain agg, then rank/cumsum on the vocab-bounded frame;
      // k=10000 exercises the clamp-to-vocab-size path
      TextStats.vocabCoverage(
        t(s, dir, "documents").select(col("text")))),
    "text_fertility" -> ((s, dir) =>
      // tokenizer fertility per language (subword tokens per
      // whitespace word, chars per subword token — the multilingual
      // tokenizer-health numbers from the BPE literature), exact
      // integer bp/centi ratios over per-lang sums; one codegen'd
      // projection + one lang-cardinality hash aggregate
      t(s, dir, "documents").select(col("lang"),
        size(expr("filter(split(lower(text), '\\\\s+'), w -> w <> '')"))
          .cast("long").as("nw"),
        size(regexp_extract_all(col("text"), lit("""\w+|[^\w\s]"""),
          lit(0))).cast("long").as("ns"),
        length(regexp_replace(col("text"), lit("\\s"), lit("")))
          .cast("long").as("nc"))
        .groupBy(col("lang"))
        .agg(sum(col("nw")).as("n_words"),
          sum(col("ns")).as("n_subtokens"),
          sum(col("nc")).as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_subtokens"),
          expr("10000 * n_subtokens div n_words").as("fertility_bp"),
          expr("100 * n_chars div n_subtokens").as("chars_per_token_cp"))
        .orderBy(col("lang"))),
    "text_length_bands" -> ((s, dir) =>
      // per-language p10/p50/p90 length profile at the (value, count)
      // grain (TextStats.lengthBands) — the input to chunking policy
      TextStats.lengthBands(
        t(s, dir, "documents").select(col("lang"), col("n_chars")))),
    "text_rake" -> ((s, dir) => {
      // RAKE keyphrases (Rose et al. 2010): stopword-delimited runs,
      // deg/freq word scores in micro-units (TextStats.rakePhrases)
      TextStats.rakePhrases(Tables.spread(
        t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id"))
    }),
    "text_heaps_law" -> ((s, dir) =>
      // Heaps'-law vocabulary growth: cumulative docs/tokens/vocab at
      // 20 doc_id-range checkpoints, first-seen-bucket accounting —
      // no prefix re-scans (TextStats.heapsLaw)
      TextStats.heapsLaw(
        t(s, dir, "documents").select(col("doc_id"), col("text")))),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "text_fingerprint" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")}
      SELECT doc_id, s.hash AS fp
      FROM documents JOIN sdbm s ON s.sid = doc_id
      ORDER BY doc_id""",
    "text_repetition" -> """
      SELECT doc_id,
             CASE WHEN length(text) < 10 THEN 0
                  ELSE length(text) - 9 END AS n_grams,
             CASE WHEN length(text) < 10 THEN 0 ELSE
               (SELECT count(DISTINCT substr(text, CAST(i AS INT), 10))
                FROM UNNEST(range(1, length(text) - 8)) AS t(i)) END
               AS n_distinct,
             CASE WHEN length(text) < 10 THEN 0.0 ELSE
               1.0 - CAST((SELECT count(DISTINCT substr(text, CAST(i AS INT), 10))
                           FROM UNNEST(range(1, length(text) - 8)) AS t(i))
                     AS DOUBLE) / (length(text) - 9) END AS rep_ratio
      FROM documents ORDER BY doc_id""",
    "text_compression_bounds" -> s"""
      WITH apx AS (SELECT doc_id, deflate_len
                   FROM read_parquet('$RecallDirToken/text_compression_bounds/*.parquet')),
      ex AS (SELECT doc_id,
               CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
                 AS n_bytes
             FROM documents),
      j AS (SELECT a.doc_id, a.deflate_len, e.n_bytes
            FROM apx a JOIN ex e USING (doc_id))
      SELECT count(*) AS n_docs,
             CAST(sum(n_bytes) AS BIGINT) AS bytes_total,
             CAST(sum(deflate_len) AS BIGINT) AS deflate_total,
             (10000 * CAST(sum(deflate_len) AS BIGINT)) //
               CAST(sum(n_bytes) AS BIGINT) AS mean_ratio_bp,
             TRUE AS all_within_worstcase,
             TRUE AS ratio_plausible
      FROM j""",
    "text_lexical_richness" -> """
      WITH tok AS (
        SELECT doc_id, tok, count(*) AS cnt FROM (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
          FROM documents)
        WHERE tok <> '' GROUP BY doc_id, tok)
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
             count(*) AS n_types,
             (10000 * count(*)) // CAST(sum(cnt) AS BIGINT) AS ttr_bp,
             CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM tok GROUP BY doc_id ORDER BY doc_id""",
    "text_token_stats" -> """
      SELECT doc_id, length(text) AS n_chars_m,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS n_tokens,
             CAST(length(replace(text, ' ', '')) AS DOUBLE) /
               nullif(CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE length(text) - length(replace(text, ' ', '')) + 1 END, 0) AS avg_token_len
      FROM documents ORDER BY doc_id""",
    "text_quality_lr_train" -> s"""
      WITH RECURSIVE $lrCtes
      SELECT r, w0, w1, w2, w3 FROM lr_w ORDER BY r""",
    "text_quality_lr_score" -> s"""
      WITH RECURSIVE $lrCtes,
      lr_fw AS (SELECT w0, w1, w2, w3 FROM lr_w WHERE r = $LrRounds)
      SELECT s.doc_id, s.y, z AS z_bp,
             5000 + (10000 * z) // (2 * (10000 + abs(z))) AS p_bp,
             CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
      FROM lr_std s, lr_fw w,
        LATERAL (SELECT (w.w0 * s.x0 + w.w1 * s.x1 + w.w2 * s.x2
          + w.w3 * s.x3) // 10000 AS z) zz
      ORDER BY s.doc_id""",
    "text_quality_lr_agreement" -> s"""
      WITH RECURSIVE $lrCtes,
      lr_fw AS (SELECT w0, w1, w2, w3 FROM lr_w WHERE r = $LrRounds),
      lr_sc AS (
        SELECT s.y, CASE WHEN z >= 0 THEN 1 ELSE 0 END AS pred
        FROM lr_std s, lr_fw w,
          LATERAL (SELECT (w.w0 * s.x0 + w.w1 * s.x1 + w.w2 * s.x2
            + w.w3 * s.x3) // 10000 AS z) zz),
      conf AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n00,
          CAST(sum(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n01,
          CAST(sum(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n10,
          CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n11
        FROM lr_sc)
      SELECT n00, n01, n10, n11, po_bp, pe_bp,
             CASE WHEN pe_bp = 10000 THEN NULL
                  ELSE (10000 * (po_bp - pe_bp)) // (10000 - pe_bp)
             END AS kappa_bp
      FROM (SELECT n00, n01, n10, n11,
              (10000 * (n00 + n11)) // n AS po_bp,
              CAST((10000 * (CAST(n10 + n11 AS HUGEINT) * (n01 + n11)
                  + CAST(n00 + n01 AS HUGEINT) * (n00 + n10)))
                // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_bp
            FROM conf)""",
    "text_quality_lr_calibration" -> s"""
      WITH RECURSIVE $lrCtes,
      lr_fw AS (SELECT w0, w1, w2, w3 FROM lr_w WHERE r = $LrRounds),
      lr_scored AS (
        SELECT s.y, 5000 + (10000 * z) // (2 * (10000 + abs(z))) AS p_bp
        FROM lr_std s, lr_fw w,
          LATERAL (SELECT (w.w0 * s.x0 + w.w1 * s.x1 + w.w2 * s.x2
            + w.w3 * s.x3) // 10000 AS z) zz)
      SELECT bin, n, mean_p_bp, emp_bp, abs(mean_p_bp - emp_bp) AS gap_bp
      FROM (SELECT p_bp // 1000 AS bin, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(p_bp) AS BIGINT) // count(*) AS mean_p_bp,
              (10000 * CAST(sum(y) AS BIGINT)) // count(*) AS emp_bp
            FROM lr_scored GROUP BY 1)
      ORDER BY bin""",
    "text_quality" -> s"""
      SELECT doc_id, n_chars_m, n_punct, stop_hits,
             (CAST(stop_hits AS DOUBLE) * 100.0 / CAST(nullif(n_chars_m, 0) AS DOUBLE) -
              CAST(n_punct AS DOUBLE) / CAST(nullif(n_chars_m, 0) AS DOUBLE)) AS quality
      FROM (SELECT doc_id, length(text) AS n_chars_m,
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
              ${Seq("the", "and", "of", "to").map(hitsSql).mkString(" + ")} AS stop_hits
            FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p
                  FROM documents))
      ORDER BY doc_id""",
    "text_langid" -> s"""
      SELECT doc_id, lang_label, s_en, s_de, s_fr, s_es,
             CASE WHEN s_en + s_de + s_fr + s_es IS NULL
                    OR s_en + s_de + s_fr + s_es = 0 THEN 'unknown'
                  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                  WHEN s_fr >= s_es THEN 'fr'
                  ELSE 'es' END AS pred_lang
      FROM (SELECT doc_id, lang AS lang_label,
              ${graft.operators.TextStats.LangProfiles.map { case (l, ws) =>
                ws.map(hitsSql).mkString(" + ") + s" AS s_$l"
              }.mkString(", ")}
            FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p
                  FROM documents))
      ORDER BY doc_id""",
    "text_chunks" -> """
      WITH c AS (SELECT doc_id, text,
          greatest(1, (length(text) - 50 + 149) // 150) AS n_chunks
        FROM documents)
      SELECT doc_id, i AS chunk_id,
             substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk
      FROM c, UNNEST(range(0, n_chunks)) AS t(i)
      ORDER BY doc_id, chunk_id""",
    "text_chunks_tokens" -> """
      WITH c AS (SELECT doc_id, str_split(text, ' ') AS w,
          greatest(1, (len(str_split(text, ' ')) - 10 + 29) // 30)
            AS n_chunks
        FROM documents)
      SELECT doc_id, i AS chunk_id,
             array_to_string(w[CAST(i * 30 + 1 AS INT) :
                               CAST(i * 30 + 40 AS INT)], ' ') AS chunk
      FROM c, UNNEST(range(0, n_chunks)) AS t(i)
      ORDER BY doc_id, chunk_id""",
    "text_diversity" -> """
      WITH ch AS (SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
                  FROM documents,
                       UNNEST(range(1, length(text) + 1)) AS t(i)),
      cc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
      agg AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS collision_num,
                     CAST(sum(c) AS BIGINT) AS n
              FROM cc GROUP BY 1)
      SELECT d.doc_id, coalesce(n, 0) AS n_chars_d,
             coalesce(collision_num, 0) AS collision_num,
             CASE WHEN coalesce(n, 0) = 0 THEN 0.0
                  ELSE CAST(collision_num AS DOUBLE) / (n * n)
                  END AS collision
      FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
      ORDER BY d.doc_id""",
    "text_vocab" -> """
      SELECT w AS value, count(*) AS n_rows
      FROM (SELECT w
            FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(w)
            WHERE w <> '')
      GROUP BY w ORDER BY n_rows DESC, value LIMIT 100""",
    "text_bigrams" -> """
      WITH t AS (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS ws
                 FROM documents),
      p AS (SELECT ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]
              AS pair
            FROM t, unnest(range(1, len(ws))) AS r(i))
      SELECT pair, count(*) AS n FROM p
      GROUP BY pair ORDER BY n DESC, pair LIMIT 100""",
    "text_lm_score" -> """
      WITH t AS (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS ws
                 FROM documents),
      bg AS (SELECT doc_id, ws[CAST(i AS INT)] AS w1,
                    ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]
                      AS pair
             FROM t, unnest(range(1, len(ws))) AS r(i)),
      pc AS (SELECT pair, count(*) AS n_pair FROM bg GROUP BY pair),
      wc AS (SELECT w1, count(*) AS n_w1 FROM bg GROUP BY w1),
      sc AS (SELECT bg.doc_id, (10000 * pc.n_pair) // wc.n_w1 AS pair_bp
             FROM bg JOIN pc USING (pair) JOIN wc USING (w1)),
      ag AS (SELECT doc_id, count(*) AS n_bigrams,
                    CAST(sum(pair_bp) AS BIGINT) AS bp_sum
             FROM sc GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(ag.n_bigrams, 0) AS n_bigrams,
             CASE WHEN coalesce(ag.n_bigrams, 0) = 0 THEN CAST(0 AS BIGINT)
                  ELSE ag.bp_sum // ag.n_bigrams END AS mean_bp
      FROM documents d LEFT JOIN ag USING (doc_id)
      ORDER BY d.doc_id""",
    "text_postings" -> """
      SELECT term, count(DISTINCT doc_id) AS df,
             array_to_string(list_sort(list(DISTINCT doc_id)), ',')
               AS postings
      FROM (SELECT doc_id, w AS term
            FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(w)
            WHERE w <> '')
      GROUP BY term ORDER BY term""",
    "text_search" -> """
      WITH t AS (SELECT doc_id, w AS term
                 FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(w)
                 WHERE w IN ('spark', 'window', 'merge')),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_corpus FROM documents)
      SELECT f.doc_id,
             CAST(sum(f.tf * ((1000000 * (n.n_corpus + 1)) // (d.df + 1)))
               AS BIGINT) AS score,
             count(*) AS n_terms
      FROM tf f JOIN df d USING (term) CROSS JOIN n
      GROUP BY f.doc_id
      ORDER BY score DESC, f.doc_id LIMIT 10""",
    // BM25 with k1=6/5, b=3/4 multiplied through by 10·L: per-term
    // contribution (w·22·L·tf) // (10·L·tf + 3·L + 9·N·dl)
    "text_bm25" -> """
      WITH toks AS (SELECT doc_id, w AS term
                    FROM documents,
                         UNNEST(string_split(lower(text), ' ')) AS u(w)
                    WHERE w <> ''),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      corpus AS (SELECT sum(dl) AS len_corpus FROM dl),
      n AS (SELECT count(*) AS n_corpus FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ('spark', 'window', 'merge') GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
      SELECT f.doc_id,
             CAST(sum((CAST((1000000 * (n.n_corpus + 1)) // (d.df + 1)
                        AS HUGEINT) * 22 * c.len_corpus * f.tf)
                      // (10 * c.len_corpus * f.tf + 3 * c.len_corpus
                          + 9 * n.n_corpus * l.dl))
               AS BIGINT) AS score,
             count(*) AS n_terms
      FROM tf f JOIN df d USING (term) JOIN dl l USING (doc_id)
      CROSS JOIN n CROSS JOIN corpus c
      GROUP BY f.doc_id
      ORDER BY score DESC, f.doc_id LIMIT 10""",
    // PRF: BM25 pass 1 → top-5 feedback docs → top-3 expansion terms
    // by tf_fb·idf (ties by term) → BM25 pass 2 over the union
    "text_prf_search" -> """
      WITH toks AS (SELECT doc_id, w AS term
                    FROM documents,
                         UNNEST(string_split(lower(text), ' ')) AS u(w)
                    WHERE w <> ''),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      corpus AS (SELECT sum(dl) AS len_corpus FROM dl),
      n AS (SELECT count(*) AS n_corpus FROM documents),
      q0 AS (SELECT * FROM (VALUES ('spark'), ('window'), ('merge'))
             t(term)),
      tf0 AS (SELECT doc_id, term, count(*) AS tf
              FROM toks JOIN q0 USING (term) GROUP BY 1, 2),
      df0 AS (SELECT term, count(*) AS df FROM tf0 GROUP BY 1),
      s0 AS (SELECT f.doc_id,
               sum((CAST((1000000 * (n.n_corpus + 1)) // (d.df + 1)
                     AS HUGEINT) * 22 * c.len_corpus * f.tf)
                   // (10 * c.len_corpus * f.tf + 3 * c.len_corpus
                       + 9 * n.n_corpus * l.dl)) AS score
             FROM tf0 f JOIN df0 d USING (term) JOIN dl l USING (doc_id)
             CROSS JOIN n CROSS JOIN corpus c
             GROUP BY 1),
      fb AS (SELECT doc_id FROM s0 ORDER BY score DESC, doc_id LIMIT 5),
      dfa AS (SELECT term, count(DISTINCT doc_id) AS dfc
              FROM toks GROUP BY 1),
      expc AS (SELECT t.term, count(*) AS tf_fb
               FROM toks t JOIN fb USING (doc_id)
               WHERE t.term NOT IN (SELECT term FROM q0)
               GROUP BY 1),
      exps AS (SELECT e.term,
                 e.tf_fb * ((1000000 * (n.n_corpus + 1)) // (d.dfc + 1))
                   AS escore
               FROM expc e JOIN dfa d USING (term) CROSS JOIN n),
      expt AS (SELECT term FROM exps ORDER BY escore DESC, term LIMIT 3),
      qf AS (SELECT term FROM q0 UNION SELECT term FROM expt),
      tf1 AS (SELECT doc_id, term, count(*) AS tf
              FROM toks JOIN qf USING (term) GROUP BY 1, 2),
      df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY 1)
      SELECT f.doc_id,
             CAST(sum((CAST((1000000 * (n.n_corpus + 1)) // (d.df + 1)
                        AS HUGEINT) * 22 * c.len_corpus * f.tf)
                      // (10 * c.len_corpus * f.tf + 3 * c.len_corpus
                          + 9 * n.n_corpus * l.dl))
               AS BIGINT) AS score,
             count(*) AS n_terms
      FROM tf1 f JOIN df1 d USING (term) JOIN dl l USING (doc_id)
      CROSS JOIN n CROSS JOIN corpus c
      GROUP BY f.doc_id
      ORDER BY score DESC, f.doc_id LIMIT 10""",
    // χ² per (source, term) over document-level presence; single floor
    // division, df ∈ [3, N), top-3 per class with term-text ties
    "text_chisq" -> """
      WITH dt AS (SELECT doc_id, source AS cls, w AS term
                  FROM documents,
                       UNNEST(list_distinct(string_split(lower(text), ' ')))
                         AS u(w)
                  WHERE w <> ''),
      n AS (SELECT count(*) AS n_total FROM documents),
      cs AS (SELECT source AS cls, count(*) AS n_cls
             FROM documents GROUP BY 1),
      dfq AS (SELECT term, count(*) AS df FROM dt GROUP BY 1
              HAVING count(*) >= 3),
      ac AS (SELECT cls, term, count(*) AS a FROM dt GROUP BY 1, 2),
      grid AS (SELECT cs.cls, dfq.term, dfq.df, cs.n_cls,
                      coalesce(ac.a, 0) AS a
               FROM cs CROSS JOIN dfq
               LEFT JOIN ac ON ac.cls = cs.cls AND ac.term = dfq.term),
      tab AS (SELECT g.cls, g.term, g.df, g.a,
                     g.df - g.a AS b, g.n_cls - g.a AS c,
                     n.n_total - g.df - (g.n_cls - g.a) AS d,
                     n.n_total AS n_total
              FROM grid g CROSS JOIN n
              WHERE g.df < n.n_total),
      chi AS (SELECT cls, term, df, a,
                     CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c
                       AS det,
                     a + b AS s1, c + d AS s2, a + c AS s3, b + d AS s4,
                     n_total
              FROM tab),
      sc AS (SELECT cls, term, df, a AS in_class_df,
                    (1000000 * n_total * det * det)
                      // (CAST(s1 AS HUGEINT) * s2 * s3 * s4)
                      AS chi2_micro,
                    CASE WHEN det > 0 THEN 1 WHEN det < 0 THEN -1
                         ELSE 0 END AS direction
             FROM chi)
      SELECT cls, rank, term, df, in_class_df,
             CAST(chi2_micro AS BIGINT) AS chi2_micro, direction
      FROM (SELECT *, row_number() OVER (PARTITION BY cls
              ORDER BY chi2_micro DESC, term) AS rank FROM sc) r
      WHERE rank <= 3 ORDER BY cls, rank""",
    // text_search's lexical pool (poolK=20) + sim_topk's cosine pool
    // for query vector 0, fused: rrf = Σ 1e6 // (60 + rank), BIGINT
    "text_keywords" -> """
      WITH t AS (SELECT doc_id, w AS term
                 FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(w)
                 WHERE w <> ''),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_corpus FROM documents),
      sc AS (SELECT doc_id, tf.term, tf.tf, df.df,
               CAST(tf.tf * (n.n_corpus + 1) AS DOUBLE) / (df.df + 1)
                 AS score
             FROM tf JOIN df USING (term) CROSS JOIN n),
      r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term) AS BIGINT) AS rank
            FROM sc)
      SELECT doc_id, rank, term, tf, df, score
      FROM r WHERE rank <= 5 ORDER BY doc_id, rank""",
    "text_html_clean" -> s"""
      SELECT doc_id,
             ${htmlCleanSql(
               s"'${htmlWrapPrefix.replace("'", "''")}' || " +
               s"coalesce(text, '') || " +
               s"'${htmlWrapSuffix.replace("'", "''")}'")} AS clean_text
      FROM documents ORDER BY doc_id""",
    "text_bpe_tokens" -> """
      SELECT doc_id,
             len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens
      FROM documents ORDER BY doc_id""",
    "text_vocab_coverage" -> """
      WITH f AS (SELECT w, count(*) AS n
                 FROM (SELECT w FROM documents,
                       UNNEST(string_split(lower(text), ' ')) AS u(w)
                       WHERE w <> '')
                 GROUP BY w),
      r AS (SELECT row_number() OVER (ORDER BY n DESC, w) AS rk, n FROM f),
      c AS (SELECT rk, CAST(sum(n) OVER (ORDER BY rk) AS BIGINT) AS cum
            FROM r),
      vs AS (SELECT CAST(max(rk) AS BIGINT) AS vsize,
                    CAST(sum(n) AS BIGINT) AS total_tokens FROM r),
      ks AS (SELECT * FROM (VALUES (5), (10), (20), (10000)) t(k))
      SELECT k, cum AS covered_tokens, total_tokens,
             (10000 * cum) // total_tokens AS coverage_bp
      FROM ks CROSS JOIN vs JOIN c ON c.rk = least(k, vsize)
      ORDER BY k""",
    "text_fertility" -> """
      WITH d AS (SELECT lang,
          len(list_filter(string_split_regex(lower(text), '\s+'),
            w -> w <> '')) AS nw,
          len(regexp_extract_all(text, '\w+|[^\w\s]')) AS ns,
          length(regexp_replace(text, '\s', '', 'g')) AS nc
        FROM documents)
      SELECT lang, CAST(sum(nw) AS BIGINT) AS n_words,
             CAST(sum(ns) AS BIGINT) AS n_subtokens,
             (10000 * CAST(sum(ns) AS BIGINT)) // CAST(sum(nw) AS BIGINT)
               AS fertility_bp,
             (100 * CAST(sum(nc) AS BIGINT)) // CAST(sum(ns) AS BIGINT)
               AS chars_per_token_cp
      FROM d GROUP BY lang ORDER BY lang""",
    "text_pmi" -> """
      WITH t AS (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS ws
                 FROM documents),
      bg AS (SELECT ws[CAST(i AS INT)] AS w1,
                    ws[CAST(i AS INT) + 1] AS w2
             FROM t, unnest(range(1, len(ws))) AS r(i)),
      pc AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2),
      fc AS (SELECT w1, count(*) AS n_a FROM bg GROUP BY 1),
      sc AS (SELECT w2, count(*) AS n_b FROM bg GROUP BY 1),
      tot AS (SELECT count(*) AS n_total FROM bg)
      SELECT w1, w2, n_ab, n_a, n_b,
             (n_ab * n_total * 1000000) // (n_a * n_b) AS lift_micro
      FROM pc JOIN fc USING (w1) JOIN sc USING (w2), tot
      WHERE n_ab >= 3
      ORDER BY lift_micro DESC, w1, w2 LIMIT 50""",
    "text_token_drift" -> """
      WITH tk AS (SELECT ((doc_id % 2) + 2) % 2 AS h,
               unnest(list_filter(string_split_regex(lower(text),
                 '\s+'), x -> x <> '')) AS w
             FROM documents),
      c AS (SELECT w,
              CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS c0,
              CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS c1
            FROM tk GROUP BY 1),
      tot AS (SELECT greatest(CAST(sum(c0) AS BIGINT), 1) AS n0,
                greatest(CAST(sum(c1) AS BIGINT), 1) AS n1 FROM c),
      p AS (SELECT w, c0, c1,
              (1000000 * c0) // n0 AS p0_ppm,
              (1000000 * c1) // n1 AS p1_ppm,
              abs((1000000 * c0) // n0 - (1000000 * c1) // n1) AS dppm
            FROM c, tot),
      tv AS (SELECT CAST(sum(dppm) AS BIGINT) // 2 AS tv_semi_ppm
             FROM p)
      SELECT w, c0, c1, p0_ppm, p1_ppm, dppm, tv_semi_ppm
      FROM p, tv ORDER BY dppm DESC, w LIMIT 20""",
    "text_winnow_fp" -> s"""
      WITH $winnowCteSql
      SELECT doc_id, pos, gram FROM fp
      ORDER BY doc_id, pos, gram""",
    "text_normalize" -> """
      SELECT doc_id,
             nfc_normalize(concat(text, ' cafe', chr(769), ' No', chr(776),
               'el éøñüç')) AS nfc_text,
             strip_accents(concat(text, ' cafe', chr(769), ' No', chr(776),
               'el éøñüç')) AS plain_text
      FROM documents ORDER BY doc_id""",
    "text_zipf" -> """
      WITH tk AS (SELECT unnest(list_filter(
              string_split_regex(lower(text), '\s+'), x -> x <> ''))
              AS w FROM documents),
      vc AS (SELECT w, count(*) AS f FROM tk GROUP BY 1)
      SELECT CAST(sum(f) AS BIGINT) AS n_tokens,
             count(*) AS vocab,
             CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dis,
             CAST(max(f) AS BIGINT) AS f_max,
             (1000000 * count(*)) // CAST(sum(f) AS BIGINT) AS ttr_micro,
             (1000000 * CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
               AS BIGINT)) // count(*) AS hapax_vocab_micro
      FROM vc""",
    "text_zipf_slope" -> """
      WITH tk AS (SELECT substr(lower(text), CAST(i AS INT), 3) AS w
             FROM documents,
                  UNNEST(range(1, greatest(length(text) - 2, 0) + 1))
                    AS t(i)),
      vc AS (SELECT w, count(*) AS f FROM tk GROUP BY 1),
      by_ AS (SELECT CAST(length(bin(f)) - 1 AS BIGINT) AS y,
                count(*) AS m
              FROM vc GROUP BY 1),
      rk AS (SELECT CAST(y2 AS BIGINT) AS y2, CAST(sum(m) AS BIGINT)
               AS rge
             FROM by_, UNNEST(range(0, y + 1)) AS t(y2) GROUP BY 1),
      pts AS (SELECT CAST(length(bin(rge)) - 1 AS BIGINT) AS x,
                y2 AS y
              FROM rk),
      ag AS (SELECT count(*) AS n, CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sx2
             FROM pts)
      SELECT n AS n_points,
             CAST(CASE WHEN n * sx2 - sx * sx = 0 THEN NULL
               ELSE (1000 * (n * sxy - sx * sy))
               // (n * sx2 - sx * sx) END AS BIGINT) AS slope_milli,
             CAST(CASE WHEN n * sx2 - sx * sx = 0 THEN NULL
               ELSE (1000 * (sy * sx2 - sx * sxy))
               // (n * sx2 - sx * sx) END AS BIGINT) AS intercept_milli
      FROM ag""",
    // 3 peel rounds unrolled; output = last round's degrees over the
    // surviving alive set
    "text_zipf_by_source" -> """
      WITH tk AS (SELECT source, unnest(list_filter(
              string_split_regex(lower(text), '\s+'), x -> x <> ''))
              AS w FROM documents),
      vc AS (SELECT source, w, count(*) AS f FROM tk GROUP BY 1, 2)
      SELECT source, CAST(sum(f) AS BIGINT) AS n_tokens,
             count(*) AS vocab,
             CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             CAST(max(f) AS BIGINT) AS f_max,
             (1000000 * count(*)) // CAST(sum(f) AS BIGINT)
               AS ttr_micro
      FROM vc GROUP BY source ORDER BY source""",
    "text_mmr_rerank" -> s"""
      WITH pool AS MATERIALIZED (SELECT doc_id AS id, n_chars AS rel,
             text FROM documents WHERE source = 'src0'
           ORDER BY n_chars DESC, doc_id LIMIT 10),
      gr AS MATERIALIZED (SELECT DISTINCT id,
             substr(text, CAST(i AS INT), 3) AS g
           FROM pool, UNNEST(range(1, length(text) - 1)) AS t(i)),
      ngt AS (SELECT id, count(*) AS ng FROM gr GROUP BY 1),
      mx AS (SELECT max(rel) AS mr FROM pool),
      base AS MATERIALIZED (SELECT pool.id,
             (10000 * rel) // mr AS rel_bp
           FROM pool JOIN ngt ON ngt.id = pool.id, mx),
      sims AS MATERIALIZED (SELECT s.aid AS ia, s.bid AS ib,
             (10000 * s.cnt) // (na.ng + nb.ng - s.cnt) AS sim_bp
           FROM (SELECT ga.id AS aid, gb.id AS bid, count(*) AS cnt
                 FROM gr ga JOIN gr gb
                   ON ga.g = gb.g AND ga.id <> gb.id
                 GROUP BY 1, 2) s
           JOIN ngt na ON na.id = s.aid
           JOIN ngt nb ON nb.id = s.bid),
      p1 AS MATERIALIZED (SELECT id, rel_bp * 5000 AS mmr FROM base
           ORDER BY mmr DESC, id LIMIT 1),
      sel1 AS (SELECT id FROM p1),
      ${(2 to 5).map { r => s"""
      m$r AS (SELECT b.id,
                b.rel_bp * 5000 - coalesce(ms.ms, 0) * 5000 AS mmr
              FROM base b LEFT JOIN (
                SELECT sims.ia AS id, max(sims.sim_bp) AS ms
                FROM sims JOIN sel${r - 1} s ON s.id = sims.ib
                GROUP BY 1) ms USING (id)
              WHERE b.id NOT IN (SELECT id FROM sel${r - 1})),
      p$r AS MATERIALIZED (SELECT id, mmr FROM m$r
           ORDER BY mmr DESC, id LIMIT 1),
      sel$r AS (SELECT id FROM sel${r - 1}
                UNION ALL SELECT id FROM p$r)"""
      }.mkString(",")}
      SELECT CAST(1 AS BIGINT) AS rank, id, CAST(mmr AS BIGINT) AS mmr
      FROM p1
      ${(2 to 5).map(r =>
        s"UNION ALL SELECT CAST($r AS BIGINT), id, CAST(mmr AS BIGINT) FROM p$r")
        .mkString(" ")}
      ORDER BY rank""",
    "text_code_score" -> """
      WITH b AS (SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[{}\[\]();]'))
                 AS BIGINT) AS syntax_chars,
               CAST(len(regexp_extract_all(text, '=')) AS BIGINT)
                 AS assigns,
               CAST(len(list_filter(string_split(text, chr(10)),
                 x -> x LIKE '  %')) AS BIGINT) AS indented_lines,
               greatest(1, length(text)) AS nc
             FROM documents)
      SELECT doc_id, syntax_chars, assigns, indented_lines,
             (10000 * (3 * syntax_chars + 2 * assigns +
               5 * indented_lines)) // nc AS code_bp
      FROM b ORDER BY doc_id""",
    "text_boilerplate" -> """
      WITH s AS (SELECT DISTINCT doc_id, trim(lower(x)) AS sentence
                 FROM (SELECT doc_id,
                         unnest(string_split_regex(text, '[.!?]+')) AS x
                       FROM documents)
                 WHERE trim(lower(x)) <> '')
      SELECT sentence, count(DISTINCT doc_id) AS n_docs
      FROM s GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
      ORDER BY n_docs DESC, sentence LIMIT 20""",
    "text_langid_confusion" -> s"""
      SELECT lang_label, pred_lang, count(*) AS n FROM (
        SELECT lang_label,
               CASE WHEN s_en + s_de + s_fr + s_es IS NULL
                      OR s_en + s_de + s_fr + s_es = 0 THEN 'unknown'
                    WHEN s_en >= s_de AND s_en >= s_fr
                      AND s_en >= s_es THEN 'en'
                    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                    WHEN s_fr >= s_es THEN 'fr'
                    ELSE 'es' END AS pred_lang
        FROM (SELECT lang AS lang_label,
                ${graft.operators.TextStats.LangProfiles.map {
                  case (l, ws) =>
                    ws.map(hitsSql).mkString(" + ") + s" AS s_$l"
                }.mkString(", ")}
              FROM (SELECT lang, ' ' || lower(text) || ' ' AS p
                    FROM documents)))
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_feature_hashing" -> s"""
      WITH RECURSIVE
      tk AS (SELECT doc_id, u.tok
             FROM documents,
                  unnest(list_filter(string_split_regex(lower(text),
                    '\\s+'), x -> x <> '')) AS u(tok)),
      vocab AS (SELECT DISTINCT tok FROM tk),
      ${sdbmCte("vocab", "tok", "0", "tok", "th")},
      bkt AS (SELECT sid AS tok,
                (((((hash % 2147483647) + 2147483647) % 2147483647)
                  * 48271) % 2147483647) % 64 AS b
              FROM th),
      db AS (SELECT t.doc_id, k.b, count(*) AS c
             FROM tk t JOIN bkt k ON k.tok = t.tok GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS nnz, CAST(sum(c * c) AS BIGINT) AS norm2
      FROM db GROUP BY doc_id ORDER BY doc_id""",
    "text_vocab_drift" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      tk AS (SELECT CASE WHEN ${bucketSql("s.hash")} < 50
                    THEN 'a' ELSE 'b' END AS side, u.tok
             FROM documents d JOIN sdbm s ON s.sid = d.doc_id,
                  unnest(list_filter(string_split_regex(lower(d.text),
                    '\\s+'), x -> x <> '')) AS u(tok)),
      c AS (SELECT side, tok, count(*) AS c FROM tk GROUP BY 1, 2),
      t AS (SELECT side, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
      p AS (SELECT c.side, c.tok, c.c,
              CAST((CAST(1000000 AS HUGEINT) * c.c) // t.n AS BIGINT)
                AS ppm
            FROM c JOIN t USING (side)),
      a AS (SELECT tok, c AS ca, ppm AS pa FROM p WHERE side = 'a'),
      b AS (SELECT tok, c AS cb, ppm AS pb FROM p WHERE side = 'b'),
      j AS (SELECT coalesce(a.ca, 0) AS ca, coalesce(b.cb, 0) AS cb,
              a.ca IS NOT NULL AS ia, b.cb IS NOT NULL AS ib,
              coalesce(a.pa, 0) AS pa, coalesce(b.pb, 0) AS pb
            FROM a FULL OUTER JOIN b USING (tok))
      SELECT CAST(sum(ca) AS BIGINT) AS n_tokens_a,
             CAST(sum(cb) AS BIGINT) AS n_tokens_b,
             CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT)
               AS vocab_a,
             CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT)
               AS vocab_b,
             CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT)
               AS vocab_shared,
             CAST(sum(abs(pa - pb)) // 2 AS BIGINT) AS tv_ppm
      FROM j""",
    "text_source_classifier" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      tk AS (SELECT d.doc_id, d.source, u.tok,
               (${bucketSql("s.hash")} < 80) AS is_train
             FROM documents d JOIN sdbm s ON s.sid = d.doc_id,
                  unnest(list_filter(string_split_regex(lower(d.text),
                    '\\s+'), x -> x <> '')) AS u(tok)),
      pr AS (SELECT source AS src, tok, count(*) AS c
             FROM tk WHERE is_train GROUP BY 1, 2),
      tt AS (SELECT src, CAST(sum(c) AS BIGINT) AS n_src
             FROM pr GROUP BY 1),
      wt AS (SELECT pr.src AS src_w, pr.tok,
               CAST((CAST(1000000 AS HUGEINT) * pr.c) // t.n_src
                 AS BIGINT) AS ppm
             FROM pr JOIN tt t ON t.src = pr.src),
      sc AS (SELECT k.doc_id, k.source, w.src_w,
               CAST(sum(w.ppm) AS BIGINT) AS score
             FROM tk k JOIN wt w ON w.tok = k.tok
             WHERE NOT k.is_train GROUP BY 1, 2, 3),
      pred AS (SELECT doc_id, source, src_w FROM (
                 SELECT doc_id, source, src_w, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY score DESC, src_w) AS rn
                 FROM sc) WHERE rn = 1)
      SELECT source, src_w AS predicted, count(*) AS n_docs
      FROM pred GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_readability" -> """
      WITH b AS (SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x <> '')) AS words0,
               greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                 AS sentences,
               len(regexp_extract_all(lower(text), '[aeiouy]+'))
                 AS syllables
             FROM documents)
      SELECT doc_id, CAST(words0 AS BIGINT) AS words,
             CAST(sentences AS BIGINT) AS sentences,
             CAST(syllables AS BIGINT) AS syllables,
             206835000 - (1015000 * CAST(words0 AS BIGINT)) // sentences
               - (84600000 * CAST(syllables AS BIGINT)) // words0
               AS flesch_micro
      FROM b WHERE words0 > 0 ORDER BY doc_id""",
    // 7 farthest-point rounds unrolled over the all-pairs distance
    // table (oracle-scale only; the engine does k·N scans)
    "text_novelty" -> """
      WITH t AS (SELECT doc_id, list_filter(
              string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
            FROM documents),
      g0 AS (SELECT DISTINCT doc_id,
               concat_ws(' ', ws[CAST(i AS INT)],
                 ws[CAST(i AS INT) + 1], ws[CAST(i AS INT) + 2]) AS g
             FROM t, unnest(range(1, len(ws) - 1)) AS r(i)),
      fd AS (SELECT g, min(doc_id) AS fd FROM g0 GROUP BY 1),
      agg AS (SELECT g0.doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN fd.fd = g0.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
              FROM g0 JOIN fd USING (g) GROUP BY 1)
      SELECT doc_id, n_grams, n_novel,
             (1000000 * n_novel) // n_grams AS novelty_micro
      FROM agg ORDER BY doc_id""",
    "text_textrank" -> s"""
      WITH t AS (SELECT list_filter(
              string_split_regex(lower(text), '\\s+'), x -> x <> '')
              AS ws
            FROM documents),
      bg AS (SELECT ws[CAST(i AS INT)] AS w1,
               ws[CAST(i AS INT) + 1] AS w2
             FROM t, unnest(range(1, len(ws))) AS r(i)),
      fb AS (SELECT w1, w2 FROM bg
             WHERE length(w1) >= 4 AND length(w2) >= 4 AND w1 <> w2),
      e0 AS (SELECT w1, w2 FROM fb GROUP BY 1, 2
             HAVING count(*) >= 2),
      e2 AS (SELECT w1 AS src, w2 AS dst FROM e0
             UNION SELECT w2, w1 FROM e0),
      nodes AS (SELECT DISTINCT src AS node FROM e2),
      cnt AS (SELECT count(*) AS n FROM nodes),
      base AS (SELECT ((1000000000000 // n) * 15) // 100 AS b,
                      1000000000000 // n AS init FROM cnt),
      deg AS (SELECT src, count(*) AS deg FROM e2 GROUP BY src),
      r0 AS (SELECT node, init AS rank_micro
             FROM nodes CROSS JOIN base),
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
      SELECT node AS token, CAST(rank_micro AS BIGINT) AS rank_micro
      FROM r3 ORDER BY rank_micro DESC, token LIMIT 30""",
    "text_bpe_merges" -> bpeOracleSql,
    "text_bpe_train" -> bpeTrainOracleSql,
    "text_bpe_encode" -> bpeEncodeOracleSql,
    "text_bpe_encode_oov" -> bpeEncodeOovOracleSql,
    "text_length_quartiles" -> """
      WITH cc AS (SELECT source, n_chars, count(*) AS m
                  FROM documents GROUP BY 1, 2),
      cw AS (SELECT source, n_chars,
               sum(m) OVER (PARTITION BY source ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
               sum(m) OVER (PARTITION BY source) AS n
             FROM cc)
      SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
             min(CASE WHEN cum * 4 >= n THEN n_chars END) AS p25_chars,
             min(CASE WHEN cum * 4 >= n * 2 THEN n_chars END)
               AS p50_chars,
             min(CASE WHEN cum * 4 >= n * 3 THEN n_chars END)
               AS p75_chars
      FROM cw GROUP BY 1 ORDER BY 1""",
    "text_source_overlap" -> s"""
      WITH t AS (SELECT source, list_filter(
              string_split_regex(lower(text), '\\s+'), x -> x <> '')
              AS ws
            FROM documents),
      g AS (SELECT DISTINCT source,
              ${(0 to 7).map(o => s"ws[CAST(i AS INT) + $o]")
                .mkString("concat_ws(' ', ", ", ", ")")} AS g
            FROM t, unnest(range(1, len(ws) - 6)) AS r(i)),
      sz AS (SELECT source, count(*) AS ng FROM g GROUP BY 1),
      p AS (SELECT a.source AS source_a, b.source AS source_b,
              count(*) AS inter
            FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2)
      SELECT source_a, source_b, inter, na.ng AS na, nb.ng AS nb,
             (10000 * inter) // (na.ng + nb.ng - inter) AS jaccard_bp
      FROM p JOIN sz na ON na.source = source_a
             JOIN sz nb ON nb.source = source_b
      ORDER BY source_a, source_b""",
    "text_gopher_rules" -> """
      WITH d AS (SELECT source,
          len(list_filter(string_split_regex(lower(text), '\s+'),
            w -> w <> '')) AS n_words,
          length(regexp_replace(text, '\s', '', 'g')) AS sum_len,
          len(list_filter(list_filter(string_split_regex(lower(text),
            '\s+'), w -> w <> ''), w -> w IN ('the','a','of','to',
            'and','in','be','that'))) AS stop_hits,
          len(list_filter(list_filter(string_split_regex(lower(text),
            '\s+'), w -> w <> ''),
            w -> regexp_full_match(w, '[a-z]+'))) AS alpha_words
        FROM documents),
      f AS (SELECT source,
          (n_words < 50 OR n_words > 100000) AS v_wc,
          (CASE WHEN n_words = 0 THEN 0
                ELSE (100 * sum_len) // n_words END < 300 OR
           CASE WHEN n_words = 0 THEN 0
                ELSE (100 * sum_len) // n_words END > 1000) AS v_mwl,
          (stop_hits < 2) AS v_stop,
          (100 * alpha_words < 80 * n_words) AS v_alpha
        FROM d),
      g AS (SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN v_wc THEN 1 ELSE 0 END) AS BIGINT)
            AS viol_word_count,
          CAST(sum(CASE WHEN v_mwl THEN 1 ELSE 0 END) AS BIGINT)
            AS viol_mean_word_len,
          CAST(sum(CASE WHEN v_stop THEN 1 ELSE 0 END) AS BIGINT)
            AS viol_stopwords,
          CAST(sum(CASE WHEN v_alpha THEN 1 ELSE 0 END) AS BIGINT)
            AS viol_alpha_share,
          CAST(sum(CASE WHEN NOT v_wc AND NOT v_mwl AND NOT v_stop
            AND NOT v_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        FROM f GROUP BY source)
      SELECT *, (10000 * n_pass) // n_docs AS pass_bp
      FROM g ORDER BY source""",
    "text_lm_buckets" -> """
      WITH t AS (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS ws
                 FROM documents),
      bg AS (SELECT doc_id, ws[CAST(i AS INT)] AS w1,
                    ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]
                      AS pair
             FROM t, unnest(range(1, len(ws))) AS r(i)),
      pc AS (SELECT pair, count(*) AS n_pair FROM bg GROUP BY pair),
      wc AS (SELECT w1, count(*) AS n_w1 FROM bg GROUP BY w1),
      sc AS (SELECT bg.doc_id, (10000 * pc.n_pair) // wc.n_w1 AS pair_bp
             FROM bg JOIN pc USING (pair) JOIN wc USING (w1)),
      ag AS (SELECT doc_id, count(*) AS n_bigrams,
                    CAST(sum(pair_bp) AS BIGINT) AS bp_sum
             FROM sc GROUP BY doc_id),
      scored AS (SELECT d.doc_id, d.source,
               CASE WHEN coalesce(ag.n_bigrams, 0) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE ag.bp_sum // ag.n_bigrams END AS mean_bp
             FROM documents d LEFT JOIN ag USING (doc_id)),
      dist AS (SELECT mean_bp, count(*) AS m FROM scored GROUP BY 1),
      cumd AS (SELECT mean_bp, sum(m) OVER (ORDER BY mean_bp) AS cum,
                      sum(m) OVER () AS n
               FROM dist),
      cuts AS (SELECT
          min(CASE WHEN cum * 3 >= n THEN mean_bp END) AS c_tail,
          min(CASE WHEN cum * 3 >= n * 2 THEN mean_bp END) AS c_mid
        FROM cumd)
      SELECT source,
             CASE WHEN mean_bp <= c_tail THEN 'tail'
                  WHEN mean_bp <= c_mid THEN 'middle'
                  ELSE 'head' END AS bucket,
             count(*) AS n_docs,
             CAST(min(mean_bp) AS BIGINT) AS min_bp,
             CAST(max(mean_bp) AS BIGINT) AS max_bp
      FROM scored CROSS JOIN cuts
      GROUP BY 1, 2 ORDER BY source, bucket""",
    "text_length_bands" -> """
      WITH dist AS (SELECT lang, n_chars, count(*) AS m
                    FROM documents GROUP BY 1, 2),
      c AS (SELECT lang, n_chars,
              sum(m) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
              sum(m) OVER (PARTITION BY lang) AS n
            FROM dist)
      SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
             CAST(min(CASE WHEN cum * 10 >= n THEN n_chars END)
               AS BIGINT) AS p10_chars,
             CAST(min(CASE WHEN cum * 2 >= n THEN n_chars END)
               AS BIGINT) AS p50_chars,
             CAST(min(CASE WHEN cum * 10 >= n * 9 THEN n_chars END)
               AS BIGINT) AS p90_chars
      FROM c GROUP BY lang ORDER BY lang""",
    "text_rake" -> """
      WITH toks AS (SELECT doc_id, w, pos,
               (w IN ('the','a','of','to','and','in','be','that'))
                 AS stop
             FROM (SELECT doc_id, ws, ws[CAST(i AS INT)] AS w,
                     i AS pos
                   FROM (SELECT doc_id,
                           list_filter(string_split_regex(lower(text),
                             '\s+'), x -> x <> '') AS ws
                         FROM documents),
                        unnest(range(1, len(ws) + 1)) AS r(i))),
      runs AS (SELECT doc_id, w, pos,
                 sum(CASE WHEN stop THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS run,
                 stop
               FROM toks),
      inp AS (SELECT doc_id, w, pos, run,
                count(*) OVER (PARTITION BY doc_id, run) AS plen
              FROM runs WHERE NOT stop),
      sc AS (SELECT w,
               (1000000 * CAST(sum(plen) AS BIGINT)) // count(*)
                 AS w_score
             FROM inp GROUP BY w),
      ph AS (SELECT doc_id, run,
               string_agg(inp.w, ' ' ORDER BY pos) AS phrase,
               count(*) AS n_words,
               CAST(sum(w_score) AS BIGINT) AS score_micro
             FROM inp JOIN sc USING (w)
             GROUP BY doc_id, run)
      SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
             count(*) AS n_occ,
             CAST(max(score_micro) AS BIGINT) AS score_micro
      FROM ph GROUP BY phrase
      ORDER BY score_micro DESC, phrase LIMIT 20""",
    "text_heaps_law" -> """
      WITH bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
                      FROM documents),
      bk AS (SELECT least(19, (20 * (doc_id - lo)) // (hi - lo + 1))
               AS bucket, text
             FROM documents, bounds),
      tok AS (SELECT bucket,
                unnest(list_filter(
                  string_split_regex(lower(text), '\s+'),
                  x -> x <> '')) AS w
              FROM bk),
      dm AS (SELECT bucket, count(*) AS n_docs FROM bk GROUP BY 1),
      tm AS (SELECT bucket, count(*) AS n_tokens FROM tok GROUP BY 1),
      nv AS (SELECT bucket, count(*) AS new_vocab
             FROM (SELECT w, min(bucket) AS bucket FROM tok GROUP BY 1)
             GROUP BY 1),
      j AS (SELECT d.bucket, d.n_docs,
              coalesce(t.n_tokens, 0) AS n_tokens,
              coalesce(v.new_vocab, 0) AS new_vocab
            FROM dm d LEFT JOIN tm t USING (bucket)
            LEFT JOIN nv v USING (bucket))
      SELECT CAST(bucket AS BIGINT) AS bucket, n_docs,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(new_vocab AS BIGINT) AS new_vocab,
             CAST(sum(n_docs) OVER (ORDER BY bucket) AS BIGINT)
               AS cum_docs,
             CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT)
               AS cum_tokens,
             CAST(sum(new_vocab) OVER (ORDER BY bucket) AS BIGINT)
               AS cum_vocab
      FROM j ORDER BY bucket""",
  )
}
