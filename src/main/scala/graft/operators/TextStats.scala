package graft.operators

import graft.Scratch.pin
import graft.functions.{idiv, sdbm_hash, Dec38}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the extended (north-star) surface:
  * token counting, quality scoring, heuristic language ID, document
  * fingerprinting. All pure narrow column expressions — at 100 TB this
  * whole module is one codegen'd projection over the corpus, no
  * shuffle until the caller aggregates.
  *
  * Determinism: every formula sticks to ints and exactly-rounded
  * double ops shared by Spark and DuckDB, so the oracle hash-matches.
  */
object TextStats {

  /** Occurrence count of `needle` in `hay` via length difference
    * (replace removes non-overlapping occurrences — same semantics in
    * Spark and ANSI SQL, no regex dialect involved).
    */
  def occurrences(hay: Column, needle: String): Column =
    ((length(hay) - length(replace(hay, lit(needle)))).cast("long") /
      needle.length).cast("long")

  private def paddedLower(c: Column): Column =
    concat(lit(" "), lower(c), lit(" "))

  /** Token count via space counting (identical formula SQL-side). */
  def nTokens(txt: Column): Column =
    when(length(trim(txt)) === 0, lit(0L))
      .otherwise((length(txt) - length(replace(txt, lit(" "))) + 1)
        .cast("long"))

  /** Token stats: n_tokens via space counting (identical formula
    * SQL-side), char counts, avg token length.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val txt = col("text")
    val nonSpace = length(replace(txt, lit(" ")))
    docs.select(col("doc_id"), length(txt).cast("long").as("n_chars_m"),
      nTokens(txt).as("n_tokens"),
      (nonSpace.cast("double") / nullif(nTokens(txt), lit(0L)))
        .as("avg_token_len"))
  }

  /** Lexical richness per doc — the corpus-linguistics profile
    * (Herdan 1960's type/token lens) a data-quality pass uses to
    * catch template spam (low TTR, few hapaxes) and gibberish (TTR
    * ≈ 1 at length): token count, distinct types, type-token ratio
    * in basis points (integer-exact), and hapax legomena (tokens
    * occurring exactly once in the doc). Whitespace tokens on the
    * lowercased text, same discipline as the vocab/BPE family.
    *
    * Scale shape: one explode + two hash aggregations keyed by
    * (doc, token) then doc — parallel over docs, never a global
    * vocabulary structure. Docs with no tokens produce no row (the
    * quality chain drops them earlier anyway).
    */
  def lexicalRichness(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr("10000 * n_types div n_tokens").as("ttr_bp"),
        col("n_hapax"))

  /** Quality signals: punctuation count (regex class identical in
    * Spark/RE2/PCRE for this pattern), stopword hits, and a composite
    * score in deterministic double arithmetic.
    */
  // single definitions of the quality sub-signals — the diagnostic
  // frame below and the composite score must never drift apart
  private def nPunct(txt: Column): Column =
    length(regexp_replace(txt, "[a-zA-Z0-9\\s]", "")).cast("long")
  private def stopHits(txt: Column, stopwords: Seq[String]): Column =
    stopwords.map(w => occurrences(paddedLower(txt), s" $w ").cast("long"))
      .reduce(_ + _)

  /** The composite quality score alone (see [[qualityScore]]). */
  def quality(txt: Column,
      stopwords: Seq[String] = Seq("the", "and", "of", "to")): Column = {
    // nullif guard: empty text must yield NULL (as SQL division does),
    // not NaN — doubles divide 0/0 to NaN, which would also break
    // oracle parity.
    val safeChars = nullif(length(txt).cast("long"), lit(0L)).cast("double")
    stopHits(txt, stopwords).cast("double") * 100.0 / safeChars -
      nPunct(txt).cast("double") / safeChars
  }

  def qualityScore(docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "and", "of", "to")): DataFrame = {
    val txt = col("text")
    docs.select(col("doc_id"), length(txt).cast("long").as("n_chars_m"),
      nPunct(txt).as("n_punct"),
      stopHits(txt, stopwords).as("stop_hits"),
      quality(txt, stopwords).as("quality"))
  }

  /** Language profiles for the heuristic language ID. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "los", "que", "una"))

  /** Heuristic language ID: stopword-profile hit counts, argmax with
    * fixed priority order (en > de > fr > es > unknown on ties /
    * all-zero). Purely integer comparisons → oracle-expressible.
    */
  /** One score column per [[LangProfiles]] entry — the single
    * definition both the diagnostic frame and the argmax use.
    */
  private def langScores(txt: Column): Seq[Column] =
    LangProfiles.map { case (_, words) =>
      words.map(w => occurrences(paddedLower(txt), s" $w ").cast("long"))
        .reduce(_ + _)
    }

  /** The predicted language alone (see [[langId]]). */
  def predLang(txt: Column): Column = {
    val scores = langScores(txt)
    val total = scores.reduce(_ + _)
    // argmax with fixed priority: en wins ties vs de wins vs fr vs es.
    val Seq(en, de, fr, es) = scores
    // isNull guard: null text gives null scores, and null comparisons
    // would fall through every `when` to the 'es' default
    when(total.isNull || total === 0, "unknown")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  def langId(docs: DataFrame): DataFrame = {
    val scoreCols = LangProfiles.map(_._1).zip(langScores(col("text")))
      .map { case (lang, c) => c.as(s"s_$lang") }
    docs.select(col("doc_id") +: col("lang").as("lang_label") +:
      scoreCols :+ predLang(col("text")).as("pred_lang"): _*)
  }

  /** Within-document repetition score (Gopher-style quality signal):
    * the fraction of character n-gram positions occupied by a gram
    * already seen in the document — `1 - distinct/total` over sliding
    * n-grams. Repetitious boilerplate scores high; varied prose near
    * zero; too-short docs score 0 by definition. Exact int counts +
    * one double division keep the oracle hash-stable.
    * Output: (doc_id, n_grams, n_distinct, rep_ratio).
    */
  // single definitions of the n-gram counts shared by the ratio and
  // the diagnostic frame
  private def totalGrams(txt: Column, n: Int): Column =
    when(length(txt) < n, lit(0L))
      .otherwise((length(txt) - (n - 1)).cast("long"))
  private def distinctGrams(txt: Column, n: Int): Column =
    size(Dedup.charNgrams(txt, n)).cast("long")

  /** The repetition ratio alone (see [[repetition]]). */
  def repRatio(txt: Column, n: Int = 10): Column = {
    val total = totalGrams(txt, n)
    when(total === 0L, lit(0.0))
      .otherwise(lit(1.0) -
        distinctGrams(txt, n).cast("double") / total.cast("double"))
  }

  def repetition(docs: DataFrame, n: Int = 10): DataFrame = {
    val txt = col("text")
    docs.select(col("doc_id"), totalGrams(txt, n).as("n_grams"),
      distinctGrams(txt, n).as("n_distinct"),
      repRatio(txt, n).as("rep_ratio"))
  }

  /** Overlapping character-window chunking — the RAG/embedding prep
    * stage: stride = size − overlap; chunk i covers
    * `[i·stride, i·stride + size)`; the chunk count
    * `max(1, ceil((len − overlap)/stride))` covers the tail and
    * yields exactly one (possibly empty) chunk for short docs. Pure
    * explode of a bounded sequence + substring — a narrow map stage
    * whose fan-out is len/stride, no shuffle.
    *
    * (The ceil numerator can go negative for degenerate
    * overlap > size/2 inputs where trunc-vs-floor division differs
    * across engines — harmless, the max(1, …) clamp absorbs it.)
    */
  def chunk(docs: DataFrame, size: Int = 200, overlap: Int = 50): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      "need 0 <= overlap < size")
    val stride = size - overlap
    val len = length(col("text"))
    val nChunks = greatest(lit(1L),
      ((len - overlap + (stride - 1)) / stride).cast("long"))
    docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        col("text").substr((col("chunk_id") * stride + 1).cast("int"),
          lit(size)).as("chunk"))
  }

  /** Token-boundary chunking twin of [[chunk]]: windows of `size`
    * whitespace tokens with `overlap` tokens shared between
    * neighbors — the variant embedding pipelines prefer, since a
    * character window can split a word. Same bounded-explode shape
    * (slice over the split array), same tail-covering chunk count.
    */
  def chunkTokens(docs: DataFrame, size: Int = 40,
      overlap: Int = 10): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      "need 0 <= overlap < size")
    val stride = size - overlap
    val words = split(col("text"), " ")
    // `size` the param shadows functions.size — qualify the latter
    val nWords = org.apache.spark.sql.functions.size(words)
    val nChunks = greatest(lit(1L),
      ((nWords - overlap + (stride - 1)) / stride).cast("long"))
    docs
      .select(col("doc_id"), words.as("_w"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        array_join(slice(col("_w"),
          (col("chunk_id") * stride + 1).cast("int"), lit(size)), " ")
          .as("chunk"))
  }

  /** Character-diversity signal via the Simpson index: the collision
    * probability that two random character positions hold the same
    * character, `Σ cᵢ² / n²`. Degenerate/repetitive text scores high,
    * varied prose low — an entropy-style quality signal WITHOUT
    * `log`, whose cross-engine last-ulp variance would break oracle
    * verification; the exact integer Σcᵢ² plus one double division is
    * bit-identical everywhere.
    *
    * One narrow codegen'd projection: the Σcᵢ² numerator comes from
    * the [[graft.functions.char_collision]] kernel (single pass per
    * string), and n is `length` — both count CODE POINTS, so they
    * agree on any text. The obvious alternative — explode each
    * character into a row and groupBy twice — would shuffle a row per
    * character of the corpus; at 100 TB that is the corpus itself,
    * exploded. Output: (doc_id, n_chars_d, collision_num, collision).
    */
  def charDiversity(docs: DataFrame): DataFrame = {
    val n = coalesce(length(col("text")).cast("long"), lit(0L))
    val num = coalesce(graft.functions.char_collision(col("text")), lit(0L))
    docs.select(col("doc_id"), n.as("n_chars_d"),
      num.as("collision_num"),
      when(n === 0L, lit(0.0))
        .otherwise(num.cast("double") / (n * n).cast("double"))
        .as("collision"))
  }

  /** Content fingerprint: sdbm hash of whitespace-normalized lowercase
    * text — reuses the engine's own F6 hash as a rolling content hash.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      sdbm_hash(lit(0L),
        trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))

  /** Per-document top-k keywords by TF-IDF-style weighting.
    *
    * The score is the exact rational `tf · (N+1) / (df+1)` — monotone
    * in term frequency and inverse document frequency like classic
    * tf·idf, but free of `ln`, whose last-ulp rounding is NOT
    * guaranteed identical across engines (Java Math.log is allowed
    * 1 ulp error) and would poison cross-engine verification. The
    * single double division of two exact integers IS correctly
    * rounded everywhere. Ties break by term text, so top-k is total.
    *
    * Plan shape at scale: tokenize/explode (map) → (doc, term) count
    * with map-side partial aggregation → vocabulary-sized df table →
    * join on term (AQE may broadcast a small vocabulary; nothing
    * forces it) → per-doc window for the top-k. Three shuffles, each
    * on the natural key of its stage; no collect, no N² anywhere —
    * the corpus count joins in as a 1-row frame, not a driver value.
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 5): DataFrame = {
    val terms = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_corpus"))
    val scored = tf.join(df, "term").crossJoin(n)
      .withColumn("score",
        (col("tf") * (col("n_corpus") + 1L)).cast("double") /
          (col("df") + 1L))
    val rank = row_number().over(
      Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term")))
    scored.withColumn("rank", rank.cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("score"))
  }

  /** Compression-ratio quality signal: deflate length over UTF-8 byte
    * length per document (one narrow codegen'd projection —
    * [[graft.functions.DeflateLenExpr]]). Boilerplate and templated
    * text compresses far below natural prose; the standard corpus
    * filter thresholds the ratio from both ends (too compressible =
    * repetitive, incompressible = binary junk/random). Ratio is one
    * exact-integer division; empty/null text → ratio 0.
    */
  def compressionSignal(docs: DataFrame): DataFrame = {
    val nb = octet_length(coalesce(col("text"), lit("")))
    docs.select(col("doc_id"), nb.cast("long").as("n_bytes"),
        graft.functions.deflate_len(col("text")).as("deflate_len"))
      .withColumn("ratio",
        when(col("n_bytes") === 0L, lit(0.0))
          .otherwise(col("deflate_len").cast("double") /
            col("n_bytes").cast("double")))
  }

  /** CCNet-style fluency proxy without floats: score each document by
    * the mean corpus-bigram conditional probability of its adjacent
    * token pairs — P(w2|w1) = n(w1 w2) / n(w1 ·), where the
    * denominator counts bigrams STARTING with w1 (so the conditional
    * distribution sums to 1 per w1). A document whose transitions are
    * common in the corpus scores high; boilerplate-ish or shuffled
    * text scores low. The real CCNet scores against a pretrained
    * KenLM; here the corpus is its own language model — the
    * self-supervised variant a hygiene pipeline can always run.
    *
    * Exact integer arithmetic end to end: per-pair score is
    * `(10000 * n_pair) div n_w1` basis points (truncating in both
    * engines for non-negative counts), the per-doc mean is again a
    * truncating `div`, so the oracle hash-matches bit for bit —
    * no log-prob floats, no libm divergence.
    *
    * 100 TB shape: the fact-side bigram stream is touched exactly
    * three times — one map-side-combinable groupBy(pair) to build the
    * model, one hash equi-join to attach per-pair scores, one final
    * groupBy(doc_id). Everything else happens on the VOCABULARY-sized
    * pair table: n(w1 ·) is re-aggregated from the pair counts
    * (Σ_pairs-starting-with-w1 n_pair ≡ the raw start count — no
    * second pass over the corpus), and the bp score is attached there
    * too, so the model join carries one ready long per pair. Model
    * sides are NOT hint-broadcast (a web-scale bigram table is many
    * GB); they are plain hash equi-joins AQE can re-plan — at fixture
    * scale it broadcasts them on stats, which is exactly the
    * behavior you want either way. Docs with fewer than two tokens
    * keep a row via the left join, scoring (0, 0) — totality
    * preserved.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val bigrams = docs
      .select(col("doc_id"),
        explode(graft.functions.word_shingles(Dedup.tokens(col("text")), 2))
          .as("pair"))
    val pairCounts = bigrams.groupBy(col("pair"))
      .agg(count(lit(1)).as("n_pair"))
      .withColumn("w1", split(col("pair"), " ").getItem(0))
    val startCounts = pairCounts.groupBy(col("w1"))
      .agg(sum(col("n_pair")).as("n_w1"))
    val pairModel = pairCounts.join(startCounts, "w1")
      .select(col("pair"), expr("(10000 * n_pair) div n_w1").as("pair_bp"))
    val scored = bigrams.join(pairModel, "pair")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("pair_bp")).as("bp_sum"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0L, lit(0L))
          .otherwise(expr("bp_sum div n_bigrams")).as("mean_bp"))
  }

  /** Inverted index over whitespace tokens: one row per term with its
    * document frequency and the sorted posting list (comma-joined
    * string — stable to hash and engine-neutral; a production store
    * would keep the `array<long>` column and shard long lists).
    *
    * 100 TB shape: explode → one map-side-combinable groupBy on the
    * term. Stopword-grade terms concentrate their postings on one
    * reducer — the classic skew — so real deployments either drop a
    * stopword list first or range-shard postings by (term, id bucket);
    * both compose as a filter/extra group key on this same plan.
    */
  def invertedIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"),
        array_join(transform(array_sort(collect_set(col("doc_id"))),
          _.cast("string")), ",").as("postings"))

  /** Term-at-a-time top-k text search with a tf·idf-style score in
    * PURE integer arithmetic: per query term,
    * `w = (1e6·(N+1)) div (df+1)` (the same ln-free rational idf as
    * [[tfidfKeywords]], scaled and floor-divided so the per-doc score
    * `Σ tf·w` is an exact BIGINT — no double summation order, no
    * round() tie semantics, bit-identical on any engine/topology).
    *
    * 100 TB shape: the term filter prunes the explode before the
    * (doc, term) aggregate, df is a per-term rollup of that same
    * pruned frame, and the final top-k is TakeOrderedAndProject, not
    * a global sort.
    */
  def searchTopK(docs: DataFrame, terms: Seq[String],
      k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    val toks = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_corpus"))
    // tf*w and its sum are decimal-widened: w reaches ~5e14 at 1e9
    // docs, so a long product would overflow (ANSI abort) for heavy
    // tf; the idf multiply itself stays in long — exact until ~9e12
    // docs, documented headroom. Output cast back to BIGINT (values
    // fit; the oracle does the same from HUGEINT).
    tf.join(df, "term").crossJoin(n)
      .withColumn("w", idiv(
        lit(1000000L) * (col("n_corpus") + 1L), col("df") + 1L))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf").cast("decimal(38,0)") * col("w"))
          .cast("long").as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Gopher/C4-style quality-filter chain: compose the standalone
    * signals into a keep/drop decision with the FIRST failing check as
    * the reason (fixed order: token bounds → language → repetition →
    * quality, the C4 order — langid early so repetition/quality
    * thresholds are only judged on in-scope languages). This is the
    * operator a pipeline actually runs — the standalone signal frames
    * above are its diagnostics.
    *
    * One narrow codegen'd projection; at 100 TB the filter is a map
    * stage and the kept set is `.filter(col("keep"))` with no extra
    * pass. Null `quality` (empty text) is unreachable as a reason —
    * empty text fails the token floor first.
    */
  def qualityFilter(docs: DataFrame, minTokens: Long = 20,
      maxTokens: Long = 90, maxRep: Double = 0.04,
      minQuality: Double = 0.5,
      allowedLangs: Seq[String] = Seq("en"),
      extraCols: Seq[String] = Nil): DataFrame = {
    val txt = col("text")
    val nt = nTokens(txt)
    val rr = repRatio(txt)
    val q = quality(txt)
    val pl = predLang(txt)
    // null text must DROP: every threshold comparison on null yields
    // null, which skips all whens and would land in the 'ok' default
    // — exactly backwards for a hygiene filter
    val reason = when(txt.isNull, "null_text")
      .when(nt < minTokens, "too_few_tokens")
      .when(nt > maxTokens, "too_many_tokens")
      .when(!pl.isin(allowedLangs: _*), "lang")
      .when(rr > maxRep, "repetitive")
      .when(q < minQuality, "low_quality")
      .otherwise("ok")
    docs.select(col("doc_id") +: extraCols.map(col) ++: Seq(
      nt.as("n_tokens"), rr.as("rep_ratio"),
      q.as("quality"), pl.as("pred_lang"),
      (reason === "ok").as("keep"), reason.as("reason")): _*)
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
    * 2003 — the MOSS local fingerprinting algorithm): word k-grams →
    * integer gram ids → per sliding window of `w` consecutive grams,
    * select the minimum id, ties broken RIGHTMOST; the distinct
    * selected (gram, position) pairs are the document's fingerprints.
    * Guarantees: any shared substring of ≥ w+k-1 words yields ≥ 1
    * shared fingerprint, and ~1/w of grams are kept — position-robust
    * local dedup evidence where MinHash gives only whole-doc
    * similarity.
    *
    * Gram ids are EXACT, not hashed: words rank into a corpus vocab
    * (alphabetical dense rank, vocab-sized single-task sort — same
    * bound as text_vocab) and a k-gram encodes base-V. Keeps the
    * whole operator oracle-checkable; a murmur gram id would be the
    * drop-in for vocabularies past ~100k words (V³ must fit int64).
    *
    * Window selection = `min(struct(gram, -pos))` over a [current,
    * w-1 following] row frame partitioned by doc — struct ordering
    * gives min-gram with rightmost-min tie-break in one codegen'd
    * window pass, no self-join. Anchors stop at m-w+1 (full windows;
    * a doc with fewer than w grams contributes its single global
    * min), matching the paper's definition.
    *
    * Output: (doc_id, pos, gram) — pos is the selected gram's 1-based
    * word position.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 3,
      w: Int = 4): DataFrame = {
    val words = docs
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("p0", "word")))
      .filter(col("word") =!= "")
      // renumber AFTER the empty-token filter so positions stay
      // consecutive (frame arithmetic below depends on it) and agree
      // with an oracle that filters before indexing
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("p0"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"))
    val vocab = words.select(col("word")).distinct()
      .withColumn("r", dense_rank().over(Window.orderBy(col("word"))))
    val vTot = vocab.agg((count(lit(1)) + 1).as("v"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val ranked = words.join(vocab, "word").crossJoin(broadcast(vTot))
    val grams = ranked
      .withColumn("g",
        // Horner base-V encode, pure int64 (no doubles anywhere)
        (1 until k).foldLeft(col("r").cast("long")) { (acc, i) =>
          acc * col("v") + lead(col("r"), i).over(byDoc)
        })
      .filter(col("g").isNotNull) // tail positions with no full k-gram
      .select(col("doc_id"), col("pos"), col("g"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("sel",
        min(struct(col("g"), (-col("pos")).as("np"))).over(frame))
      .filter(col("pos") <= greatest(col("m") - (w - 1), lit(1L)))
      .select(col("doc_id"), (-col("sel.np")).as("pos"),
        col("sel.g").as("gram"))
      .distinct()
  }

  /** Shared-fingerprint document pairs — winnowing's detection step:
    * join fingerprints on gram VALUE (bucketed equi-join, never
    * all-pairs), drop ubiquitous grams first (df > maxDf — the
    * boilerplate guard, same role as an idf cutoff), count shared
    * distinct grams per pair, keep pairs sharing ≥ minShared.
    * Output: (id_a, id_b, n_shared), id_a < id_b.
    */
  def winnowPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Long = 8, maxDf: Long = 20): DataFrame = {
    // the fingerprint relation feeds the df-filter AND both sides of
    // the pair self-join — four consumers of the same words→vocab→
    // grams→window lineage. Checkpoint it once (≈ n/w rows, the
    // selected grams only) so the plan holds ONE winnowing pass, not
    // four re-derivations each re-scanning the corpus.
    val fp = pin("winnowPairs fingerprints", winnowFingerprints(docs, k, w)
      .select(col("doc_id"), col("gram")).distinct())
    val rare = fp.groupBy(col("gram"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select(col("gram"))
    val kept = fp.join(rare, "gram")
    kept.select(col("gram"), col("doc_id").as("id_a"))
      .join(kept.select(col("gram"), col("doc_id").as("id_b")), "gram")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Okapi BM25 top-k search (Robertson & Walker 1994) in PURE integer
    * arithmetic — the length-normalized upgrade of [[searchTopK]]'s
    * flat tf·idf. Classic parameters k1 = 1.2, b = 0.75 are kept as
    * the exact rationals 6/5 and 3/4; with corpus length L = Σ dl and
    * N docs (avgdl = L/N), per (doc, term):
    *
    *   tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *     = 22·L·tf / (10·L·tf + 3·L + 9·N·dl)
    *
    * after multiplying through by 10·L — so each term's contribution
    * is `(w · 22 · L · tf) div (10·L·tf + 3·L + 9·N·dl)` with the
    * same ln-free rational idf `w = (1e6·(N+1)) div (df+1)` as the
    * rest of the retrieval family. Every step is integer (numerator
    * decimal-widened: w reaches ~5e14 at 1e9 docs and L multiplies
    * past long range; the divisor stays in long until ~1e17 tokens),
    * so scores are exact BIGINTs — no FP summation order, no ln ulp,
    * bit-identical on any topology and re-derivable by the oracle.
    *
    * Plan shape at scale: one tokenize pass feeds BOTH the per-doc
    * length table (full-corpus agg — BM25's length prior needs it)
    * and the term-filtered tf frame; df is a rollup of tf; N and L
    * join as 1-row frames. Final top-k is TakeOrderedAndProject.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String],
      k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "BM25 search needs at least one term")
    val toks = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(sum(col("dl")).as("len_corpus"))
    val n = docs.agg(count(lit(1)).as("n_corpus"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
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
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** χ² term–class feature selection (the classic text-classification
    * feature ranking, e.g. Yang & Pedersen, ICML 1997): for each
    * (class, term) contingency table over document-level presence —
    * a = in-class docs containing the term, b = out-of-class docs
    * containing it, c/d their complements, N total docs —
    *
    *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * emitted as `chi2_micro = (1e6·N·(ad−bc)²) div denom`, all
    * integer: counts are exact, the single floor division is the only
    * rounding, so ranks are total and oracle-checkable. `direction`
    * = sign(ad − bc) says whether the term is over- (+1) or under-
    * (−1) represented in the class — χ² itself is two-sided.
    *
    * Numerator is decimal-widened: exact while N·(ad−bc)² ≤ ~1e32
    * (e.g. 10⁶ docs with df ≤ 10⁴ — DuckDB's HUGEINT has the same
    * 128-bit envelope). Past that a double χ² keeps the ranking and
    * drops only the micro-exactness, which exists for the oracle.
    *
    * Plan shape at scale: tokenize → per-doc DISTINCT terms (the
    * presence model — `array_distinct` before explode keeps the
    * dedup inside the map stage) → (class, term) counts with partial
    * aggregation → vocabulary-sized df rollup → the FULL class×term
    * grid (every qualifying term is scored against every class, so a
    * term's ABSENCE from a class is evidence too — a = 0 rows carry
    * direction −1; the grid is |classes|·|vocab ≥ minDf| rows, the
    * size a feature-selection table has to be) → per-class window
    * top-k. Terms present in every document are excluded (their
    * (c+d) = 0 denominator mirrors their zero information content);
    * `minDf` prunes the hapax tail before the grid, the same
    * df-cutoff a real feature selector applies.
    */
  /** Flesch reading-ease score in exact integer micro-units — the
    * readability heuristic of the quality-filter family (alongside
    * stopword/punct ratios): 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), with syllables approximated by vowel
    * GROUPS (`[aeiouy]+` runs — the standard cheap proxy) and
    * sentences by terminal-punctuation runs, floored at 1 so the
    * division is total. Two truncating divisions are the only
    * rounding, so both engines agree bit-wise; the exact constant
    * arithmetic is documented in-line. Shuffle-free: one codegen'd
    * projection (regexp counts + a split length), the [[qualityFilter]]
    * plan shape. Docs with zero words are excluded (no defined score).
    * Output: (doc_id, words, sentences, syllables, flesch_micro).
    */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .cast("long").as("words"),
        greatest(lit(1L),
          regexp_count(col("text"), lit("[.!?]+")).cast("long"))
          .as("sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
          .as("syllables"))
      .filter(col("words") > 0)
      // flesch·10⁶ = 206835000 − 1015000·w div s − 84600000·syl div w
      .withColumn("flesch_micro",
        lit(206835000L) - expr("(1015000 * words) div sentences") -
          expr("(84600000 * syllables) div words"))

  /** Code-vs-prose heuristic — the pretraining-corpus router signal
    * (code wants different tokenization, dedup grain and quality
    * thresholds than prose): exact integer counts of code-shaped
    * syntax characters, assignment operators and indented lines,
    * folded into one basis-point score per kilochar-ish unit
    * (weights are heuristic and DOCUMENTED, the counts are the
    * signal). Shuffle-free codegen'd projection like [[readability]].
    * Output: (doc_id, syntax_chars, assigns, indented_lines, code_bp).
    */
  def codeScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit("[{}\\[\\]();]")).cast("long")
          .as("syntax_chars"),
        regexp_count(col("text"), lit("=")).cast("long").as("assigns"),
        size(filter(split(col("text"), "\n"), l => l.startsWith("  ")))
          .cast("long").as("indented_lines"),
        greatest(lit(1L), length(col("text")).cast("long")).as("nc"))
      .withColumn("code_bp",
        expr("(10000 * (3 * syntax_chars + 2 * assigns + " +
          "5 * indented_lines)) div nc"))
      .select(col("doc_id"), col("syntax_chars"), col("assigns"),
        col("indented_lines"), col("code_bp"))

  /** Corpus boilerplate-sentence detection — the CCNet/RefinedWeb
    * paragraph-dedup signal at sentence grain: a sentence appearing
    * verbatim in ≥ `minDocs` DISTINCT documents is template noise
    * (cookie banners, nav text, license footers), not content, and a
    * training-corpus cleaner strips it before near-dup scoring ever
    * runs. Sentences are terminal-punctuation splits, trimmed and
    * lowercased; counting is per DISTINCT (doc, sentence) so a
    * sentence repeated inside ONE doc (that's [[repetition]]'s
    * signal) doesn't inflate its corpus spread.
    *
    * Shape: one explode → distinct → sentence-keyed count — the
    * text_novelty plan with sentence keys. Output: top-k
    * (sentence, n_docs), n_docs ≥ minDocs, deterministic tiebreak.
    */
  def boilerplateSentences(docs: DataFrame, minDocs: Long = 3L,
      k: Int = 20): DataFrame =
    docs.select(col("doc_id"),
        explode(split(col("text"), "[.!?]+")).as("s0"))
      .select(col("doc_id"), trim(lower(col("s0"))).as("sentence"))
      .filter(col("sentence") =!= "")
      .distinct()
      .groupBy(col("sentence"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("sentence"))
      .limit(k)

  def chiSquareTerms(docs: DataFrame, classCol: String = "source",
      k: Int = 3, minDf: Long = 3): DataFrame = {
    val dt = docs.select(col("doc_id"), col(classCol).as("cls"),
        explode(array_distinct(split(lower(col("text")), " ")))
          .as("term"))
      .filter(col("term") =!= "")
    val n = docs.agg(count(lit(1)).as("n_total"))
    val clsSize = docs.groupBy(col(classCol).as("cls"))
      .agg(count(lit(1)).as("n_cls"))
    val dfTab = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val present = dt.groupBy(col("cls"), col("term"))
      .agg(count(lit(1)).as("a_present"))
    val scored = clsSize.crossJoin(dfTab)
      .join(present, Seq("cls", "term"), "left")
      .withColumn("a", coalesce(col("a_present"), lit(0L)))
      .crossJoin(n)
      .filter(col("df") < col("n_total"))
      .withColumn("b", col("df") - col("a"))
      .withColumn("c", col("n_cls") - col("a"))
      .withColumn("d",
        col("n_total") - col("df") - col("n_cls") + col("a"))
      .withColumn("det",
        (col("a") * col("d") - col("b") * col("c"))
          .cast("decimal(38,0)"))
      .withColumn("chi2_micro", idiv(
        lit(1000000L) * col("n_total") * col("det") * col("det"),
        (col("a") + col("b")) * (col("c") + col("d"))
          * (col("a") + col("c")) * (col("b") + col("d"))))
      .withColumn("direction", signum(col("det")).cast("int"))
    val w = Window.partitionBy(col("cls"))
      .orderBy(col("chi2_micro").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("cls"), col("rank"), col("term"), col("df"),
        col("a").as("in_class_df"), col("chi2_micro"), col("direction"))
  }

  /** Byte-pair-encoding merge TRAINING (Sennrich, Haddow & Birch
    * 2016) — learn the first `rounds` merges from the corpus, the
    * step [[graft.SparkEntry]]'s text_bpe_tokens (a tokenizer with a
    * fixed rule) presupposes. Classic BPE trains on the WORD-
    * FREQUENCY table, and that is the whole scale story: the corpus
    * collapses to (word, count) once — vocabulary-bounded however
    * many documents — and every merge round then costs one pair
    * explosion + hash aggregation over that bounded table, a 1-row
    * argmax (ties to the lexicographically smallest pair, so the
    * learned merges are a pure function of the corpus), and one
    * broadcast-scalar string rewrite. Words are spelled as space-
    * separated symbols with an `_` end-of-word sentinel; a merge
    * replaces ` p1 p2 ` with ` p1p2 ` left-to-right without
    * rescanning, identical in Spark's and DuckDB's `replace`.
    * Documented divergence from the canonical pairing: on a RUN of a
    * repeated symbol the occurrences share separator spaces, so one
    * round merges `a a a a` to `aa a a` (the canonical scan gives
    * `aa aa`); later rounds re-merge the tail, and off-run pairs —
    * the overwhelming case on natural text — are identical.
    *
    * Output: (round, pair, pair_cnt) — the merge table, ordered.
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1)
    val (merges, _) = bpeLoop(docs, rounds)
    merges.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** The shared BPE training loop behind [[bpeMerges]] and
    * [[bpeTrain]]: collapse the corpus to the (word, count) table
    * once, then per round (a) count symbol pairs over that
    * vocabulary-bounded table, (b) take the 1-row argmax with the
    * deterministic (count desc, pair asc) tie-break, (c) rewrite the
    * symbol sequences with the winning merge via a broadcast-scalar
    * cross join. Each round's rewrite is pinned so round r+1's plan
    * doesn't replay rounds 1..r (the kmeans/pagerank bounded-iteration
    * discipline); the pin logs the pre-checkpoint plan, so the plan
    * audit still sees the per-round shape.
    * Returns (one 1-row frame per merge, the final rewritten table).
    */
  private def bpeLoop(docs: DataFrame,
      rounds: Int): (Seq[DataFrame], DataFrame) = {
    var cur = pin("bpe vocabulary", docs
      .select(explode(Dedup.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), concat(lit(" "),
        regexp_replace(col("w"), "(.)", "$1 "), lit("_ ")).as("seq"),
        col("cnt")))
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val best = pin(s"bpe round $r best pair", cur
        .select(explode(graft.functions.word_shingles(
          Dedup.tokens(col("seq")), 2)).as("pr"), col("cnt"))
        .groupBy(col("pr")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("pr")).limit(1))
      merges += best.select(lit(r.toLong).as("round"),
        col("pr").as("pair"), col("n").as("pair_cnt"))
      cur = pin(s"bpe round $r rewrite",
        cur.crossJoin(broadcast(best.select(col("pr"))))
          .select(col("w"), expr("""replace(seq, ' ' || pr || ' ',
              ' ' || replace(pr, ' ', '') || ' ')""").as("seq"),
            col("cnt")))
    }
    (merges.result(), cur)
  }

  /** The post-training word table — (w, seq, cnt) after `rounds`
    * merges, each word's `seq` its final space-separated symbol
    * spelling. Exposed so the registry can memoize ONE training run
    * and feed both [[bpeTrainFromFinal]] (the vocab census) and
    * [[bpeEncodeFromFinal]] (the corpus encode) from it.
    */
  def bpeFinal(docs: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 1)
    bpeLoop(docs, rounds)._2
  }

  /** [[bpeTrain]]'s census over an already-trained word table. */
  def bpeTrainFromFinal(fin: DataFrame): DataFrame =
    fin.select(col("w"), col("cnt"),
        explode(Dedup.tokens(col("seq"))).as("symbol"))
      .groupBy(col("symbol"))
      .agg(countDistinct(col("w")).as("n_words"),
        sum(col("cnt")).as("freq"))
      .select(col("symbol"), col("n_words"), col("freq"),
        (length(col("symbol")) > 1).as("is_merged"))
      .orderBy(col("freq").desc, col("symbol"))

  /** Apply the learned merges back to the corpus — the ENCODE step
    * that completes train → apply: a word's token count is the
    * length of its symbol sequence in the trained table, and a
    * document's BPE length is the sum over its words. Fertility
    * (BPE tokens per word, basis points; Rust et al. 2021 "How Good
    * is Your Tokenizer?") is the per-doc tokenizer-quality readout —
    * 10⁴ means every word became a single token, higher means the
    * vocabulary fragments this document.
    *
    * Output: (doc_id, n_words, n_bpe_tokens, fertility_bp) per doc.
    *
    * PRECONDITION: `docs`' word set must be a subset of the corpus
    * `fin` was trained on — the word join is INNER, so an
    * out-of-vocabulary word silently drops out of BOTH n_words and
    * n_bpe_tokens, skewing fertility_bp downward. That is the right
    * contract for the train-then-encode-same-corpus flow this
    * operator serves (and the registry exercises); encoding unseen
    * text is [[bpeEncodeOovSafe]]'s job — the per-character-fallback
    * variant, a different operator rather than a flag here.
    *
    * 100 TB shape: the corpus explodes to word grain once and
    * equi-joins the vocabulary-bounded word table on the word key —
    * AQE broadcasts it when it is small; at web-scale vocabularies
    * it stays a keyed shuffle, never quadratic. The per-doc rollup
    * is one hash aggregate.
    */
  def bpeEncodeFromFinal(docs: DataFrame, fin: DataFrame): DataFrame = {
    val wordLen = fin.select(col("w"),
      size(Dedup.tokens(col("seq"))).cast("long").as("n_sym"))
    docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("w"))
      .join(wordLen, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_bpe_tokens"))
      .withColumn("fertility_bp",
        expr("(10000 * n_bpe_tokens) div n_words"))
  }

  /** One-shot train + encode (see [[bpeEncodeFromFinal]]). */
  def bpeEncode(docs: DataFrame, rounds: Int = 8): DataFrame =
    bpeEncodeFromFinal(docs, bpeFinal(docs, rounds))

  /** [[bpeEncodeFromFinal]] for corpora the vocabulary was NOT
    * trained on — the OOV-safe encode: in-vocabulary words take
    * their trained symbol count through the same left-keyed join; an
    * out-of-vocabulary word falls back to its per-character base
    * segmentation (its characters plus the `_` end-of-word sentinel
    * = length+1 symbols — exactly the spelling every word starts
    * from before the first merge, so the fallback is the zero-merge
    * encode of that word, not an `<unk>` information loss). `n_oov`
    * is emitted per doc so vocabulary drift is visible in the
    * readout, the number every train-once-encode-forever pipeline
    * watches.
    *
    * Output: (doc_id, n_words, n_oov, n_bpe_tokens, fertility_bp).
    *
    * 100 TB shape: identical to [[bpeEncodeFromFinal]] — the corpus
    * explodes to word grain once, one keyed LEFT join against the
    * vocabulary-bounded word table, one per-doc hash aggregate.
    */
  def bpeEncodeOovSafe(docs: DataFrame, fin: DataFrame): DataFrame = {
    val wordLen = fin.select(col("w"),
      size(Dedup.tokens(col("seq"))).cast("long").as("n_sym"))
    docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("w"))
      .join(wordLen, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("n_sym").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("n_sym"),
          (length(col("w")) + 1).cast("long"))).as("n_bpe_tokens"))
      .withColumn("fertility_bp",
        expr("(10000 * n_bpe_tokens) div n_words"))
  }

  /** Full BPE VOCABULARY training — run `rounds` merge rounds
    * ([[bpeLoop]]) and emit the learned vocabulary: the census of
    * every symbol surviving in the post-merge word-frequency table.
    * `freq` is the symbol's corpus-weighted occurrence count (a
    * symbol twice in one word counts twice, scaled by the word's
    * frequency), `n_words` the number of distinct words containing
    * it, `is_merged` marks multi-character symbols the training
    * created (base symbols are single characters plus the `_`
    * end-of-word sentinel). This is the artifact a tokenizer ships:
    * merges list ([[bpeMerges]]) + final vocab (this).
    *
    * 100 TB shape: the corpus is scanned ONCE (the word-frequency
    * collapse); all `rounds` iterations then run over the
    * vocabulary-bounded table — pair counting is a hash aggregate on
    * a |vocab|-row frame, the argmax is 1 row, the rewrite is a
    * broadcast-scalar projection. The final census is one more
    * vocab-bounded aggregate. Nothing after the first collapse
    * touches corpus-sized data.
    *
    * Output: (symbol, n_words, freq, is_merged) ordered by freq
    * desc, symbol.
    */
  def bpeTrain(docs: DataFrame, rounds: Int = 8): DataFrame =
    bpeTrainFromFinal(bpeFinal(docs, rounds))

  /** Zipf slope fit — the one-number distribution-shape readout
    * papers quote (natural language reads ≈ −1; template spam and
    * synthetic text drift off it): least-squares slope of log₂
    * frequency against log₂ rank, fitted over POWER-OF-TWO BUCKETS
    * so every step is integer-exact. The unit is character 3-grams
    * (the dedup family's shingle grain), whose frequency spectrum is
    * large and graded on any real corpus — the fixture's WORD vocab
    * is 31 synthetic tokens, which collapses every rank bucket to one
    * x and degenerates the fit; a degenerate spectrum (zero x-spread)
    * reports NULL slope on both engines rather than dividing by zero.
    * Frequencies bucket by the `length(bin(f))−1` idiom; the rank at
    * each bucket boundary (#grams in that bucket or above) comes from
    * a constant-bounded `sequence(0, y)` explode + re-aggregation —
    * the cumulative sum WITHOUT a global window (a ≤64-way fan-out of
    * a ≤64-row frame, never an `Exchange SinglePartition`). The
    * regression limbs are the exact fraction-cleared forms; slope and
    * intercept come out in truncating milli units.
    *
    * Output: 1 row — (n_points, slope_milli, intercept_milli).
    *
    * 100 TB shape: one exploded hash aggregate to the gram vocabulary
    * (the only corpus-grain work), then every frame is ≤64 rows.
    */
  def zipfSlope(docs: DataFrame): DataFrame = {
    // docs shorter than one gram are dropped BEFORE the sequence is
    // built: sequence(1, greatest(len-2, 0)) on a 2-char doc is the
    // DESCENDING [1, 0] (Spark sequences count down when end < start)
    // and would fabricate grams the DuckDB twin's range() never emits
    val vc = docs
      .filter(length(col("text")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, length(text) - 2)," +
          " i -> substring(lower(text), i, 3))")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val by = vc.select((length(bin(col("f"))) - 1).cast("long").as("y"))
      .groupBy(col("y")).agg(count(lit(1)).as("m"))
    val ranks = by
      .select(explode(expr("sequence(0L, y)")).as("y2"), col("m"))
      .groupBy(col("y2")).agg(sum(col("m")).as("rge"))
    val pts = ranks.select(
      (length(bin(col("rge"))) - 1).cast("long").as("x"), col("y2").as("y"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    // Signed-division parity: the slope numerator n·sxy − sx·sy is
    // NEGATIVE for any real Zipf spectrum (y falls as x grows).
    // Bare `div` is still engine-identical here because Spark `div`
    // on DECIMAL and the twin's `//` on HUGEINT BOTH truncate toward
    // zero (verified: -7 // 2 = -3 in DuckDB 1.0) — satisfying the
    // idiv contract's signed-case clause (functions/package.scala)
    // by proof of matching truncation rather than non-negativity.
    pts.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d(col("x")) * d(col("y"))).as("sxy"),
        sum(d(col("x")) * d(col("x"))).as("sx2"))
      .select(col("n").as("n_points"),
        expr("CAST(CASE WHEN n * sx2 - sx * sx = 0 THEN NULL" +
          " ELSE (1000 * (n * sxy - sx * sy))" +
          " div (n * sx2 - sx * sx) END AS BIGINT)").as("slope_milli"),
        expr("CAST(CASE WHEN n * sx2 - sx * sx = 0 THEN NULL" +
          " ELSE (1000 * (sy * sx2 - sx * sxy))" +
          " div (n * sx2 - sx * sx) END AS BIGINT)")
          .as("intercept_milli"))
  }

  /** Gopher-style document hygiene rules (Rae et al. 2021 "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", Table A1), rolled up per source — the rule-based
    * pre-filter every web-scale corpus runs before model-based
    * scoring. Four of the paper's rules are expressible over this
    * fixture's text shape (word-count bounds, mean-word-length
    * window, minimum stopword evidence, alphabetic-word share);
    * symbol-ratio/bullet/ellipsis rules degenerate on single-line
    * space-separated text and are deliberately omitted rather than
    * trivially passed.
    *
    * Exact integer arithmetic: mean word length rides centi-units
    * ((100·Σ|w|) div n_words), the alpha-share rule compares
    * 100·alpha_words < 80·n_words cleared of fractions, and the
    * rollup is one map-side-combinable groupBy(source). 100 TB shape:
    * a narrow projection (per-row HOFs over the token array, no
    * explode) followed by a ~source-cardinality aggregate.
    */
  def gopherRules(docs: DataFrame, minWords: Long = 50,
      maxWords: Long = 100000, minMwlCenti: Long = 300,
      maxMwlCenti: Long = 1000, minStopHits: Long = 2,
      minAlphaPct: Long = 80): DataFrame = {
    // four backslashes: the SQL parser unescapes the string literal a
    // second time, so the regex \s+ needs \\s+ at the SQL layer
    val words = expr("filter(split(lower(text), '\\\\s+'), w -> w <> '')")
    val d = docs.select(col("source"),
      size(words).cast("long").as("n_words"),
      // ALL whitespace stripped (not just spaces) so sum_len is truly
      // Σ|w| over the same \s+ tokenization n_words uses — a tab or
      // newline in a doc would otherwise inflate mean word length
      // (r13 advice; the oracle twin mirrors this regexp)
      length(regexp_replace(col("text"), lit("\\s"), lit("")))
        .cast("long").as("sum_len"),
      size(expr("""filter(filter(split(lower(text), '\\s+'),
        w -> w <> ''), w -> w IN ('the','a','of','to','and','in','be',
        'that'))""")).cast("long").as("stop_hits"),
      size(expr("""filter(filter(split(lower(text), '\\s+'),
        w -> w <> ''), w -> w rlike '^[a-z]+$')"""))
        .cast("long").as("alpha_words"))
    val mwl = when(col("n_words") === 0, lit(0L))
      .otherwise(expr("(100 * sum_len) div n_words"))
    val flagged = d.select(col("source"),
      (col("n_words") < minWords || col("n_words") > maxWords)
        .as("v_wc"),
      (mwl < minMwlCenti || mwl > maxMwlCenti).as("v_mwl"),
      (col("stop_hits") < minStopHits).as("v_stop"),
      (lit(100) * col("alpha_words") < lit(minAlphaPct) * col("n_words"))
        .as("v_alpha"))
    val cnt = (c: Column) => sum(when(c, 1L).otherwise(0L))
    flagged.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        cnt(col("v_wc")).as("viol_word_count"),
        cnt(col("v_mwl")).as("viol_mean_word_len"),
        cnt(col("v_stop")).as("viol_stopwords"),
        cnt(col("v_alpha")).as("viol_alpha_share"),
        cnt(!col("v_wc") && !col("v_mwl") && !col("v_stop") &&
          !col("v_alpha")).as("n_pass"))
      .withColumn("pass_bp", expr("(10000 * n_pass) div n_docs"))
      .orderBy(col("source"))
  }

  /** CCNet-style corpus bucketing (Wenzek et al. 2020 "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): score every document with the corpus-as-its-own-LM
    * fluency proxy ([[lmScore]]) and cut the corpus into
    * head/middle/tail TERCILES of that score — CCNet's actual
    * pipeline step (it buckets by KenLM perplexity; the bucket
    * boundaries here are value-domain tercile cuts, so ties share a
    * bucket and the result is partitioning-invariant). Output is the
    * per-(source, bucket) census a mixing policy consumes.
    *
    * Exact arithmetic: the two cut values come from the
    * (mean_bp, count) distribution via the min-when-cum idiom (the
    * funnel-quartile discipline — no row ranks), bucket assignment is
    * two integer comparisons, and the census is one hash aggregate.
    * 100 TB shape: [[lmScore]]'s three corpus passes + a
    * value-domain-sized cut computation + one groupBy.
    */
  def lmBuckets(docs: DataFrame): DataFrame =
    // single-pass: the scored frame feeds BOTH the tercile-cut branch
    // and the bucket assignment below — pin it once (the un-pinned
    // spelling re-ran the full three-pass lmScore pipeline twice; at
    // 100 TB that is two extra corpus passes, r13 finding #3)
    lmBucketsFromScored(
      pin("lmBuckets scores",
        lmScore(docs.select(col("doc_id"), col("text")))),
      docs)

  /** Bucket-assignment stage of [[lmBuckets]] over an already-scored
    * (doc_id, mean_bp) frame. Callers that ALSO register the score
    * query itself pass a shared memoized frame (SparkEntry.memoFrame)
    * so the corpus is scored once per suite — the materialize-shared-
    * frames-once discipline of the sim/graph families.
    */
  def lmBucketsFromScored(scored0: DataFrame, docs: DataFrame): DataFrame = {
    val scored = scored0.select(col("doc_id"), col("mean_bp"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val dist = scored.groupBy(col("mean_bp")).agg(count(lit(1)).as("m"))
    val w = Window.orderBy(col("mean_bp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val cuts = dist
      .select(col("mean_bp"), sum(col("m")).over(w).as("cum"),
        sum(col("m")).over(wall).as("n"))
      .agg(min(when(col("cum") * 3 >= col("n"), col("mean_bp")))
          .as("c_tail"),
        min(when(col("cum") * 3 >= col("n") * 2, col("mean_bp")))
          .as("c_mid"))
    scored.crossJoin(cuts) // 1-row broadcast
      .select(col("source"),
        when(col("mean_bp") <= col("c_tail"), "tail")
          .when(col("mean_bp") <= col("c_mid"), "middle")
          .otherwise("head").as("bucket"),
        col("mean_bp"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("mean_bp")).as("min_bp"),
        max(col("mean_bp")).as("max_bp"))
      .orderBy(col("source"), col("bucket"))
  }

  /** Corpus length profile per language: p10/p50/p90 of `n_chars` at
    * the (value, count) grain — the length histogram summary a
    * chunking/packing policy reads before choosing window sizes. Same
    * min-when-cum order statistics as the funnel quartiles; the
    * window frames run over the value domain (distinct lengths), not
    * rows.
    */
  def lengthBands(docs: DataFrame): DataFrame = {
    val dist = docs.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dist
      .select(col("lang"), col("n_chars"),
        sum(col("m")).over(w).as("cum"), sum(col("m")).over(wall).as("n"))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        min(when(col("cum") * 10 >= col("n"), col("n_chars")))
          .as("p10_chars"),
        min(when(col("cum") * 2 >= col("n"), col("n_chars")))
          .as("p50_chars"),
        min(when(col("cum") * 10 >= col("n") * 9, col("n_chars")))
          .as("p90_chars"))
      .orderBy(col("lang"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010 "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are
    * maximal stopword-free token runs; each word scores
    * deg(w)/freq(w) where freq counts the word's phrase occurrences
    * and deg sums the lengths of the phrases containing it (the
    * word's co-occurrence degree, self included); a phrase scores the
    * sum of its word scores. Micro-unit integer arithmetic —
    * score(w) = (1e6·deg) div freq — keeps both engines bit-equal.
    * Complements TextRank: RAKE is one pass, no graph iteration.
    *
    * Scale shape: posexplode → a doc-partitioned running stopword
    * count assigns run ids (the gaps-and-islands move on the token
    * axis) → phrase assembly is a sorted-struct aggregation; word
    * scores live on the vocabulary-sized frame. No quadratic stage.
    *
    * Output: (phrase, n_words, n_occ, score_micro) — top `k` by
    * (score desc, phrase).
    */
  def rakePhrases(docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in",
        "be", "that"),
      k: Int = 20): DataFrame = {
    val toks = docs.select(col("doc_id"),
        posexplode(expr("filter(split(lower(text), '\\\\s+'), w -> w <> '')"))
          .as(Seq("pos", "w")))
      .withColumn("stop", col("w").isin(stopwords: _*))
    val wrun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = toks
      .withColumn("run", sum(when(col("stop"), 1L).otherwise(0L)).over(wrun))
      .filter(!col("stop"))
    val wlen = Window.partitionBy(col("doc_id"), col("run"))
    val inPhrase = runs.withColumn("plen", count(lit(1)).over(wlen))
    val scores = inPhrase.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("w"), expr("(1000000 * deg) div freq").as("w_score"))
    val phrases = inPhrase.join(scores, "w")
      .groupBy(col("doc_id"), col("run"))
      .agg(
        array_join(transform(array_sort(
          collect_list(struct(col("pos"), col("w")))), s => s("w")), " ")
          .as("phrase"),
        count(lit(1)).as("n_words"),
        sum(col("w_score")).as("score_micro"))
    phrases.groupBy(col("phrase"))
      .agg(max(col("n_words")).as("n_words"), count(lit(1)).as("n_occ"),
        max(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase")).limit(k)
  }

  /** Heaps'-law vocabulary growth curve (Heaps 1978): how fast the
    * distinct-token vocabulary grows as the corpus accretes in
    * doc_id order — the curve whose flattening tells a pipeline when
    * more data stops buying new vocabulary (and whose K·nᵝ fit is a
    * notebook exercise over these exact checkpoints). The corpus is
    * split into `buckets` equal doc_id ranges; each checkpoint row
    * reports the bucket's own doc/token mass plus the cumulative
    * docs, tokens, and vocabulary through it. "New vocabulary" per
    * bucket = tokens whose FIRST bucket (min over occurrences) is
    * this one, so the cumulative sum is exactly |vocab(prefix)| —
    * no prefix re-scans.
    *
    * Scale shape: one tokenize/explode pass feeding two hash
    * aggregates (token-keyed first-seen — bounded by vocabulary, and
    * bucket-keyed mass — `buckets` rows), then cumulative windows
    * over the `buckets`-row frame only; the raw token grain is never
    * sorted or windowed. The doc_id→bucket map is pure arithmetic
    * off a 1-row min/max broadcast — no rank over docs. Exact
    * integers end to end.
    */
  def heapsLaw(docs: DataFrame, buckets: Int = 20): DataFrame = {
    val bounds = docs.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    val bucketed = docs.select(col("doc_id"), col("text"))
      .crossJoin(broadcast(bounds))
      .select(
        least(lit(buckets - 1),
          expr(s"(($buckets * (doc_id - lo)) div (hi - lo + 1))"))
          .cast("long").as("bucket"),
        col("text"))
    val tok = bucketed.select(col("bucket"),
      explode(Dedup.tokens(col("text"))).as("w"))
    val docMass = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val tokMass = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val newVocab = tok.groupBy(col("w"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_vocab"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docMass
      .join(tokMass, Seq("bucket"), "left")
      .join(newVocab, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("new_vocab"), lit(0L)).as("new_vocab"))
      .withColumn("cum_docs", sum(col("n_docs")).over(wCum))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wCum))
      .withColumn("cum_vocab", sum(col("new_vocab")).over(wCum))
      .orderBy(col("bucket"))
  }

  /** Vocabulary-coverage (OOV) curve — the tokenizer-budget question
    * asked before training a tokenizer on a corpus: if the vocabulary
    * keeps only the top-k types (by frequency, ties broken
    * lexicographically so the cut is engine-deterministic), what
    * fraction of all token OCCURRENCES is covered? One row per
    * requested k: (k, covered_tokens, total_tokens, coverage_bp),
    * with k clamped to the realized vocabulary size (coverage is then
    * 100%) so oversized budgets report honestly instead of dropping
    * out.
    *
    * Scale shape: one token-grain hash aggregate (the only pass over
    * the corpus) down to the VOCABULARY grain, then rank + running
    * sum over that vocab-bounded frame — the [[zipf]]/[[heapsLaw]]
    * posture; the k probe frame is |ks| rows and broadcasts into the
    * final equi-join on the clamped rank.
    */
  def vocabCoverage(docs: DataFrame,
      ks: Seq[Int] = Seq(5, 10, 20, 10000)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val freq = docs
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val byFreq = Window.orderBy(col("n").desc, col("w"))
    val ranked = freq
      .select(col("n"), row_number().over(byFreq).as("rk"))
      .withColumn("cum", sum(col("n")).over(
        Window.orderBy(col("rk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bounds = ranked.agg(max(col("rk")).as("vsize"),
      max(col("cum")).as("total_tokens"))
    ks.toDF("k")
      .crossJoin(broadcast(bounds))
      .select(col("k"), least(col("k").cast("long"), col("vsize"))
        .as("eff_rk"), col("total_tokens"))
      .join(ranked.select(col("rk"), col("cum")),
        col("eff_rk") === col("rk"))
      .select(col("k"), col("cum").as("covered_tokens"),
        col("total_tokens"),
        expr("10000 * cum div total_tokens").as("coverage_bp"))
      .orderBy(col("k"))
  }

  /** Hashing-trick featurization audit (Weinberger 2009) — the
    * fixed-width bag-of-words featurizer linear probes/quality
    * classifiers train on at corpus scale (no vocabulary to build or
    * ship: feature j = Σ counts of tokens hashing to j mod d). Emits
    * the per-doc feature-vector profile — token count, occupied
    * buckets (nnz), exact integer ‖v‖² (collisions INCREASE norm² vs
    * distinct-token counts, which is the quantity this audit watches:
    * rising norm²/token at fixed d means the table is saturating).
    * Buckets come from the house sdbm hash of the token, MINSTD-
    * scrambled — the SQL twin replays hashes over the DISTINCT token
    * set, which is vocabulary-sized, not corpus-sized.
    *
    * Output: (doc_id, n_tokens, nnz, norm2), one row per doc with
    * tokens.
    *
    * 100 TB shape: explode + one (doc, bucket) hash aggregate + one
    * doc rollup; the hash is a narrow codegen'd projection, no
    * vocabulary structure anywhere.
    */
  def featureHashing(docs: DataFrame, d: Int = 64): DataFrame = {
    require(d >= 2)
    val bucket = pmod(
      pmod(sdbm_hash(lit(0L), col("tok")), lit(2147483647L)) *
        lit(48271L) % lit(2147483647L), lit(d.toLong))
    docs.select(col("doc_id"),
        explode(Dedup.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), bucket.as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("nnz"),
        sum(col("c") * col("c")).as("norm2"))
  }

  /** Vocabulary drift between two deterministic corpus halves — the
    * distribution-shift monitor run between crawl snapshots before a
    * retrain (token-level total-variation distance is the standard
    * drift alarm; a TV spike says the new data speaks differently).
    * Halves are the scrambled-bucket split (bucket < 50 vs rest) so
    * the measurement is rerun-stable; each side's token distribution
    * quantizes to ppm by truncating division, and
    * TV = Σ|ppm_a − ppm_b| div 2 — integer-exact on both engines.
    *
    * Output: 1 row — (n_tokens_a, n_tokens_b, vocab_a, vocab_b,
    * vocab_shared, tv_ppm).
    *
    * 100 TB shape: one explode + one (side, token) hash aggregate,
    * then a vocab-bounded full-outer self-merge — no corpus-grain
    * join; the final fold is one pass over the vocabulary.
    */
  def vocabDrift(docs: DataFrame): DataFrame = {
    val side = when(Sampling.bucket(col("doc_id")) < 50, "a")
      .otherwise("b")
    val tok = docs.select(side.as("side"),
      explode(Dedup.tokens(col("text"))).as("tok"))
      .groupBy(col("side"), col("tok")).agg(count(lit(1)).as("c"))
    val tot = tok.groupBy(col("side")).agg(sum(col("c")).as("n"))
    val ppm = tok.join(tot, Seq("side"))
      .select(col("side"), col("tok"), col("c"), expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * c) div n AS BIGINT)")
        .as("ppm"))
    val a = ppm.filter(col("side") === "a")
      .select(col("tok"), col("c").as("ca"), col("ppm").as("pa"))
    val b = ppm.filter(col("side") === "b")
      .select(col("tok"), col("c").as("cb"), col("ppm").as("pb"))
    a.join(b, Seq("tok"), "full_outer")
      .agg(
        sum(coalesce(col("ca"), lit(0L))).as("n_tokens_a"),
        sum(coalesce(col("cb"), lit(0L))).as("n_tokens_b"),
        count(col("ca")).as("vocab_a"),
        count(col("cb")).as("vocab_b"),
        count(when(col("ca").isNotNull && col("cb").isNotNull, 1))
          .as("vocab_shared"),
        expr("""sum(abs(coalesce(pa, 0L) - coalesce(pb, 0L))) div 2""")
          .as("tv_ppm"))
  }

  /** Nearest-centroid source classifier with its confusion matrix —
    * the integer-exact skeleton of the quality/provenance classifier
    * every pretraining pipeline trains (GPT-3's WebText-vs-crawl
    * logistic filter, CCNet's fastText langid): learn per-source
    * token profiles on the deterministic TRAIN split (scrambled
    * bucket < trainPct, the [[Sampling.hashSplit]] discipline), score
    * every held-out doc against every profile, and report the
    * (actual source × predicted source) census. A doc's score for
    * source s is Σ over its token OCCURRENCES of that token's
    * training frequency in s, in parts-per-million — a multinomial
    * likelihood with the logs dropped (monotone surrogate; exact
    * integers beat float log-sums for the oracle hash, and the
    * classifier's ORDER is what the confusion matrix measures).
    * Prediction = max score, ties to the lexicographically first
    * source. Test docs none of whose tokens occur in ANY profile
    * drop out (no score row) — on this fixture the vocabulary is
    * shared, so every test doc is scored.
    *
    * Output: (source, predicted, n_docs), ordered.
    *
    * 100 TB shape: the profile table is (vocab × sources) ppm ints —
    * broadcastable even at web-corpus vocabularies (10⁷ rows); the
    * token multiply rides DECIMAL(38,0) because a source's training
    * token total passes 9·10¹² at corpus scale. Scoring is the
    * exploded-token join against that broadcast followed by one
    * (doc, source)-grain aggregate and one doc-grain window —
    * shuffles keyed on the doc id only, nothing quadratic.
    */
  def sourceClassifier(docs: DataFrame, trainPct: Int = 80,
      srcCol: String = "source"): DataFrame = {
    require(trainPct > 0 && trainPct < 100)
    val toks = docs.select(col("doc_id"), col(srcCol).as("src"),
      explode(Dedup.tokens(col("text"))).as("tok"),
      (Sampling.bucket(col("doc_id")) < trainPct).as("is_train"))
    val profile = toks.filter(col("is_train"))
      .groupBy(col("src"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val totals = profile.groupBy(col("src"))
      .agg(sum(col("c")).as("n_src"))
    val weights = profile.join(totals, Seq("src"))
      .select(col("src").as("src_w"), col("tok"), expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * c) div n_src AS BIGINT)")
        .as("ppm"))
    val scores = toks.filter(!col("is_train"))
      .join(broadcast(weights), Seq("tok"))
      .groupBy(col("doc_id"), col("src"), col("src_w"))
      .agg(sum(col("ppm")).as("score"))
    val byScore = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("src_w"))
    scores.withColumn("rn", row_number().over(byScore))
      .filter(col("rn") === 1)
      .groupBy(col("src").as(srcCol), col("src_w").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  // ------------------------------------------------------------------
  // Integer logistic-regression quality distillation
  // ------------------------------------------------------------------

  /** Feature stopword list for the LR distillation — wider than
    * [[quality]]'s 4-word label list on purpose: the student sees
    * correlated-but-not-identical signals, so the learned boundary is
    * a real fit rather than a reconstruction of its own input.
    */
  val LrStopwords: Seq[String] =
    Seq("the", "of", "and", "to", "a", "in", "is", "it", "that", "for")

  /** Distillation label threshold: [[qualityCbp]] at the fixture
    * corpus median, chosen once so the two classes are balanced (the
    * CCNet setup — heuristic labels, roughly even split).
    */
  val LrLabelThresholdCbp: Long = 4600L

  /** [[quality]] ×10⁴ in EXACT integer arithmetic (centibasis points
    * per 100 chars): `(10⁶·stop_hits − 10⁴·n_punct) div chars`. The
    * double-valued quality() stays the user-facing score; this twin
    * exists so the distillation label is oracle-hashable. Both
    * operands of the div are derived from non-negative counts but the
    * NUMERATOR can be negative (punct-heavy text); Spark `div` and
    * DuckDB `//` both truncate toward zero on integers (verified —
    * the Layout.scala:232 precedent), so the engines agree.
    */
  def qualityCbp(txt: Column): Column =
    idiv(lit(1000000L) * stopHits(txt, Seq("the", "and", "of", "to")) -
      lit(10000L) * nPunct(txt),
      greatest(length(txt).cast("long"), lit(1L)))

  /** Per-doc raw LR features + distillation label, all exact integer:
    *   y  = 1 iff [[qualityCbp]] ≥ [[LrLabelThresholdCbp]]
    *   x1 = stopword TOKEN ratio bp over [[LrStopwords]] (token
    *        equality, not the label's padded-occurrence count)
    *   x2 = type/token ratio bp (lexical richness)
    *   x3 = mean word length in centichars, capped at 2000 (so
    *        space-free scripts don't blow the scale)
    * Zero-token docs are dropped (the quality chain drops them
    * earlier anyway). One codegen'd projection, no shuffle.
    */
  def lrQualityRaw(docs: DataFrame): DataFrame = {
    val ws = col("ws")
    val nw = size(ws).cast("long")
    docs.select(col("doc_id"), col("text"), Dedup.tokens(col("text")).as("ws"))
      .filter(size(ws) > 0)
      .select(col("doc_id"),
        when(qualityCbp(col("text")) >= LrLabelThresholdCbp, lit(1L))
          .otherwise(lit(0L)).as("y"),
        idiv(lit(10000L) * size(filter(ws,
          w => array_contains(typedlit(LrStopwords), w))).cast("long"), nw)
          .as("x1"),
        idiv(lit(10000L) * size(array_distinct(ws)).cast("long"), nw)
          .as("x2"),
        least(idiv(lit(100L) *
          length(regexp_replace(col("text"), "\\s", "")).cast("long"), nw),
          lit(2000L)).as("x3"))
  }

  /** Exact integer feature standardization: x_s = 10⁴·(x − μ) div σ
    * with μ = Σx div n and σ = max(isqrt(Σ(x−μ)² div n), 1) — the
    * floor(sqrt(double)) spelling is exact below 2⁵² (OverflowSpec's
    * isqrt claim) and Var ≤ max|dev|² = 10⁸ keeps it far under.
    * Uncentered features made the GD zigzag between the class priors;
    * standardization is what lets one lr serve every corpus.
    *
    * The deviation sums ride DECIMAL(38,0): Σ(x−μ)² ≤ n·10⁸, past
    * int64 beyond n ≈ 9.2e10 docs — well inside 100 TB corpus counts.
    * (x − μ) is signed; both engines truncate the div toward zero
    * (verified — Layout.scala:232 precedent).
    *
    * Two bounded 1-row broadcasts (μ then σ) attach the moments; the
    * raw projection is scanned three times, each a column-pruned
    * codegen'd pass with map-side partial aggregation — nothing here
    * shuffles more than one row.
    */
  def lrQualityStd(docs: DataFrame): DataFrame = {
    val raw = lrQualityRaw(docs)
    val mu = raw.agg(count(lit(1)).cast("long").as("n"),
      idiv(sum(col("x1")), count(lit(1))).as("m1"),
      idiv(sum(col("x2")), count(lit(1))).as("m2"),
      idiv(sum(col("x3")), count(lit(1))).as("m3"))
    def sigma(x: String, m: String, out: String): Column =
      greatest(floor(sqrt(idiv(
        sum(((col(x) - col(m)) * (col(x) - col(m))).cast(Dec38)),
        max(col("n")).cast(Dec38)).cast("double"))).cast("long"), lit(1L))
        .as(out)
    val sg = raw.crossJoin(broadcast(mu)).agg(
      max(col("n")).as("n"), max(col("m1")).as("m1"),
      max(col("m2")).as("m2"), max(col("m3")).as("m3"),
      sigma("x1", "m1", "s1"), sigma("x2", "m2", "s2"),
      sigma("x3", "m3", "s3"))
    raw.crossJoin(broadcast(sg)).select(col("doc_id"), col("y"),
      lit(10000L).as("x0"),
      idiv(lit(10000L) * (col("x1") - col("m1")), col("s1")).as("x1"),
      idiv(lit(10000L) * (col("x2") - col("m2")), col("s2")).as("x2"),
      idiv(lit(10000L) * (col("x3") - col("m3")), col("s3")).as("x3"))
  }

  /** Collapse the standardized per-doc features to the bucketized
    * (x0..x3, y, cnt) training table — the BPE word-table move: the
    * corpus is scanned ONCE here and every GD round after this runs
    * on a cardinality-bounded frame (≤ (range/2500)³·2 combos; a few
    * hundred rows on the fixtures, ~10⁶ worst-case at any scale —
    * independent of corpus row count). Buckets are FLOOR-aligned via
    * the (x − pmod(x, w)) div w spelling — standardized features are
    * zero-mean so half the mass is negative, and truncate-toward-zero
    * bucketing would double the width of the zero-straddling bucket
    * and push its representative to the wrong sign (r16 self-review);
    * floor alignment keeps every bucket width-2500 with its true
    * midpoint.
    */
  def lrQualityFeatures(docs: DataFrame): DataFrame =
    lrQualityFeaturesFromStd(lrQualityStd(docs))

  /** [[lrQualityFeatures]] over an already-standardized frame —
    * exposed so the registry can feed the memoized std frame to both
    * training and scoring without re-materializing the corpus-scale
    * feature pipeline.
    */
  def lrQualityFeaturesFromStd(std: DataFrame): DataFrame = {
    def bucket(x: String): Column =
      idiv(col(x) - pmod(col(x), lit(2500L)), lit(2500L)) * 2500L + 1250L
    std.groupBy(
      col("x0"), bucket("x1").as("x1"), bucket("x2").as("x2"),
      bucket("x3").as("x3"), col("y"))
      .agg(count(lit(1)).cast("long").as("cnt"))
  }

  /** z in bp for a frame carrying weights w0..w3 and features x0..x3.
    * The w·x products ride DECIMAL(38,0) like the gradient limb: the
    * σ ≥ 1 standardization floor admits |x| up to 10⁸, and a
    * diverging fit (large lrNum·rounds) can push w past 10¹¹ — int64
    * would wrap the product silently and skew every later round
    * (r16 ADVICE). The summed z itself is divided back to bp scale
    * and returned as int64 (a z outside int64 is already past any
    * meaningful sigmoid saturation; non-ANSI cast yields NULL there,
    * loud in the oracle compare, never a wrong sign).
    */
  private def lrZ: Column =
    idiv(col("w0").cast(Dec38) * col("x0").cast(Dec38) +
      col("w1").cast(Dec38) * col("x1").cast(Dec38) +
      col("w2").cast(Dec38) * col("x2").cast(Dec38) +
      col("w3").cast(Dec38) * col("x3").cast(Dec38),
      lit(10000L).cast(Dec38)).cast("long")

  /** The "fast sigmoid" σ̃(z) = ½ + z/(2(1+|z|)) in bp — every op is
    * integer (+, ·, div, abs), so it is bit-identical across engines,
    * unlike exp-based σ (exp is NOT exactly rounded in IEEE 754 and
    * Java/DuckDB may differ in the last ulp). Same monotone S-shape,
    * p ∈ (0, 10⁴), p(0) = 5000; the GD update below uses the
    * canonical (p − y)·x direction, which remains a descent direction
    * for any sigmoid-shaped link.
    */
  private def lrP(zBp: Column): Column =
    lit(5000L) + idiv(lit(10000L).cast(Dec38) * zBp.cast(Dec38),
      lit(2L).cast(Dec38) *
        (lit(10000L).cast(Dec38) + abs(zBp.cast(Dec38)))).cast("long")

  /** Batch-gradient-descent fit over a collapsed feature table:
    * per round ONE hash aggregate computes the exact integer gradient
    * g_i = Σ cnt·(p − 10⁴y)·x_i in DECIMAL(38,0) (per-row magnitude
    * ≤ cnt·10⁴·|x| — int64 dies near 9e9 docs at |x| = 10⁵, decimal
    * holds to ~10²⁵ docs; OverflowSpec claims the 100 TB magnitude),
    * then the 1-row weight frame steps
    *   w ← w − (lrNum·g) div (r·n·10⁴)
    * — the Robbins-Monro lrNum/r harmonic decay that killed the
    * constant-lr oscillation observed on the fixtures. Each round's
    * weights are localCheckpointed (the kmeans/pagerank/BPE
    * bounded-iteration discipline). Gradient divisions are signed;
    * both engines truncate toward zero (verified — Layout.scala:232
    * precedent).
    *
    * Returns one 1-row frame per round, r = 0 (all-zero init) to
    * `rounds`. Registered gates: text_quality_lr_train (trajectory),
    * text_quality_lr_score (apply), text_quality_lr_calibration
    * (reliability bins).
    */
  private[graft] def lrFit(feat: DataFrame, rounds: Int,
      lrNum: Long): Seq[DataFrame] = {
    require(rounds >= 1 && lrNum >= 1)
    val spark = feat.sparkSession
    var w: DataFrame = spark.range(1).select(lit(0L).as("r"),
      lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"),
      lit(0L).as("w3"))
    val traj = Seq.newBuilder[DataFrame]
    traj += w
    for (r <- 1 to rounds) {
      val scored = feat.crossJoin(broadcast(w))
        .withColumn("z", lrZ)
        .withColumn("e",
          ((lrP(col("z")) - col("y") * 10000L) * col("cnt")).cast(Dec38))
      val grad = scored.groupBy(col("w0"), col("w1"), col("w2"), col("w3"))
        .agg(sum(col("e") * col("x0").cast(Dec38)).as("g0"),
          sum(col("e") * col("x1").cast(Dec38)).as("g1"),
          sum(col("e") * col("x2").cast(Dec38)).as("g2"),
          sum(col("e") * col("x3").cast(Dec38)).as("g3"),
          sum(col("cnt")).cast(Dec38).as("n"))
      def step(wc: String, g: String): Column =
        (col(wc).cast(Dec38) - idiv(lit(lrNum).cast(Dec38) * col(g),
          lit(r.toLong).cast(Dec38) * col("n") * lit(10000L).cast(Dec38)))
          .cast("long").as(wc)
      val next = grad.select(lit(r.toLong).as("r"), step("w0", "g0"),
        step("w1", "g1"), step("w2", "g2"), step("w3", "g3"))
      w = pin(s"lr GD round $r step", next)
      traj += w
    }
    traj.result()
  }

  /** Train the distilled quality classifier; returns the full weight
    * trajectory (r, w0..w3), rounds+1 rows. See [[lrFit]].
    */
  def lrQualityTrain(docs: DataFrame, rounds: Int = 12,
      lrNum: Long = 20L): DataFrame =
    lrQualityTrainFromStd(lrQualityStd(docs), rounds, lrNum)

  /** [[lrQualityTrain]] over an already-standardized frame (the
    * registry's seam — one memoized std frame feeds train AND score,
    * halving the corpus-scale scans).
    */
  def lrQualityTrainFromStd(std: DataFrame, rounds: Int = 12,
      lrNum: Long = 20L): DataFrame =
    lrFit(pin("lr features", lrQualityFeaturesFromStd(std)), rounds, lrNum)
      .reduce(_ unionByName _).orderBy(col("r"))

  /** Apply a trained 1-row weight frame (w0..w3) to the standardized
    * per-doc features: per doc the margin z (bp), the fast-sigmoid
    * score p (bp), the hard prediction, and the distillation label —
    * the frame both the accuracy readout and [[lrQualityCalibration]]
    * consume. One broadcast of the weight row; no shuffle.
    */
  def lrQualityScoreFromWeights(std: DataFrame,
      weights: DataFrame): DataFrame =
    std.crossJoin(broadcast(weights.select(
        col("w0"), col("w1"), col("w2"), col("w3"))))
      .withColumn("z_bp", lrZ)
      .select(col("doc_id"), col("y"), col("z_bp"),
        lrP(col("z_bp")).as("p_bp"),
        when(col("z_bp") >= 0, lit(1L)).otherwise(lit(0L)).as("pred"))

  /** Convenience end-to-end score: train then apply the final round
    * — one std materialization feeds both (the FromStd seam).
    */
  def lrQualityScore(docs: DataFrame, rounds: Int = 12,
      lrNum: Long = 20L): DataFrame = {
    val std = lrQualityStd(docs)
    val fin = lrFit(pin("lr features", lrQualityFeaturesFromStd(std)),
      rounds, lrNum).last
    lrQualityScoreFromWeights(std, fin).orderBy(col("doc_id"))
  }

  /** Teacher/student agreement for the distilled classifier: the
    * 2×2 confusion matrix between the heuristic label y and the
    * student's hard prediction, observed agreement, chance agreement,
    * and Cohen's κ — all exact integer bp. κ is the
    * did-the-distillation-actually-transfer readout (agreement alone
    * flatters imbalanced labels; κ subtracts the chance floor).
    *
    * pe's marginal product (y-marginal × pred-marginal) is N² scale —
    * 10²⁴ at 100 TB doc counts — so it rides DECIMAL(38,0) / HUGEINT
    * on the two sides. The κ division is signed (a student worse
    * than chance goes negative); both engines truncate toward zero
    * (verified — Layout.scala:232 precedent). pe = 10⁴ (a constant
    * labeler) would divide by zero: guarded to NULL, the
    * bucketUniformity convention. One global aggregate, no shuffle
    * beyond it.
    */
  def lrQualityAgreement(scored: DataFrame): DataFrame =
    kappaFromConfusion(scored.agg(
      count(lit(1)).cast("long").as("n"),
      sum(when(col("y") === 0L && col("pred") === 0L, 1L).otherwise(0L))
        .as("n00"),
      sum(when(col("y") === 0L && col("pred") === 1L, 1L).otherwise(0L))
        .as("n01"),
      sum(when(col("y") === 1L && col("pred") === 0L, 1L).otherwise(0L))
        .as("n10"),
      sum(when(col("y") === 1L && col("pred") === 1L, 1L).otherwise(0L))
        .as("n11")))

  /** κ from a 1-row confusion frame (n, n00, n01, n10, n11) — split
    * out so OverflowSpec can drive the DECIMAL marginal products at
    * the claimed 100 TB magnitude directly.
    */
  private[graft] def kappaFromConfusion(conf: DataFrame): DataFrame = {
    conf.select(col("n00"), col("n01"), col("n10"), col("n11"),
        idiv(lit(10000L) * (col("n00") + col("n11")), col("n"))
          .as("po_bp"),
        idiv(lit(10000L) *
          ((col("n10") + col("n11")).cast(Dec38) *
            (col("n01") + col("n11")).cast(Dec38) +
            (col("n00") + col("n01")).cast(Dec38) *
              (col("n00") + col("n10")).cast(Dec38)),
          col("n").cast(Dec38) * col("n").cast(Dec38))
          .cast("long").as("pe_bp"))
      .withColumn("kappa_bp",
        when(col("pe_bp") === 10000L, lit(null).cast("long"))
          .otherwise(idiv(lit(10000L) * (col("po_bp") - col("pe_bp")),
            lit(10000L) - col("pe_bp"))))
  }

  /** Reliability bins over a scored frame: decile buckets of p_bp,
    * per bin the exact mean predicted probability vs the empirical
    * positive rate (both bp) and their absolute gap — the
    * expected-calibration-error diagram as exact integers. All
    * operands non-negative (p_bp ∈ (0, 10⁴)).
    */
  def lrQualityCalibration(scored: DataFrame): DataFrame =
    scored.groupBy(idiv(col("p_bp"), lit(1000L)).as("bin"))
      .agg(count(lit(1)).cast("long").as("n"),
        idiv(sum(col("p_bp")), count(lit(1))).as("mean_p_bp"),
        idiv(lit(10000L) * sum(col("y")), count(lit(1))).as("emp_bp"))
      .withColumn("gap_bp", abs(col("mean_p_bp") - col("emp_bp")))
      .orderBy(col("bin"))
}
