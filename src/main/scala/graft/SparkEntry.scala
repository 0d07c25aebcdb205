package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY.md §2 (the
  * reference's own surface or the extended north-star set). Entries
  * with an [[oracleSql]] twin are hash-compared against DuckDB on the
  * same parquet; FP-sensitive queries are designed around integer
  * quantization / decimal sums so both engines produce bit-identical
  * values. Entries without an oracle (hash/XML/LSH ops that ANSI SQL
  * can't express) are pinned by golden + property tests instead.
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** SF-envelope broadcast for dimensions that GROW with scale factor
    * (customer/supplier/part — unlike nation/region, which are O(1)
    * rows at every SF): the hint is applied only while Catalyst's size
    * estimate for the frame stays under the session broadcast
    * threshold, so at sf0.1 the dims broadcast as intended and at
    * sf100 (customer ≈ 15 M rows / GBs) the join goes unhinted and
    * AQE picks the strategy from observed runtime sizes instead of a
    * forced driver-side collect. Stats come from the optimized logical
    * plan (file sizes for scans — no job is run), the same estimate
    * the static planner itself compares against the threshold.
    */
  private[graft] def bcDim(df: DataFrame): DataFrame = {
    val threshold =
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold > 0 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
      broadcast(df)
    else df
  }

  /** Cross-query frame memo — intermediates that several registered
    * queries derive from (the ground-truth pair set, the bipartite
    * trading-graph edge list, its LPA labels). A production pipeline
    * MATERIALIZES such shared frames once and runs every downstream
    * analytic off the materialization (at 100 TB: write the edge list
    * to storage once; never re-run the upstream joins per analytic) —
    * model that here with a per-(session, dir, name) memo of the
    * pinned frame.
    *
    * Lifecycle: entries are bounded (one checkpointed frame per memo
    * name per (session, dir) actually queried) and live until
    * [[evictMemos]] — NOT weakly keyed: a cached DataFrame strongly
    * references its session, so weak keys would never collect anyway.
    * Frames are computed OUTSIDE any lock — a concurrent duplicate
    * computation of the same deterministic input is identical values
    * and merely wasted work, whereas a global lock held across a
    * Spark job would serialize unrelated sessions.
    */
  private[graft] val frameMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), DataFrame]()

  /** Memoize `build` under (s, dir, name), pinned under the memo name
    * through [[Scratch.pin]] (an operator may hand back an
    * already-pinned frame, which is kept as it is).
    */
  private[graft] def memoFrame(s: SparkSession, dir: String,
      name: String)(build: => DataFrame): DataFrame = {
    val key = (s, dir, name)
    val hit = frameMemo.get(key)
    if (hit != null) return hit
    val frame = Scratch.pin(name, build)
    val prev = frameMemo.putIfAbsent(key, frame)
    if (prev != null) {
      // lost the race: free the redundant checkpoint's blocks now —
      // otherwise they stay pinned for the session lifetime
      Scratch.unpin(frame)
      prev
    } else frame
  }

  /** The scoped ground-truth near-dup pair set (exact n-gram Jaccard
    * over the capped 500-doc slice) feeds three queries: the pairs
    * themselves, connected-components clustering, and the corpus
    * filter — the original [[frameMemo]] tenant.
    *
    * [[Dedup.ngramJaccardPairs]] spreads the slice's (id, text) rows
    * across cores before its gram explode: the documents file is one
    * parquet row group, so without the spread the whole gram
    * self-join ran as a single task and dominated every query that
    * builds this memo.
    */
  private[graft] def groundTruthPairs(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "gt_pairs") { groundTruthPairsPlan(s, dir) }

  /** The pre-checkpoint `gt_pairs` frame exactly as the memo builds it
    * — exposed so PlanSpec can guard the registered build site, whose
    * gram join the memo's checkpoint hides from the query plans.
    */
  private[graft] def groundTruthPairsPlan(s: SparkSession,
      dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      t(s, dir, "documents").filter(col("doc_id") < 500),
      n = 3, minJaccard = 0.8)

  /** RDD ids backing the cross-query memoized frames for `s` — a
    * long-lived harness that sweeps leaked checkpoint blocks between
    * queries (graft.Bench) must exempt these; everything else a query
    * leaves persisted after it finishes is garbage to such a harness.
    */
  def memoizedRddIds(s: SparkSession): Set[Int] = {
    import scala.jdk.CollectionConverters._
    frameMemo.asScala.iterator
      .collect { case ((sess, _, _), df) if sess eq s => df }
      .flatMap(Scratch.pinnedRdds(_).map(_.id))
      .toSet
  }

  /** Sweep blocks a query left persisted: everything in the context's
    * persistent-RDD registry that was not there before the query and
    * is not a cross-query memo is a leak to a long-running harness
    * (localCheckpoint blocks otherwise wait on GC + ContextCleaner
    * and pile up across a 140+-query marathon — measured as 2-8×
    * in-suite inflation). ONE implementation shared by Bench and
    * Verify so the memo exemption cannot drift between them.
    */
  def sweepLeakedBlocks(s: SparkSession,
      persistedBefore: scala.collection.Set[Int]): Unit = {
    val keep = memoizedRddIds(s)
    s.sparkContext.getPersistentRDDs.foreach { case (rid, rdd) =>
      if (!persistedBefore.contains(rid) && !keep.contains(rid))
        rdd.unpersist(blocking = false)
    }
  }

  /** Drop a session's memoized pair sets, unpersisting their
    * checkpoint blocks (safe no-op on an already-stopped session).
    * Long-lived JVMs that cycle many sessions call this from their
    * session teardown.
    */
  def evictMemos(s: SparkSession): Unit = {
    val it = frameMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        try Scratch.unpin(e.getValue)
        catch { case NonFatal(_) => () } // stopped session: blocks already gone
        it.remove()
      }
    }
  }

  /** Where the `*_recall` gate queries materialize their approximate
    * (sketch) outputs so the DuckDB oracle can read the SAME rows via
    * `read_parquet`: the sketch hashes (murmur) are not
    * ANSI-SQL-expressible, but the recall arithmetic against the
    * SQL-expressible exact twin is — materializing the approximate
    * side as data turns the former spec-only recall floors into
    * hash-checked driver gates. Keyed by the sf-dir basename so a
    * Verify run (sf0.01) and a later Bench run (sf0.1) never clobber
    * each other's dumps; [[Verify]] substitutes [[RecallDirToken]] in
    * [[oracleSql]] with this path at dump time.
    */
  def recallDumpDir(sfDir: String): String =
    // the ORIGINAL disk tmpdir, deliberately outside Scratch's swept
    // tmpfs: the DuckDB oracle reads these files AFTER this JVM exits,
    // and Scratch sweeps dead runs' tmpfs scratch at next use — a
    // later Bench start must not delete the dumps the driver's
    // correctness compare is about to read (they are KB-scale, so the
    // disk write costs nothing)
    s"${Scratch.originalTmpdir}/graft_recall/" +
      new java.io.File(sfDir).getName

  /** Placeholder in [[oracleSql]] for the recall dump dir. */
  val RecallDirToken = "__RECALL_DIR__"

  /** Materialize a frame under [[recallDumpDir]] and read it back —
    * the shared move behind every `*_recall` / `*_bounds` gate: Spark
    * and the DuckDB oracle then score byte-identical rows.
    */
  private[graft] def dumpForOracle(s: SparkSession, dir: String, name: String,
      df: DataFrame): DataFrame = {
    val path = s"${recallDumpDir(dir)}/$name"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    Tables.parquet(s, path)
  }

  /** One-row recall gate (n_exact, n_hit, recall_bp, meets_floor):
    * write the approximate pair/neighbor keys to [[recallDumpDir]],
    * read them back (so Spark and the oracle score byte-identical
    * rows), and score them against the exact twin. `recall_bp` is
    * integer basis points — `(10000 * n_hit) DIV n_exact`, truncating
    * in both engines for non-negative counts — so the hash compare
    * never rides on double formatting. Floors are pinned comfortably
    * below the observed fixture minimum (measured across sf0.001/0.01/
    * 0.1 by [[graft.tools.RecallProbe]]), not at it.
    */
  private[graft] def recallGate(s: SparkSession, dir: String, name: String,
      exact: DataFrame, approx: DataFrame, keys: Seq[String],
      floorBp: Int): DataFrame = {
    val dumped = dumpForOracle(s, dir, name,
      approx.select(keys.map(col): _*).distinct())
    val ex = exact.select(keys.map(col): _*)
    val recallBp = "CASE WHEN n_exact = 0 THEN CAST(10000 AS BIGINT) " +
      "ELSE (10000 * n_hit) DIV n_exact END"
    ex.agg(count(lit(1)).as("n_exact")).crossJoin(
        ex.join(dumped, keys, "left_semi").agg(count(lit(1)).as("n_hit")))
      .selectExpr("n_exact", "n_hit", s"$recallBp AS recall_bp",
        s"$recallBp >= $floorBp AS meets_floor")
  }

  /** Deterministic PII injection for the scrub queries: the fixture
    * text is digit-free, so append doc_id-derived emails / IPv4s /
    * phones / long numeric ids to selected rows. Mirrored verbatim by
    * [[piiSql]] — `concat` stringifies longs identically to DuckDB's
    * `||` (no sign, no decimal point), and doc_id is non-negative so
    * `%` agrees between the engines.
    */
  private[graft] def piiDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" mail user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" host 10."), col("doc_id") % 256, lit(".0.7")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" call +1-555-014-2288"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" acct 9021077"), col("doc_id"), lit("55")))
          .otherwise(lit(""))).as("text"))

  /** SQL twin of [[piiDocs]] (a FROM-able subquery over `documents`). */
  private[graft] val piiSql: String = """
    (SELECT doc_id, source,
       text ||
       CASE WHEN doc_id % 3 = 0
            THEN ' mail user' || doc_id || '@example.com' ELSE '' END ||
       CASE WHEN doc_id % 4 = 0
            THEN ' host 10.' || (doc_id % 256) || '.0.7' ELSE '' END ||
       CASE WHEN doc_id % 5 = 0
            THEN ' call +1-555-014-2288' ELSE '' END ||
       CASE WHEN doc_id % 7 = 0
            THEN ' acct 9021077' || doc_id || '55' ELSE '' END AS text
     FROM documents)"""

  /** CTE chain mirroring [[Scrub.redact]]'s sequential count+replace:
    * step k counts rule k's hits on the text as left by rules 1..k-1,
    * then replaces. Patterns come from the SAME `Scrub.DefaultRules`
    * the Spark side uses (the dialect-neutral regex subset). `keyCol`
    * is whatever identity column the query carries through.
    */
  private[graft] def scrubChainSql(keyCol: String): String =
    Scrub.DefaultRules.zipWithIndex.map { case (r, i) =>
      val src = if (i == 0) "pii" else s"s$i"
      val carried = Scrub.DefaultRules.take(i)
        .map(p => s"n_${p.name}, ").mkString
      s"""s${i + 1} AS (SELECT $keyCol, $carried
             CAST(len(regexp_extract_all(t, '${r.pattern}')) AS BIGINT)
               AS n_${r.name},
             regexp_replace(t, '${r.pattern}', '${r.replacement}', 'g') AS t
           FROM $src)"""
    }.mkString(",\n      ")

  /** The fixture text is plain prose, so the HTML-clean query stages a
    * deterministic web-page wrapper around it (both engines build the
    * IDENTICAL string): tags, a comment, a script body, and the
    * `&amp;lt;` double-decode trap the rule order must not fall into.
    */
  private[graft] val htmlWrapPrefix =
    "<html><!-- nav --><body><p class=\"x\">"
  private[graft] val htmlWrapSuffix =
    "</p>&nbsp;&amp;lt;<script>var x=1;</script></body></html>"

  /** SQL twin of [[Scrub.htmlCleanCol]]: the same ordered rule chain,
    * generated from the SAME `Scrub.HtmlRules` list so the dialects
    * cannot drift. `e` is any text-typed SQL expression.
    */
  private[graft] def htmlCleanSql(e: String): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    "trim(" + Scrub.HtmlRules.foldLeft(e) { case (acc, (pat, repl)) =>
      s"regexp_replace($acc, ${q(pat)}, ${q(repl)}, 'g')"
    } + ")"
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's README example (`SELECT content, title, url, pos FROM
    * test.Pages` with `-keys url,pos`) reshaped onto the documents fixture:
    * full scan → render → xmlpipe2 documents with composite-key doc ids.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text"), col("source"), col("doc_id"), col("n_chars"))
    XmlPipe.formatDocs(docs, Seq("source", "doc_id"))
  }

  /** Composed from the per-family registries
    * (src/main/scala/graft/registry/Reg*.scala) — round-13 split of
    * the former 9k-line monolith. Entry bodies are verbatim.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.RegDedup.queries ++
      registry.RegEventsA.queries ++
      registry.RegEventsB.queries ++
      registry.RegGraph.queries ++
      registry.RegHygiene.queries ++
      registry.RegIo.queries ++
      registry.RegProfile.queries ++
      registry.RegSampling.queries ++
      registry.RegSim.queries ++
      registry.RegSqlA.queries ++
      registry.RegSqlB.queries ++
      registry.RegText.queries ++
      registry.RegTpch.queries ++
      registry.RegXmlPipe.queries

  /** DuckDB stopword-hit count via replace-length arithmetic — the
    * exact SQL twin of TextStats.occurrences (padded-word matching).
    */
  private[graft] def hitsSql(w: String): String =
    s"((length(p) - length(replace(p, ' $w ', ''))) // ${w.length + 2})"

  /** SQL twin of the sdbm doc-id hash (Query.java:303-316) as a
    * recursive CTE: `h = h*65599 + code(c)` in HUGEINT arithmetic mod
    * 2^64 (Java long wraparound), then the signed reinterpretation and
    * `~h+1` negation incl. the MIN_VALUE edge. Codepoints equal UTF-16
    * units for all BMP text (the only kind in the fixtures).
    * Emits CTEs `sdbm_src`/`sdbm_rec`/`sdbm` with (sid, hash).
    */
  /** `name` prefixes the emitted CTEs (`<name>_src`, `<name>_rec`,
    * `<name>`) so one query can instantiate the chain more than once
    * (the corpus_pipeline oracle hashes content, split key, and
    * manifest fingerprints in a single statement).
    */
  private[graft] def sdbmCte(fromSql: String, sidExpr: String, seedExpr: String,
      strExpr: String, name: String = "sdbm"): String = s"""
    ${name}_src AS (SELECT DISTINCT $sidExpr AS sid, CAST($seedExpr AS HUGEINT) AS h0,
                        $strExpr AS s FROM $fromSql),
    ${name}_rec AS (
      SELECT sid, h0 % 18446744073709551616 AS h, s, 1 AS i, length(s) AS n
      FROM ${name}_src
      UNION ALL
      SELECT sid, (h * 65599 + unicode(substr(s, i, 1))) % 18446744073709551616,
             s, i + 1, n
      FROM ${name}_rec WHERE i <= n),
    $name AS (
      SELECT sid, CAST(CASE WHEN hs > 0 THEN hs
                            WHEN hs = -9223372036854775808 THEN hs
                            ELSE -hs END AS BIGINT) AS hash
      FROM (SELECT sid,
              CASE WHEN h >= 9223372036854775808
                   THEN h - 18446744073709551616 ELSE h END AS hs
            FROM ${name}_rec WHERE i = n + 1))"""

  /** SQL twin of [[Sampling.bucket]]: MINSTD-scrambled sdbm hash mod
    * `n` (see the scramble rationale in Sampling's scaladoc).
    */
  private[graft] def bucketSql(h: String, n: Int = 100): String =
    s"((((($h % 2147483647) + 2147483647) % 2147483647) * 48271)" +
      s" % 2147483647) % $n"

  /** Shared CTE chain for the duplicated-span oracles — the SQL twin
    * of [[Dedup.duplicatedSpans]] (grams by STRING here; Spark keys
    * them by xxhash64, identical modulo a ~1e-8 collision). Yields
    * `spans(doc_id, span_start, span_end)`.
    */
  private[graft] def spanCteSqlOver(from: String): String = s"""
      p AS (SELECT doc_id, text,
              unnest(range(1, greatest(CAST(len(text) AS BIGINT) - 28, 1)))
                AS pos
            FROM $from),
      g AS (SELECT doc_id, pos, substr(text, CAST(pos AS INT), 30) AS gram
            FROM p),
      d AS (SELECT gram FROM g GROUP BY gram
            HAVING count(DISTINCT doc_id) > 1),
      hit AS (SELECT doc_id, pos FROM g JOIN d USING (gram)),
      brk AS (SELECT doc_id, pos,
              CASE WHEN pos > coalesce(max(pos + 29) OVER
                  (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) + 1
              THEN 1 ELSE 0 END AS b FROM hit),
      isl AS (SELECT doc_id, pos, CAST(sum(b) OVER
                (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gid
              FROM brk),
      spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                       CAST(max(pos) + 29 AS BIGINT) AS span_end
                FROM isl GROUP BY doc_id, gid)"""

  private[graft] val spanCteSql: String = spanCteSqlOver("documents")

  /** Sliding-window oracle, shared by the batch and streaming twins
    * (both produce the same result table by construction).
    */
  /** Shared twin for the batch + streaming native session_window
    * queries (>= gap boundary — [ts, ts+gap) window semantics). */
  private[graft] val sessionWindowSql: String = """
      WITH s AS (SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                        THEN 1 ELSE 0 END AS brk
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      t AS (SELECT user_id, ts,
              sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM s)
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM t GROUP BY user_id, sid ORDER BY user_id, session_start"""

  private[graft] val slidingSql: String = """
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE AS window_start,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
      GROUP BY 1 ORDER BY 1"""

  /** StAX-compatible XML text escaping in SQL (& first, then <, >). */
  private[graft] def escSql(e: String): String =
    s"replace(replace(replace($e, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"

  /** SQL twin of JsonlExport.escapeJson's primary escape set
    * (backslash first, then quote, \n, \r, \t — the fixture corpus
    * contains no other control characters, asserted in JsonlSpec).
    */
  private[graft] def jsonEscSql(e: String): String =
    """replace(replace(replace(replace(replace(%s,
      '\', '\\'), '"', '\"'), chr(10), '\n'), chr(13), '\r'),
      chr(9), '\t')""".format(e)

  /** Shared CTE prefix: integer-quantized embeddings + exact int norms
    * (the SQL twin of Similarity.quantize/qdot — see its scaladoc for
    * why quantization makes FP results engine-independent).
    */
  /** Shared CTE chain re-deriving [[Multimodal.aHash]] from the
    * generator's closed-form raster: 8×8 block floor-averages →
    * floor-mean threshold → bits packed via an exact HUGEINT
    * power-of-two table (bit 63 wraps two's-complement on the final
    * BIGINT cast, matching the JVM long). Callers must prefix
    * `WITH RECURSIVE` (the power table is the recursive member).
    */
  private[graft] val phashCteSql: String = """
      pw AS (SELECT 0 AS k, CAST(1 AS HUGEINT) AS v
             UNION ALL SELECT k + 1, v * 2 FROM pw WHERE k < 63),
      g AS (SELECT doc_id, CAST(16 + doc_id % 32 AS BIGINT) AS w,
                   CAST(16 + (doc_id * 7) % 24 AS BIGINT) AS h
            FROM documents),
      cellbox AS (SELECT doc_id, w, h, i, j,
                    (i * w) // 8 AS x0, ((i + 1) * w) // 8 AS x1,
                    (j * h) // 8 AS y0, ((j + 1) * h) // 8 AS y1
                  FROM g, UNNEST(range(8)) AS a(i),
                       UNNEST(range(8)) AS b(j)),
      blocksum AS (SELECT doc_id, i, j,
                     sum((doc_id + x + y) % 256) AS s, count(*) AS c
                   FROM cellbox, UNNEST(range(x0, x1)) AS xs(x),
                        UNNEST(range(y0, y1)) AS ys(y)
                   GROUP BY 1, 2, 3),
      cells AS (SELECT doc_id, i, j, s // c AS cv FROM blocksum),
      cmean AS (SELECT doc_id, sum(cv) // 64 AS mean
                FROM cells GROUP BY 1),
      hbits AS (SELECT c.doc_id, c.j * 8 + c.i AS k
                FROM cells c JOIN cmean m USING (doc_id)
                WHERE c.cv > m.mean),
      hraw AS (SELECT g.doc_id, g.w, g.h,
                 coalesce(sum(pw.v), CAST(0 AS HUGEINT)) AS hu
               FROM g LEFT JOIN hbits USING (doc_id)
               LEFT JOIN pw ON pw.k = hbits.k
               GROUP BY 1, 2, 3),
      ph AS (SELECT doc_id, CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(hu - CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
                     THEN CAST(18446744073709551616 AS HUGEINT)
                     ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS ahash
             FROM hraw)"""

  private[graft] val qEmbSql: String = """
    q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
          FROM embeddings),
    e AS (SELECT vec_id, i, qv[i] AS x
          FROM q, UNNEST(range(1, len(qv) + 1)) AS t(i)),
    n AS (SELECT vec_id, sum(x * x) AS norm FROM e GROUP BY vec_id)"""

  /** CTE chain ending in `exact(id_a, id_b)`: the scoped ground-truth
    * n-gram Jaccard pair set (the twin of [[groundTruthPairs]], same
    * text as the dedup_ngram_jaccard oracle).
    */
  private[graft] val gtPairsCteSql: String = """
    d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
    g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
          FROM d, UNNEST(range(1, length(text) - 1)) AS t(i)),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
          FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    ng AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id),
    exact AS (SELECT id_a, id_b
              FROM p JOIN ng na ON na.doc_id = id_a
                     JOIN ng nb ON nb.doc_id = id_b
              WHERE CAST(shared AS DOUBLE) / (na.ng + nb.ng - shared) >= 0.8)"""

  /** CTE chain (appended after [[qEmbSql]]) ending in
    * `exact(query_id, neighbor_id)`: brute-force quantized-cosine
    * top-5 for query vectors vec_id < 10 — the twin of the
    * `Similarity.topK(..., k = 5)` exact side of the ANN top-k gates.
    */
  private[graft] val exactTop5CteSql: String = """
    s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 sum(a.x * b.x) AS dot
          FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 10
               AND b.vec_id <> a.vec_id
          GROUP BY 1, 2),
    cs AS (SELECT query_id, neighbor_id,
                  CAST(dot AS DOUBLE) / sqrt(CAST(na.norm AS DOUBLE) * CAST(nb.norm AS DOUBLE)) AS cosine
           FROM s JOIN n na ON na.vec_id = query_id
                  JOIN n nb ON nb.vec_id = neighbor_id),
    exact AS (SELECT query_id, neighbor_id
              FROM (SELECT query_id, neighbor_id,
                           row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) AS rank
                    FROM cs) rk
              WHERE rank <= 5)"""

  /** Closing CTEs + SELECT for a recall-gate oracle: read the
    * materialized sketch keys from [[recallDumpDir]] (path substituted
    * for [[RecallDirToken]] by Verify), score them against the `exact`
    * CTE the caller prepends, and emit the same one-row
    * (n_exact, n_hit, recall_bp, meets_floor) frame as [[recallGate]]
    * — `//` truncates like Spark's DIV for non-negative counts.
    * `meets_floor` is the literal expected TRUE (not recomputed): the
    * independent cross-check lives in n_exact/n_hit/recall_bp, and
    * asserting the expectation makes a floor violation a visible
    * hash MISMATCH — were both sides to compute the boolean, a
    * recall regression would emit `false` twice and stay green.
    */
  private[graft] def recallTailSql(name: String, keys: String): String = {
    val bp = "CASE WHEN n_exact = 0 THEN CAST(10000 AS BIGINT) " +
      "ELSE (10000 * n_hit) // n_exact END"
    s"""
    approx AS (SELECT DISTINCT $keys
               FROM read_parquet('$RecallDirToken/$name/*.parquet')),
    cnt AS (SELECT count(*) AS n_exact FROM exact),
    hit AS (SELECT count(*) AS n_hit
            FROM exact ex JOIN approx ap USING ($keys))
    SELECT n_exact, n_hit, $bp AS recall_bp,
           TRUE AS meets_floor
    FROM cnt, hit"""
  }

  /** Shared doc-element body for the documents-table XML oracles. */
  private[graft] val docFieldsSql: String =
    s"""'<text>' || ${escSql("text")} || '</text>' ||
       '<source>' || ${escSql("source")} || '</source>' ||
       '<doc_id>' || CAST(doc_id AS VARCHAR) || '</doc_id>' ||
       '<n_chars>' || CAST(n_chars AS VARCHAR) || '</n_chars>' ||
       '</sphinx:document>'"""

  /** Oracle for TextStats.qualityFilter — shared verbatim by the
    * batch query and its stateless-streaming twin, which emit
    * identical rows by construction.
    */
  /** The quality-score CTE chain over `$from(doc_id, text)`, ending in
    * `r(doc_id, n_tokens, rep_ratio, quality, pred_lang, reason)` —
    * parameterized so the corpus_pipeline oracle can score REDACTED
    * text while the standalone query scores raw documents.
    */
  private[graft] def qualityCtesSql(from: String): String = s"""
      base AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p
                    FROM $from),
      sig AS (SELECT doc_id, null_text, n_tokens, rep_ratio, quality,
          CASE WHEN s_en + s_de + s_fr + s_es IS NULL
                 OR s_en + s_de + s_fr + s_es = 0 THEN 'unknown'
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
               WHEN s_fr >= s_es THEN 'fr'
               ELSE 'es' END AS pred_lang
        FROM (SELECT doc_id,
            (text IS NULL) AS null_text,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE length(text) - length(replace(text, ' ', '')) + 1
                 END AS n_tokens,
            CASE WHEN length(text) < 10 THEN 0.0 ELSE
              1.0 - CAST((SELECT count(DISTINCT substr(text, CAST(i AS INT), 10))
                          FROM UNNEST(range(1, length(text) - 8)) AS t(i))
                    AS DOUBLE) / (length(text) - 9) END AS rep_ratio,
            (CAST(${Seq("the", "and", "of", "to").map(hitsSql).mkString(" + ")}
                AS DOUBLE) * 100.0 / CAST(nullif(length(text), 0) AS DOUBLE)
             - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                AS DOUBLE) / CAST(nullif(length(text), 0) AS DOUBLE))
              AS quality,
            ${graft.operators.TextStats.LangProfiles.map { case (l, ws) =>
              ws.map(hitsSql).mkString(" + ") + s" AS s_$l"
            }.mkString(", ")}
          FROM base)),
      r AS (SELECT *,
          CASE WHEN null_text THEN 'null_text'
               WHEN n_tokens < 20 THEN 'too_few_tokens'
               WHEN n_tokens > 90 THEN 'too_many_tokens'
               WHEN pred_lang NOT IN ('en') THEN 'lang'
               WHEN rep_ratio > 0.04 THEN 'repetitive'
               WHEN quality < 0.5 THEN 'low_quality'
               ELSE 'ok' END AS reason
        FROM sig)"""

  private[graft] val qualityFilterSql: String = s"""
      WITH ${qualityCtesSql("documents")}
      SELECT doc_id, n_tokens, rep_ratio, quality, pred_lang,
             reason = 'ok' AS keep, reason
      FROM r ORDER BY doc_id"""

  /** Winnowing (Schleimer et al. 2003) as a DuckDB CTE chain, shared
    * by the fingerprint and pair oracles: words → alphabetical vocab
    * ranks → base-V Horner 3-gram ids → per 4-window min with
    * rightmost tie-break (row_number over g ASC, pos DESC — the
    * relational twin of the engine's min(struct(g, -pos)) frame).
    * Ends in `fp(doc_id, pos, gram)`.
    */
  private[graft] val winnowCteSql: String = """
      w0 AS (SELECT doc_id, u.i AS pos, ws[CAST(u.i AS INT)] AS word
             FROM (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                       x -> x <> '') AS ws
                   FROM documents) d,
                  UNNEST(range(1, len(ws) + 1)) AS u(i)),
      vocab AS (SELECT word, dense_rank() OVER (ORDER BY word) AS r
                FROM (SELECT DISTINCT word FROM w0)),
      vt AS (SELECT count(*) + 1 AS v FROM vocab),
      rk AS (SELECT w0.doc_id, w0.pos, vocab.r
             FROM w0 JOIN vocab USING (word)),
      gr AS (SELECT doc_id, pos,
               (r * v + lead(r, 1) OVER w) * v + lead(r, 2) OVER w AS g
             FROM rk, vt
             WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      g2 AS (SELECT doc_id, pos, g FROM gr WHERE g IS NOT NULL),
      pm AS (SELECT doc_id, max(pos) AS p FROM g2 GROUP BY 1),
      anc AS (SELECT g2.doc_id, g2.pos AS j
              FROM g2 JOIN pm USING (doc_id)
              WHERE g2.pos <= greatest(pm.p - 3, 1)),
      cand AS (SELECT a.doc_id, a.j, b.pos, b.g,
                 row_number() OVER (PARTITION BY a.doc_id, a.j
                                    ORDER BY b.g ASC, b.pos DESC) AS rn
               FROM anc a JOIN g2 b ON b.doc_id = a.doc_id
                                   AND b.pos BETWEEN a.j AND a.j + 3),
      fp AS (SELECT DISTINCT doc_id, pos, g AS gram FROM cand WHERE rn = 1)"""

  /** events_holt's DuckDB twin: the identical floor-division Holt
    * recurrence unrolled as a recursive CTE. The level/trend update
    * strings are composed here exactly as Events.holtDaily composes
    * its lambda (neither SQL dialect has let-bindings, so the level
    * expression is inlined into the trend update on both sides).
    */
  private[graft] def holtRecCteSql: String = {
    val lRaw = "2 * f.y * 1000000 + 8 * (rec.l + rec.b)"
    val lNew = s"(($lRaw) - ((($lRaw) % 10) + 10) % 10) // 10"
    val bRaw = s"($lNew) - rec.l + 9 * rec.b"
    val bNew = s"(($bRaw) - ((($bRaw) % 10) + 10) % 10) // 10"
    s"""
      WITH RECURSIVE d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   count(*) AS y FROM events GROUP BY 1),
      spine AS (SELECT unnest(range((SELECT min(day) FROM d),
                  (SELECT max(day) FROM d) + 1)) AS day),
      f AS (SELECT spine.day, CAST(coalesce(d.y, 0) AS BIGINT) AS y,
              row_number() OVER (ORDER BY spine.day) AS rn
            FROM spine LEFT JOIN d USING (day)),
      rec AS (SELECT rn, day, y, y * 1000000 AS l,
                CAST(0 AS BIGINT) AS b
              FROM f WHERE rn = 1
              UNION ALL
              SELECT f.rn, f.day, f.y, $lNew, $bNew
              FROM f JOIN rec ON f.rn = rec.rn + 1)"""
  }

  private[graft] def holtOracleSql: String = s"""
      $holtRecCteSql
      SELECT day, y, l AS level_micro, b AS trend_micro
      FROM rec ORDER BY day"""

  /** Shared CTE chain for the BPE oracles: word-frequency collapse,
    * initial symbol spelling, then `rounds` merge rounds unrolled as
    * CTE triples (pair-count → argmax → rewrite), each mirroring one
    * iteration of TextStats.bpeLoop.
    */
  private def bpeRoundsCte(rounds: Int, where: String = ""): String = s"""
      WITH wf AS (SELECT w, count(*) AS cnt FROM (
             SELECT unnest(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> ''))
               AS w
             FROM documents $where) GROUP BY w),
      s0 AS (SELECT w, concat(' ',
               regexp_replace(w, '(.)', '\\1 ', 'g'), '_ ') AS seq,
               cnt FROM wf),
      ${(1 to rounds).map { r => s"""
      p$r AS (SELECT pr, CAST(sum(cnt) AS BIGINT) AS n FROM (
          SELECT sym[CAST(i AS INT)] || ' ' ||
                 sym[CAST(i AS INT) + 1] AS pr, cnt
          FROM (SELECT list_filter(string_split_regex(seq, '\\s+'),
                  x -> x <> '') AS sym, cnt FROM s${r - 1}),
               unnest(range(1, len(sym))) AS t(i)) GROUP BY pr),
      b$r AS (SELECT pr, n FROM p$r ORDER BY n DESC, pr LIMIT 1),
      s$r AS (SELECT w, replace(seq, ' ' || pr || ' ',
                ' ' || replace(pr, ' ', '') || ' ') AS seq, cnt
              FROM s${r - 1}, b$r)"""
      }.mkString(",")}"""

  /** text_bpe_merges' DuckDB twin: the first three rounds' argmax
    * rows.
    */
  private[graft] def bpeOracleSql: String = s"""
      ${bpeRoundsCte(3)}
      SELECT CAST(1 AS BIGINT) AS round, pr AS pair, n AS pair_cnt
      FROM b1
      UNION ALL SELECT CAST(2 AS BIGINT), pr, n FROM b2
      UNION ALL SELECT CAST(3 AS BIGINT), pr, n FROM b3
      ORDER BY round"""

  /** text_bpe_train's DuckDB twin: eight unrolled merge rounds, then
    * the final-vocabulary census over the rewritten symbol sequences
    * (TextStats.bpeTrain).
    */
  private[graft] def bpeTrainOracleSql: String = s"""
      ${bpeRoundsCte(8)},
      ex AS (SELECT w, cnt,
               unnest(list_filter(string_split_regex(seq, '\\s+'),
                 x -> x <> '')) AS symbol
             FROM s8)
      SELECT symbol, CAST(count(DISTINCT w) AS BIGINT) AS n_words,
             CAST(sum(cnt) AS BIGINT) AS freq,
             length(symbol) > 1 AS is_merged
      FROM ex GROUP BY symbol ORDER BY freq DESC, symbol"""

  /** text_bpe_encode's DuckDB twin: the same eight unrolled rounds,
    * then every document's words join the trained word table for
    * their symbol counts (TextStats.bpeEncodeFromFinal).
    */
  private[graft] def bpeEncodeOracleSql: String = s"""
      ${bpeRoundsCte(8)},
      wl AS (SELECT w, CAST(len(list_filter(
               string_split_regex(seq, '\\s+'), x -> x <> ''))
               AS BIGINT) AS n_sym
             FROM s8),
      dw AS (SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> ''))
               AS w
             FROM documents)
      SELECT doc_id, count(*) AS n_words,
             CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
             (10000 * CAST(sum(n_sym) AS BIGINT)) // count(*)
               AS fertility_bp
      FROM dw JOIN wl USING (w)
      GROUP BY doc_id ORDER BY doc_id"""

  /** text_bpe_encode_oov's DuckDB twin: the same eight rounds trained
    * on the EVEN-doc_id half only, then the full corpus — each doc
    * with its injected doc_id-derived token — encodes through a LEFT
    * join; OOV words take the per-character fallback length(w)+1
    * (TextStats.bpeEncodeOovSafe).
    */
  private[graft] def bpeEncodeOovOracleSql: String = s"""
      ${bpeRoundsCte(8, "WHERE ((doc_id % 2) + 2) % 2 = 0")},
      wl AS (SELECT w, CAST(len(list_filter(
               string_split_regex(seq, '\\s+'), x -> x <> ''))
               AS BIGINT) AS n_sym
             FROM s8),
      dw AS (SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(text || ' tok' ||
                 CAST(doc_id AS VARCHAR)), '\\s+'), x -> x <> ''))
               AS w
             FROM documents)
      SELECT doc_id, count(*) AS n_words,
             CAST(sum(CASE WHEN n_sym IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_oov,
             CAST(sum(coalesce(n_sym, length(w) + 1)) AS BIGINT)
               AS n_bpe_tokens,
             (10000 * CAST(sum(coalesce(n_sym, length(w) + 1))
               AS BIGINT)) // count(*) AS fertility_bp
      FROM dw LEFT JOIN wl USING (w)
      GROUP BY doc_id ORDER BY doc_id"""

  /** Shared CTE chain for the decomposition oracles: gapfilled day
    * spine → centered 7-day MA trend (`tt`) → weekday seasonal means
    * (`ss`) — the twin of Events.decomposeDaily, reused by
    * events_decompose and events_decompose_strength.
    */
  private[graft] def decomposeCteSql: String = """
      WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   count(*) AS y FROM events GROUP BY 1),
      spine AS (SELECT unnest(range((SELECT min(day) FROM d),
                  (SELECT max(day) FROM d) + 1)) AS day),
      f AS (SELECT spine.day, CAST(coalesce(d.y, 0) AS BIGINT) AS y
            FROM spine LEFT JOIN d USING (day)),
      t0 AS (SELECT day, y, CAST(sum(y) OVER w7 AS BIGINT) AS s7,
               count(*) OVER w7 AS nw
             FROM f WINDOW w7 AS (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      tt AS (SELECT day, y, (1000 * s7) // 7 AS trend_milli,
               1000 * y - (1000 * s7) // 7 AS detr_milli
             FROM t0 WHERE nw = 7),
      seas AS (SELECT day % 7 AS dw,
                 CAST(sum(detr_milli) AS BIGINT) AS sd,
                 CAST(count(*) AS BIGINT) AS m
               FROM tt GROUP BY 1),
      ss AS (SELECT dw, (sd - ((sd % m) + m) % m) // m
               AS seasonal_milli FROM seas)"""

  /** One RFM quintile-boundary CTE (SQL twin of the count-of-counts
    * `bounds` frame inside Events.rfmSegments).
    */
  private[graft] def rfmBounds(name: String, dim: String): String = s"""
      $name AS (SELECT ${(1 to 4).map(k =>
        s"min(CASE WHEN cum * 5 >= n * $k THEN v END) AS ${dim}_b$k")
        .mkString(", ")}
        FROM (SELECT v, sum(m) OVER (ORDER BY v) AS cum,
                sum(m) OVER () AS n
              FROM (SELECT $dim AS v, count(*) AS m FROM ur
                    GROUP BY 1)))"""

  /** events_rfm's DuckDB twin — per-dimension boundary CTEs + the
    * 1 + #boundaries-below score, mirroring Events.rfmSegments.
    */
  private[graft] def rfmOracleSql: String = {
    def score(dim: String) = s"CAST(1 ${(1 to 4).map(k =>
      s"+ (CASE WHEN $dim > ${dim}_b$k THEN 1 ELSE 0 END)")
      .mkString(" ")} AS BIGINT)"
    s"""
      WITH u AS (SELECT user_id,
                   max(epoch_us(ts) // 86400000000) AS last_day,
                   count(*) AS f,
                   CAST(sum(CAST(round(value * 10000) AS BIGINT))
                     AS BIGINT) AS mq
                 FROM events GROUP BY 1),
      mx AS (SELECT max(epoch_us(ts) // 86400000000) AS dmax
             FROM events),
      ur AS (SELECT user_id, dmax - last_day AS r,
               CAST(f AS BIGINT) AS f, mq
             FROM u, mx),
      ${rfmBounds("rb", "r")},
      ${rfmBounds("fb", "f")},
      ${rfmBounds("mb", "mq")},
      scored AS (SELECT ${score("r")} AS r_q, ${score("f")} AS f_q,
               ${score("mq")} AS m_q
             FROM ur, rb, fb, mb)
      SELECT r_q, f_q, m_q, count(*) AS n_users
      FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
  }

  /** Shared CTE chain for the LPA-family oracles: the customer↔
    * supplier bipartite graph (e0/e2/nodes) + two synchronous
    * min-label-tie label-propagation rounds ending in `l2(node,
    * label)` — the twin of graph_communities' Spark side, reused by
    * graph_modularity.
    */
  private[graft] def lpaCteSql: String = s"""
      WITH e0 AS (SELECT DISTINCT o_custkey AS src,
                    100000 + l_suppkey AS dst
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e2 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      nodes AS (SELECT DISTINCT src AS node FROM e2),
      l0 AS (SELECT node, node AS label FROM nodes),
      ${Seq(("l0", "l1"), ("l1", "l2")).map { case (prev, nxt) => s"""
      $nxt AS (SELECT n.node, coalesce(w.new_label, p.label) AS label
        FROM nodes n JOIN $prev p ON p.node = n.node
        LEFT JOIN (SELECT node, label AS new_label FROM (
            SELECT v.node, v.label,
                   row_number() OVER (PARTITION BY v.node
                     ORDER BY v.n DESC, v.label) AS rk
            FROM (SELECT e2.dst AS node, r.label, count(*) AS n
                  FROM e2 JOIN $prev r ON r.node = e2.src
                  GROUP BY e2.dst, r.label) v) rkq
          WHERE rk = 1) w ON w.node = n.node)"""
      }.mkString(",")}"""

  /** profile_corr_matrix's DuckDB twin: the same single sufficient-
    * statistics pass (HUGEINT exact) + one UNION ALL row per pair.
    */
  private[graft] def corrMatrixOracleSql: String = {
    val cols = Seq("l_quantity" -> "qty", "l_extendedprice" -> "price",
      "l_discount" -> "disc", "l_tax" -> "tax")
    val names = cols.map(_._2)
    val pairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (names(i), names(j))
    val quant = cols.map { case (c, a) =>
      s"CAST(round($c * 100) AS BIGINT) AS $a" }.mkString(", ")
    val sums = (Seq("count(*) AS n") ++
      names.map(a => s"sum(CAST($a AS HUGEINT)) AS s_$a") ++
      names.map(a => s"sum(CAST($a AS HUGEINT) * $a) AS ss_$a") ++
      pairs.map { case (a, b) =>
        s"sum(CAST($a AS HUGEINT) * $b) AS sp_${a}_$b" }).mkString(", ")
    val rows = pairs.map { case (a, b) =>
      val num = s"(n * sp_${a}_$b - s_$a * s_$b)"
      val den = s"(n * ss_$a - s_$a * s_$a)"
      val deny = s"(n * ss_$b - s_$b * s_$b)"
      s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
        CAST($num AS DOUBLE) / CAST($den AS DOUBLE) AS slope,
        CAST($num AS DOUBLE) * CAST($num AS DOUBLE) /
          (CAST($den AS DOUBLE) * CAST($deny AS DOUBLE)) AS r2
      FROM w"""
    }.mkString(" UNION ALL ")
    s"""
      WITH b AS (SELECT $quant FROM lineitem),
      w AS (SELECT $sums FROM b)
      $rows ORDER BY col_a, col_b"""
  }

  def oracleSql: Map[String, String] =
    (registry.RegDedup.oracleSqlRaw ++
      registry.RegEventsA.oracleSqlRaw ++
      registry.RegEventsB.oracleSqlRaw ++
      registry.RegGraph.oracleSqlRaw ++
      registry.RegHygiene.oracleSqlRaw ++
      registry.RegIo.oracleSqlRaw ++
      registry.RegProfile.oracleSqlRaw ++
      registry.RegSampling.oracleSqlRaw ++
      registry.RegSim.oracleSqlRaw ++
      registry.RegSqlA.oracleSqlRaw ++
      registry.RegSqlB.oracleSqlRaw ++
      registry.RegText.oracleSqlRaw ++
      registry.RegTpch.oracleSqlRaw ++
      registry.RegXmlPipe.oracleSqlRaw)
      .map { case (k, v) => k -> v.stripMargin.trim.replaceAll("\\s+", " ") }
}
