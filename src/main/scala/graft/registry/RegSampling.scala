package graft
package registry

import graft.operators._
import graft.SparkEntry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sampling query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegSampling {

  /** Tunables shared by the Scala call AND its DuckDB twin — the
    * LrRounds convention (r16 self-review: a literal inside the SQL
    * string drifts silently when the registry call changes).
    */
  private val MatchBucketWidth = 100L
  private val MatchKeepGrain = 10000
  private val TruncMaxLen = 128L
  private val CurriculumStages = 4
  private val CurriculumBucketWidth = 250L
  private val ReweightEtaBp = 5000L
  private val ReweightEpsBp = 1000L

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_packed" -> ((s, dir) => {
      // budget 512 ≈ 9 docs/sequence on this fixture, so shards chop
      // into several bins and offsets exercise the wrap-around
      Sampling.packSequences(t(s, dir, "documents"),
        TextStats.nTokens(col("text")), budget = 512)
        .orderBy(col("doc_id"))
    }),
    "sample_packed_text" -> ((s, dir) => {
      Sampling.packedText(t(s, dir, "documents"),
        TextStats.nTokens(col("text")), budget = 512)
        .orderBy(col("shard"), col("bin"))
    }),
    "sample_fixed_k" -> ((s, dir) => {
      // deterministic reservoir replacement: exactly k rows by
      // scrambled-hash rank (TakeOrderedAndProject, rerun-stable)
      Sampling.fixedK(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("text")), k = 50)
        .orderBy(col("doc_id"))
    }),
    "sample_weighted_priority" -> ((s, dir) => {
      // weighted sample: k docs by Duffield–Lund–Thorup priority
      // (w/u, deterministic u from the id hash) — long docs
      // near-certain, short docs ∝ n_chars, variance-optimal subset
      // estimation. Two-limb exact-division priorities keep both
      // engines bit-identical without 64-bit overflow.
      Sampling.prioritySample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        k = 50, weightCol = "n_chars")
        .orderBy(col("doc_id"))
    }),
    "sample_fixed_k_stratified" -> ((s, dir) => {
      // k docs PER SOURCE by the same scrambled rank; WindowGroupLimit
      // pre-truncates map-side so the shuffle carries ~k rows/stratum
      Sampling.fixedKStratified(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("text")), k = 10, strataCol = "source")
        .orderBy(col("doc_id"))
    }),
    "sample_time_split" -> ((s, dir) =>
      // purged temporal split with embargo (time-series-CV): boundary
      // from the data's own day span, per-split audit row + the
      // train∩test user-overlap count
      Sampling.timeSplitAudit(t(s, dir, "events"))
        .orderBy(col("split"))),
    "sample_quality_tiers" -> ((s, dir) =>
      // quality-aware keep-rate sampling: integer quality → tier →
      // per-tier deterministic keep percentage; pure map, no shuffle
      Sampling.qualityTieredKeep(
        TextStats.qualityScore(t(s, dir, "documents")))
        .orderBy(col("doc_id"))),
    "sample_split" -> ((s, dir) => {
      Sampling.hashSplit(t(s, dir, "documents"))
        .select(col("doc_id"), col("split")).orderBy(col("doc_id"))
    }),
    "sample_split_leakage_free" -> ((s, dir) => {
      // leakage-free split: each doc takes the split of its near-dup
      // CLUSTER (connected-components root over the ground-truth pair
      // graph), so paraphrase families never straddle train/test
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"))
      Sampling.splitByCluster(docs, groundTruthPairs(s, dir))
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    }),
    "sample_curriculum" -> ((s, dir) => {
      // easy-to-hard curriculum stages at value-bucket grain: no
      // global rank, just two bounded hash aggs + broadcast joins —
      // the schedule survives 10^11 rows because nothing sorts them
      Sampling.curriculumStages(t(s, dir, "documents"),
        stages = CurriculumStages, bucketWidth = CurriculumBucketWidth)
    }),
    "sample_match_distribution" -> ((s, dir) => {
      // histogram-matching rejection audit: reshape the even-id
      // split's length distribution to the odd-id split's via
      // per-bucket deterministic keep probabilities
      Sampling.matchDistribution(t(s, dir, "documents"),
        bucketWidth = MatchBucketWidth, keepGrain = MatchKeepGrain)
    }),
    "sample_truncation_loss" -> ((s, dir) => {
      // truncate-vs-pack decision row at max_seq_len 128: per-source
      // token loss under a hard cut
      Sampling.truncationLoss(t(s, dir, "documents"),
        maxLen = TruncMaxLen)
    }),
    "sample_source_hhi" -> ((s, dir) => {
      // mixture-health readout: per-source token share, corpus HHI,
      // effective number of domains — run before trusting weights
      Sampling.sourceConcentration(t(s, dir, "documents"))
    }),
    "sample_mixture_reweight" -> ((s, dir) => {
      // one DoReMi multiplicative-weights step over the mixture
      // family's weights: domains below the corpus-mean difficulty
      // (qualityCbp) get upweighted by the linearized Hedge factor,
      // then ppm-normalized with 10% uniform smoothing
      Sampling.mixtureReweight(t(s, dir, "documents"), "source",
        Map("src0" -> 2500L, "src1" -> 5000L, "src2" -> 0L),
        defaultBp = 7500L, etaBp = ReweightEtaBp, epsBp = ReweightEpsBp)
    }),
    "sample_mixture_epochs" -> ((s, dir) => {
      // DoReMi-style recipe table at a 2x-corpus token budget, same
      // target weights as sample_mixture: per source, tokens
      // available, target tokens, and implied epochs (bp)
      Sampling.mixtureEpochs(t(s, dir, "documents"), "source",
        Map("src0" -> 2500L, "src1" -> 5000L, "src2" -> 0L),
        defaultBp = 7500L, budgetNum = 2L, budgetDen = 1L)
    }),
    "sample_mixture" -> ((s, dir) => {
      // target mixture: src0 quartered, src1 halved, src2 dropped,
      // everything else at 3/4 weight
      Sampling.mixture(t(s, dir, "documents"), "source",
        Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0), default = 0.75)
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
    }),
    "sample_mixture_upsampled" -> ((s, dir) => {
      // src0 is upsampled 2.5× (two whole copies + a deterministic
      // half), src1 halved, the rest passes through once; weights are
      // exact binary fractions so the threshold math is FP-identical
      // on both engines
      Sampling.mixtureUpsampled(t(s, dir, "documents"), "source",
        Map("src0" -> 2.5, "src1" -> 0.5), default = 1.0)
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }),
    "sample_mixture_temperature" -> ((s, dir) =>
      // α=1/2 temperature rebalancing (mT5/XLM-R): per-LANGUAGE keep
      // rate (n_min/n_l)^½ in ppm via exact isqrt — the language
      // column is the fixture's one skewed stratum (en ≈ 3× fr), so
      // the thinning branch actually fires; smallest language keeps
      // everything, audit row per language
      Sampling.mixtureTemperature(t(s, dir, "documents"), "lang")
        .orderBy(col("lang"))),
    "sample_bucket_uniformity" -> ((s, dir) =>
      // QA of the sampler substrate itself: chi^2 of the 100-bucket
      // histogram vs uniform (full spine, empty buckets count), with
      // the 99-df critical-value flag (Sampling.bucketUniformity)
      Sampling.bucketUniformity(t(s, dir, "documents"))),
    "sample_split_contamination" -> ((s, dir) => {
      // eval-integrity report (the GPT-2/3 train-test overlap study,
      // run at the SPAN level): test-split docs sharing any 30-char
      // n-gram with the train split, with their overlap evidence —
      // the residual leakage sample_split_leakage_free exists to
      // prevent, measured on the plain hash split
      val sp = Sampling.hashSplit(t(s, dir, "documents"))
      // broadcastBench = false: the "bench" side here is the 80%
      // TRAIN split — corpus-sized, so the strategy is left to AQE
      // (a forced broadcast of it dies at the 8 GB cap at scale);
      // see Decontaminate.flagged's scaladoc
      Decontaminate.flagged(sp.filter(col("split") === "test"),
        sp.filter(col("split") === "train"), broadcastBench = false)
        .orderBy(col("doc_id"))
    }),
    "sample_poisson_bootstrap" -> ((s, dir) =>
      // one-pass bootstrap: 8 deterministic Poisson(1) replicates of
      // the per-source mean n_chars, variance of replicate means out
      Sampling.poissonBootstrap(t(s, dir, "documents"), "source",
        "n_chars", b = 8)
        .orderBy(col("source"))),
    "sample_neyman_apply" -> ((s, dir) =>
      // the draw the allocation row plans: exactly alloc_h docs per
      // source by scrambled-hash rank (Sampling.neymanApply)
      Sampling.neymanApply(t(s, dir, "documents"), "source",
        "n_chars", k = 100L)
        .orderBy(col("source"), col("doc_id"))),
    "sample_neyman_alloc" -> ((s, dir) =>
      // Neyman-optimal allocation of a 100-doc budget across sources
      // by n_chars variability: w = isqrt(N·Σv² − (Σv)²) = N·S exact
      Sampling.neymanAllocation(t(s, dir, "documents"), "source",
        "n_chars", k = 100L)
        .orderBy(col("source"))),
    "sample_interleave" -> ((s, dir) =>
      // deterministic round-robin source interleave (epoch order
      // within source): head of the training order
      Sampling.interleave(t(s, dir, "documents"), "source")
        .orderBy(col("pos"))),
    "sample_length_batches" -> ((s, dir) =>
      // length-grouped batch assembly: 16-token bands, deterministic
      // within-band epoch shuffle, batches of 8, padding-waste audit
      Sampling.lengthBatches(t(s, dir, "documents"),
        TextStats.nTokens(col("text")), batchSize = 8, bandWidth = 16L)
        .orderBy(col("band"), col("batch"))),
    "sample_token_budget" -> ((s, dir) => {
      // per-source token budget over the same whitespace token count
      // text_token_stats pins; docs admitted in stable hash order
      val txt = col("text")
      val nTokens = when(length(trim(txt)) === 0, lit(0L))
        .otherwise((length(txt) - length(replace(txt, lit(" "))) + 1)
          .cast("long"))
      Sampling.tokenBudget(
        t(s, dir, "documents").withColumn("n_tokens", nTokens),
        col("n_tokens"), budget = 1000L, strataCol = "source")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: event windows (batch + streaming twin) ----
    "sample_coverage" -> ((s, dir) =>
      // greedy max-coverage selection; the oracle replays the same 5
      // rounds over materialized gram CTEs
      Sampling.greedyCoverage(t(s, dir, "documents"), k = 5)
        .orderBy(col("rank"))),
    "sample_coreset" -> ((s, dir) =>
      // k-center greedy diverse subset over the capped slice; the
      // Spark path is k·N scans, the oracle replays rounds over its
      // (oracle-scale) all-pairs distance table
      Similarity.farthestPointSample(
        t(s, dir, "embeddings").filter(col("vec_id") < 500), k = 8)
        .orderBy(col("rank"))),
    "sample_kfold" -> ((s, dir) =>
      // deterministic 5-fold assignment (scrambled-hash bucket) with
      // the fold × source balance audit — cross-validation hygiene:
      // each fold should mirror the corpus mix
      t(s, dir, "documents")
        .select(Sampling.bucket(col("doc_id"), 5).as("fold"),
          col("source"), col("n_chars"))
        .groupBy(col("fold"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("fold"), col("source"))),
    "sample_split_by_user" -> ((s, dir) => {
      // entity-level split: every event follows its USER's scrambled
      // bucket, so no user's history straddles train/val/test — the
      // grouped-leakage guard sample_split applies at document grain,
      // here at the behavioral-data grain. Output is the split census
      // (events + distinct users per split)
      val b = Sampling.bucket(col("user_id"))
      t(s, dir, "events")
        .select(col("user_id"),
          when(b < 80, "train").when(b < 90, "val").otherwise("test")
            .as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("split"))
    }),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "sample_fixed_k" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      r AS (SELECT d.doc_id, d.source, d.text,
              ((((s.hash % 2147483647) + 2147483647) % 2147483647)
                * 48271) % 2147483647 AS rk
            FROM documents d JOIN sdbm s ON s.sid = d.doc_id)
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text FROM r
        ORDER BY rk, doc_id LIMIT 50)
      ORDER BY doc_id""",
    "sample_weighted_priority" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      r AS (SELECT d.doc_id, d.n_chars,
              (((((s.hash % 2147483647) + 2147483647) % 2147483647)
                * 48271) % 2147483647) + 1 AS u
            FROM documents d JOIN sdbm s ON s.sid = d.doc_id)
      SELECT doc_id, n_chars, prio_unit, prio_frac FROM (
        SELECT doc_id, n_chars,
               (n_chars * 1000000) // u AS prio_unit,
               (((n_chars * 1000000) % u) * 1000000) // u AS prio_frac
        FROM r ORDER BY prio_unit DESC, prio_frac DESC, doc_id LIMIT 50)
      ORDER BY doc_id""",
    "sample_fixed_k_stratified" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      r AS (SELECT d.doc_id, d.source, d.text,
              ((((s.hash % 2147483647) + 2147483647) % 2147483647)
                * 48271) % 2147483647 AS rk
            FROM documents d JOIN sdbm s ON s.sid = d.doc_id)
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               row_number() OVER (PARTITION BY source
                                  ORDER BY rk, doc_id) AS rn
        FROM r) WHERE rn <= 10
      ORDER BY doc_id""",
    "sample_time_split" -> """
      WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
                 FROM events),
      b AS (SELECT min(day) AS dmin, max(day) AS dmax FROM d),
      a AS (SELECT user_id, day,
              CASE WHEN day < t0 THEN 'train'
                   WHEN day < t0 + 2 THEN 'embargo'
                   ELSE 'test' END AS split
            FROM (SELECT d.user_id, d.day,
                    b.dmin + ((b.dmax - b.dmin + 1) * 70) // 100 AS t0
                  FROM d, b)),
      leak AS (SELECT count(*) AS leak_users FROM (
                 SELECT DISTINCT user_id FROM a WHERE split = 'train'
                 INTERSECT
                 SELECT DISTINCT user_id FROM a WHERE split = 'test')),
      per AS (SELECT split, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                min(day) AS min_day, max(day) AS max_day
              FROM a GROUP BY split)
      SELECT split, n_events, n_users, min_day, max_day, leak_users
      FROM per, leak ORDER BY split""",
    "sample_quality_tiers" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      sc AS (SELECT doc_id, length(text) AS n_chars,
               length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                 AS n_punct,
               ${Seq("the", "and", "of", "to").map(hitsSql)
                 .mkString(" + ")} AS stop_hits
             FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p
                   FROM documents)),
      iqf AS (SELECT doc_id,
                CASE WHEN n_chars = 0 THEN 0
                     ELSE greatest(0, 1000000 * stop_hits
                            - 10000 * n_punct) // n_chars END AS iq
              FROM sc),
      tf AS (SELECT doc_id, iq, least(3, iq // 5000) AS tier FROM iqf)
      SELECT t.doc_id, t.tier, t.iq
      FROM tf t JOIN sdbm s ON s.sid = t.doc_id
      WHERE ${bucketSql("s.hash")} <
            CASE t.tier WHEN 0 THEN 10 WHEN 1 THEN 25
                 WHEN 2 THEN 50 ELSE 100 END
      ORDER BY t.doc_id""",
    "sample_split" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")}
      SELECT d.doc_id,
             CASE WHEN ${bucketSql("s.hash")} < 80 THEN 'train'
                  WHEN ${bucketSql("s.hash")} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d JOIN sdbm s ON s.sid = d.doc_id
      ORDER BY d.doc_id""",
    // the dedup_clusters CTE chain (identical text) + the sample_split
    // hash CTE over the cluster root instead of the doc id
    "sample_split_leakage_free" -> s"""
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
      cl AS (SELECT node AS doc_id, min(r) AS cluster_id
             FROM reach GROUP BY node),
      keyed AS (SELECT d.doc_id,
                  coalesce(cl.cluster_id, d.doc_id) AS split_key
                FROM d LEFT JOIN cl ON cl.doc_id = d.doc_id),
      ${sdbmCte("keyed", "split_key", "0", "CAST(split_key AS VARCHAR)")}
      SELECT k.doc_id, k.split_key,
             CASE WHEN ${bucketSql("s.hash")} < 80 THEN 'train'
                  WHEN ${bucketSql("s.hash")} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM keyed k JOIN sdbm s ON s.sid = k.split_key
      ORDER BY k.doc_id""",
    "sample_curriculum" -> s"""
      WITH b AS (SELECT doc_id, n_chars,
               (1000000 * (${Seq("the", "and", "of", "to").map(hitsSql)
                 .mkString(" + ")})
                - 10000 * length(regexp_replace(text,
                    '[a-zA-Z0-9\\s]', '', 'g')))
                 // greatest(length(text), 1) AS q
             FROM (SELECT doc_id, n_chars, text,
                     ' ' || lower(text) || ' ' AS p FROM documents)),
      bb AS (SELECT doc_id, n_chars, q,
               q // $CurriculumBucketWidth AS bkt FROM b),
      bc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS c
             FROM bb GROUP BY 1),
      cum AS (SELECT a.bkt, a.c,
                CAST(coalesce(sum(lo.c), 0) AS BIGINT) AS cum
              FROM bc a LEFT JOIN bc lo ON lo.bkt < a.bkt
              GROUP BY 1, 2),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bb)
      SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
             min(q) AS min_q, max(q) AS max_q,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM (SELECT least(($CurriculumStages * cum) // greatest(n, 1),
                     ${CurriculumStages - 1}) AS stage,
              q, n_chars
            FROM bb JOIN cum USING (bkt), nn)
      GROUP BY 1 ORDER BY 1""",
    "sample_match_distribution" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      base AS (SELECT d.doc_id, d.n_chars,
                 ((d.doc_id % 2) + 2) % 2 AS h,
                 d.n_chars // $MatchBucketWidth AS b, s.hash AS hh
               FROM documents d JOIN sdbm s ON s.sid = d.doc_id),
      hist AS (SELECT b,
                 CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS src_n,
                 CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS ref_n
               FROM base GROUP BY 1),
      tot AS (SELECT greatest(CAST(sum(src_n) AS BIGINT), 1) AS n_src,
                greatest(CAST(sum(ref_n) AS BIGINT), 1) AS n_ref
              FROM hist),
      w AS (SELECT b, src_n, ref_n,
              CAST((CAST(ref_n AS HUGEINT) * n_src * 10000)
                // (CAST(src_n AS HUGEINT) * n_ref) AS BIGINT) AS w_bp
            FROM hist, tot WHERE src_n > 0),
      mx AS (SELECT greatest(CAST(max(w_bp) AS BIGINT), 1) AS max_w
             FROM w),
      pp AS (SELECT b, src_n, ref_n, w_bp,
               CAST((CAST(w_bp AS HUGEINT) * $MatchKeepGrain) // max_w
                 AS BIGINT) AS p_bp
             FROM w, mx),
      kept AS (SELECT base.b, CAST(count(*) AS BIGINT) AS kept_n
               FROM base JOIN pp USING (b)
               WHERE h = 0 AND ${bucketSql("hh", MatchKeepGrain)} < p_bp
               GROUP BY 1)
      SELECT pp.b, pp.src_n, pp.ref_n, pp.w_bp, pp.p_bp,
             coalesce(k.kept_n, 0) AS kept_n
      FROM pp LEFT JOIN kept k USING (b) ORDER BY pp.b""",
    "sample_truncation_loss" -> s"""
      WITH f AS (SELECT source,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE length(text) - length(replace(text, ' ', '')) + 1
               END AS BIGINT) AS nt
             FROM documents),
      a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(nt) AS BIGINT) AS n_tokens,
              CAST(sum(least(nt, $TruncMaxLen)) AS BIGINT) AS tokens_kept,
              CAST(sum(CASE WHEN nt > $TruncMaxLen THEN 1 ELSE 0 END) AS BIGINT)
                AS n_truncated
            FROM f GROUP BY 1)
      SELECT source, n_docs, n_tokens, tokens_kept, n_truncated,
             CASE WHEN n_tokens = 0 THEN NULL
                  ELSE (10000 * (n_tokens - tokens_kept)) // n_tokens
             END AS lost_bp
      FROM a ORDER BY source""",
    "sample_source_hhi" -> """
      WITH ps AS (SELECT source,
               CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE length(text) - length(replace(text, ' ', '')) + 1
               END) AS BIGINT) AS tokens
             FROM documents GROUP BY 1),
      tot AS (SELECT greatest(CAST(sum(tokens) AS BIGINT), 1) AS t
              FROM ps),
      sh AS (SELECT source, tokens,
               (1000000 * tokens) // t AS share_ppm
             FROM ps, tot),
      h AS (SELECT CAST(sum(share_ppm * share_ppm) AS BIGINT)
                // 1000000 AS hhi_ppm FROM sh),
      h2 AS (SELECT hhi_ppm,
               100000000 // greatest(hhi_ppm, 1) AS eff_domains_c
             FROM h)
      SELECT source, tokens, share_ppm, hhi_ppm, eff_domains_c
      FROM sh, h2 ORDER BY source""",
    "sample_mixture_reweight" -> s"""
      WITH b AS (SELECT source,
               (1000000 * (${Seq("the", "and", "of", "to").map(hitsSql)
                 .mkString(" + ")})
                - 10000 * length(regexp_replace(text,
                    '[a-zA-Z0-9\\s]', '', 'g')))
                 // greatest(length(text), 1) AS q
             FROM (SELECT source, text,
                     ' ' || lower(text) || ' ' AS p FROM documents)),
      d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(q) AS BIGINT) AS sq
            FROM b GROUP BY 1),
      dm AS (SELECT source, n_docs, sq // n_docs AS mean_q_cbp,
               CAST(CASE source WHEN 'src0' THEN 2500
                    WHEN 'src1' THEN 5000 WHEN 'src2' THEN 0
                    ELSE 7500 END AS BIGINT) AS w_bp
             FROM d),
      c AS (SELECT CAST(sum(sq) AS BIGINT)
                // greatest(CAST(sum(n_docs) AS BIGINT), 1) AS cmean,
              CAST(count(*) AS BIGINT) AS k
            FROM d),
      f AS (SELECT source, n_docs, mean_q_cbp, w_bp, k,
              greatest(cmean - mean_q_cbp, 0) AS excess_cbp,
              10000 + (CAST($ReweightEtaBp AS HUGEINT)
                * greatest(cmean - mean_q_cbp, 0)) // 10000 AS factor_bp
            FROM dm, c),
      f2 AS (SELECT *,
               CAST((CAST(w_bp AS HUGEINT) * factor_bp) // 10000
                 AS BIGINT) AS w_raw
             FROM f),
      t AS (SELECT greatest(CAST(sum(w_raw) AS BIGINT), 1) AS sraw
            FROM f2)
      SELECT source, n_docs, mean_q_cbp, excess_cbp,
             CAST(factor_bp AS BIGINT) AS factor_bp,
             CAST(((10000 - $ReweightEpsBp) *
                 ((1000000 * CAST(w_raw AS HUGEINT)) // sraw)) // 10000
               + (1000000 * $ReweightEpsBp) // (10000 * k)
               AS BIGINT) AS w_ppm
      FROM f2, t ORDER BY source""",
    "sample_mixture_epochs" -> """
      WITH ps AS (SELECT source,
               CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE length(text) - length(replace(text, ' ', '')) + 1
               END) AS BIGINT) AS tokens_avail
             FROM documents GROUP BY 1),
      w AS (SELECT source, tokens_avail,
              CAST(CASE source WHEN 'src0' THEN 2500
                   WHEN 'src1' THEN 5000 WHEN 'src2' THEN 0
                   ELSE 7500 END AS BIGINT) AS w_bp
            FROM ps),
      tot AS (SELECT greatest(CAST(sum(w_bp) AS BIGINT), 1) AS wsum,
                (CAST(sum(tokens_avail) AS BIGINT) * 2) // 1 AS budget
              FROM w)
      SELECT source, tokens_avail, w_bp,
             CAST((CAST(budget AS HUGEINT) * w_bp) // wsum AS BIGINT)
               AS tokens_target,
             CASE WHEN tokens_avail = 0 THEN NULL
                  ELSE CAST((10000 * ((CAST(budget AS HUGEINT) * w_bp)
                    // wsum)) // tokens_avail AS BIGINT) END AS epochs_bp
      FROM w, tot ORDER BY source""",
    "sample_mixture" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")}
      SELECT d.doc_id, d.source
      FROM documents d JOIN sdbm s ON s.sid = d.doc_id
      WHERE CAST(${bucketSql("s.hash")} AS DOUBLE) <
            CASE d.source WHEN 'src0' THEN 25.0 WHEN 'src1' THEN 50.0
                 WHEN 'src2' THEN 0.0 ELSE 75.0 END
      ORDER BY d.doc_id""",
    "sample_mixture_upsampled" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      wd AS (SELECT d.doc_id, d.source,
               CASE d.source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.5
                    ELSE 1.0 END AS w,
               ${bucketSql("s.hash")} AS bk
             FROM documents d JOIN sdbm s ON s.sid = d.doc_id),
      c AS (SELECT doc_id, source,
              CAST(floor(w) AS BIGINT) +
                CASE WHEN CAST(bk AS DOUBLE) < (w - floor(w)) * 100
                     THEN 1 ELSE 0 END AS copies
            FROM wd)
      SELECT doc_id, source, CAST(i AS BIGINT) AS copy
      FROM c, UNNEST(range(1, copies + 1)) AS t(i)
      ORDER BY doc_id, copy""",
    "sample_mixture_temperature" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
      m AS (SELECT min(n_docs) AS n_min FROM c),
      r AS (SELECT c.lang, c.n_docs,
              CAST((CAST(1000000000000 AS HUGEINT) * m.n_min)
                // c.n_docs AS BIGINT) AS ratio
            FROM c, m),
      q AS (SELECT lang, n_docs,
              CASE WHEN (s0 + 1) * (s0 + 1) <= ratio THEN s0 + 1
                   WHEN s0 * s0 > ratio THEN s0 - 1
                   ELSE s0 END AS keep_ppm
            FROM (SELECT lang, n_docs, ratio,
                    CAST(floor(sqrt(CAST(ratio AS DOUBLE))) AS BIGINT)
                      AS s0 FROM r)),
      kept AS (SELECT d.lang, count(*) AS n_kept
               FROM documents d JOIN sdbm s ON s.sid = d.doc_id
                    JOIN q ON q.lang = d.lang
               WHERE (((((s.hash % 2147483647) + 2147483647)
                       % 2147483647) * 48271) % 2147483647) % 1000000
                     < q.keep_ppm
               GROUP BY 1)
      SELECT q.lang, q.n_docs, q.keep_ppm,
             CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
      FROM q LEFT JOIN kept k ON k.lang = q.lang
      ORDER BY q.lang""",
    "sample_bucket_uniformity" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      ob AS (SELECT ${bucketSql("s.hash")} AS b, count(*) AS o
             FROM documents d JOIN sdbm s ON s.sid = d.doc_id
             GROUP BY 1),
      sp AS (SELECT CAST(i AS BIGINT) AS b
             FROM UNNEST(range(0, 100)) AS t(i)),
      h AS (SELECT sp.b, CAST(coalesce(ob.o, 0) AS BIGINT) AS o
            FROM sp LEFT JOIN ob ON ob.b = sp.b),
      nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM h),
      dd AS (SELECT nn.n,
               CAST(100 * h.o - nn.n AS HUGEINT)
                 * (100 * h.o - nn.n) AS d2
             FROM h, nn)
      SELECT n AS n_rows, count(*) AS n_buckets,
             CAST(CASE WHEN n = 0 THEN NULL
               ELSE (1000000 * sum(d2)) // (100 * n) END AS BIGINT)
               AS chi2_micro,
             CAST(CASE WHEN n = 0 THEN NULL
               ELSE (1000000 * sum(d2)) // (100 * n) END AS BIGINT)
               < 123225000 AS uniform_ok
      FROM dd GROUP BY n""",
    "sample_split_contamination" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      sp AS (SELECT d.doc_id, d.text,
               CASE WHEN ${bucketSql("s.hash")} < 80 THEN 'train'
                    WHEN ${bucketSql("s.hash")} < 90 THEN 'val'
                    ELSE 'test' END AS split
             FROM documents d JOIN sdbm s ON s.sid = d.doc_id),
      g AS (SELECT DISTINCT doc_id, split,
              substr(text, CAST(i AS INT), 30) AS g
            FROM sp, UNNEST(range(1, length(text) - 28)) AS t(i)),
      hits AS (SELECT c.doc_id, count(DISTINCT c.g) AS shared_ngrams
               FROM (SELECT * FROM g WHERE split = 'test') c
               JOIN (SELECT DISTINCT g FROM g WHERE split = 'train') b
                 ON c.g = b.g
               GROUP BY 1)
      SELECT doc_id, shared_ngrams FROM hits
      WHERE shared_ngrams >= 1 ORDER BY doc_id""",
    "sample_poisson_bootstrap" -> s"""
      WITH RECURSIVE ${sdbmCte(
        "(SELECT doc_id, r FROM documents, UNNEST(range(0, 8)) AS t(r))",
        "doc_id * 8 + r", "r", "CAST(doc_id AS VARCHAR)")},
      pairs AS (SELECT d.doc_id, d.source, d.n_chars, t.r
                FROM documents d, UNNEST(range(0, 8)) AS t(r)),
      hs AS (SELECT p.source, p.n_chars, p.r,
               (((((s.hash % 2147483647) + 2147483647) % 2147483647)
                 * 48271) % 2147483647) % 10000 AS u
             FROM pairs p JOIN sdbm s ON s.sid = p.doc_id * 8 + p.r),
      wts AS (SELECT source, n_chars, r,
               CASE WHEN u < 3678 THEN 0 WHEN u < 7357 THEN 1
                    WHEN u < 9196 THEN 2 WHEN u < 9810 THEN 3
                    WHEN u < 9963 THEN 4 WHEN u < 9994 THEN 5
                    WHEN u < 9999 THEN 6 ELSE 7 END AS w
             FROM hs),
      rep AS (SELECT source, r,
                CAST(CASE WHEN sum(w) = 0 THEN 0
                     ELSE (1000 * sum(CAST(w AS HUGEINT) * n_chars))
                          // sum(w) END AS BIGINT) AS m
              FROM wts GROUP BY 1, 2),
      boot AS (SELECT source,
                 CAST((count(*) * sum(CAST(m AS HUGEINT) * m)
                       - sum(CAST(m AS HUGEINT))
                         * sum(CAST(m AS HUGEINT)))
                      // (count(*) * count(*)) AS BIGINT)
                   AS boot_var_milli2
               FROM rep GROUP BY 1),
      fl AS (SELECT source, count(*) AS n_rows,
               CAST((1000 * sum(CAST(n_chars AS HUGEINT)))
                 // count(*) AS BIGINT) AS est_milli
             FROM documents GROUP BY 1)
      SELECT f.source, f.n_rows, f.est_milli, b.boot_var_milli2
      FROM fl f JOIN boot b USING (source) ORDER BY f.source""",
    "sample_neyman_apply" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      per AS (SELECT source, count(*) AS n_rows,
              sum(CAST(n_chars AS HUGEINT)) AS sv,
              sum(CAST(n_chars AS HUGEINT) * n_chars) AS sv2
            FROM documents GROUP BY 1),
      rad AS (SELECT source, n_rows,
                CAST(n_rows * sv2 - sv * sv AS BIGINT) AS rd
              FROM per),
      r AS (SELECT source,
              CASE WHEN (s0 + 1) * (s0 + 1) <= rd THEN s0 + 1
                   WHEN s0 * s0 > rd THEN s0 - 1
                   ELSE s0 END AS w
            FROM (SELECT source, rd,
                    CAST(floor(sqrt(CAST(rd AS DOUBLE))) AS BIGINT)
                      AS s0 FROM rad)),
      t AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM r),
      al AS (SELECT source, CASE WHEN wt = 0 THEN 0
               ELSE (100 * w) // wt END AS alloc
             FROM r, t),
      rk AS (SELECT d.source, d.doc_id, row_number() OVER (
               PARTITION BY d.source ORDER BY
                 ((((s.hash % 2147483647) + 2147483647) % 2147483647)
                   * 48271) % 2147483647, d.doc_id) AS rn
             FROM documents d JOIN sdbm s ON s.sid = d.doc_id)
      SELECT rk.source, rk.doc_id
      FROM rk JOIN al USING (source) WHERE rk.rn <= al.alloc
      ORDER BY source, doc_id""",
    "sample_neyman_alloc" -> """
      WITH per AS (SELECT source, count(*) AS n_rows,
              sum(CAST(n_chars AS HUGEINT)) AS sv,
              sum(CAST(n_chars AS HUGEINT) * n_chars) AS sv2
            FROM documents GROUP BY 1),
      rad AS (SELECT source, n_rows,
                CAST(n_rows * sv2 - sv * sv AS BIGINT) AS rd
              FROM per),
      r AS (SELECT source, n_rows,
              CASE WHEN (s0 + 1) * (s0 + 1) <= rd THEN s0 + 1
                   WHEN s0 * s0 > rd THEN s0 - 1
                   ELSE s0 END AS w
            FROM (SELECT source, n_rows, rd,
                    CAST(floor(sqrt(CAST(rd AS DOUBLE))) AS BIGINT)
                      AS s0 FROM rad)),
      t AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM r)
      SELECT source, n_rows, w,
             CASE WHEN wt = 0 THEN 0 ELSE (100 * w) // wt END AS alloc
      FROM r, t ORDER BY source""",
    "sample_interleave" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      si AS (SELECT source, row_number() OVER (ORDER BY source) AS sidx
             FROM (SELECT DISTINCT source FROM documents)),
      ns AS (SELECT count(*) AS s FROM si),
      r AS (SELECT d.source, d.doc_id,
              row_number() OVER (PARTITION BY d.source ORDER BY
                ((((s.hash % 2147483647) + 2147483647) % 2147483647)
                  * 48271) % 2147483647, d.doc_id) AS rk
            FROM documents d JOIN sdbm s ON s.sid = d.doc_id)
      SELECT (r.rk - 1) * ns.s + si.sidx - 1 AS pos, r.source, r.doc_id
      FROM r JOIN si USING (source), ns
      ORDER BY pos LIMIT 60""",
    "sample_length_batches" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      tok AS (SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE length(text) - length(replace(text, ' ', '')) + 1
                END AS n_tokens
              FROM documents),
      b AS (SELECT t.doc_id, t.n_tokens, t.n_tokens // 16 AS band,
              ((((s.hash % 2147483647) + 2147483647) % 2147483647)
                * 48271) % 2147483647 AS rk
            FROM tok t JOIN sdbm s ON s.sid = t.doc_id),
      w AS (SELECT band, n_tokens,
              (row_number() OVER (PARTITION BY band
                 ORDER BY rk, doc_id) - 1) // 8 AS batch
            FROM b),
      g AS (SELECT band, batch, count(*) AS n_docs,
              max(n_tokens) AS max_len,
              CAST(sum(n_tokens) AS BIGINT) AS sum_len
            FROM w GROUP BY 1, 2)
      SELECT band, batch, n_docs, max_len, sum_len,
             CASE WHEN n_docs * max_len = 0 THEN 0
                  ELSE (1000000 * (n_docs * max_len - sum_len))
                       // (n_docs * max_len) END AS waste_ppm
      FROM g ORDER BY band, batch""",
    "sample_token_budget" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      tok AS (SELECT doc_id, source,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE length(text) - length(replace(text, ' ', '')) + 1
                END AS n_tokens
              FROM documents),
      b AS (SELECT t.doc_id, t.source, t.n_tokens,
              ${bucketSql("s.hash")} AS bk
            FROM tok t JOIN sdbm s ON s.sid = t.doc_id),
      c AS (SELECT doc_id, source, n_tokens,
              CAST(sum(n_tokens) OVER (PARTITION BY source
                ORDER BY bk, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS cum_tokens
            FROM b)
      SELECT doc_id, source, n_tokens, cum_tokens
      FROM c WHERE cum_tokens <= 1000 ORDER BY doc_id""",
    "sample_packed" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      b AS (SELECT d.doc_id,
              CAST((${bucketSql("s.hash")}) % 10 AS BIGINT) AS shard,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE length(text) - length(replace(text, ' ', '')) + 1
                   END AS n_tokens
            FROM documents d JOIN sdbm s ON s.sid = d.doc_id),
      c AS (SELECT doc_id, shard, n_tokens,
              CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM b)
      SELECT doc_id, shard, n_tokens,
             (cum - n_tokens) // 512 AS bin,
             (cum - n_tokens) % 512 AS offset
      FROM c ORDER BY doc_id""",
    "sample_packed_text" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")},
      b AS (SELECT d.doc_id, d.text,
              CAST((${bucketSql("s.hash")}) % 10 AS BIGINT) AS shard,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE length(text) - length(replace(text, ' ', '')) + 1
                   END AS n_tokens
            FROM documents d JOIN sdbm s ON s.sid = d.doc_id),
      c AS (SELECT doc_id, text, shard, n_tokens,
              CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM b)
      SELECT shard, (cum - n_tokens) // 512 AS bin,
             count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             string_agg(text, ' ' ORDER BY doc_id) AS text
      FROM c GROUP BY 1, 2 ORDER BY shard, bin""",
    "sample_coverage" -> s"""
      WITH t AS (SELECT doc_id, list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> '')
               AS ws FROM documents),
      g0 AS MATERIALIZED (SELECT DISTINCT doc_id,
             concat_ws(' ', ws[CAST(i AS INT)],
               ws[CAST(i AS INT) + 1], ws[CAST(i AS INT) + 2]) AS g
           FROM t, unnest(range(1, len(ws) - 1)) AS r(i)),
      p1 AS MATERIALIZED (SELECT doc_id, count(*) AS gain FROM g0
           GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
      sel1 AS (SELECT doc_id FROM p1),
      cov1 AS MATERIALIZED (SELECT DISTINCT g FROM g0
           JOIN p1 USING (doc_id)),
      ${(2 to 5).map { r => s"""
      m$r AS (SELECT g0.doc_id, count(*) AS gain FROM g0
              WHERE g0.doc_id NOT IN (SELECT doc_id FROM sel${r - 1})
                AND g0.g NOT IN (SELECT g FROM cov${r - 1})
              GROUP BY 1),
      p$r AS MATERIALIZED (SELECT doc_id, gain FROM m$r
           ORDER BY gain DESC, doc_id LIMIT 1),
      sel$r AS (SELECT doc_id FROM sel${r - 1}
                UNION ALL SELECT doc_id FROM p$r),
      cov$r AS MATERIALIZED (SELECT g FROM cov${r - 1}
           UNION SELECT g0.g FROM g0 JOIN p$r USING (doc_id))"""
      }.mkString(",")}
      SELECT CAST(1 AS BIGINT) AS rank, doc_id, gain FROM p1
      ${(2 to 5).map(r =>
        s"UNION ALL SELECT CAST($r AS BIGINT), doc_id, gain FROM p$r")
        .mkString(" ")}
      ORDER BY rank""",
    "sample_coreset" -> s"""
      WITH $qEmbSql,
      q5 AS (SELECT vec_id FROM q WHERE vec_id < 500),
      dots AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
                 sum(a.x * b.x) AS dot
               FROM e a JOIN e b ON a.i = b.i
                 AND a.vec_id < 500 AND b.vec_id < 500
                 AND a.vec_id <> b.vec_id
               GROUP BY 1, 2),
      d2t AS MATERIALIZED (SELECT d.ia, d.ib,
                CAST(na.norm + nb.norm - 2 * d.dot AS BIGINT) AS d2
              FROM dots d JOIN n na ON na.vec_id = d.ia
                   JOIN n nb ON nb.vec_id = d.ib),
      ch1 AS MATERIALIZED (SELECT min(vec_id) AS id FROM q5),
      ${(2 to 8).map { r => s"""
      m$r AS (SELECT t.ia AS id, min(t.d2) AS mind
              FROM d2t t JOIN ch${r - 1} c ON t.ib = c.id
              WHERE t.ia NOT IN (SELECT id FROM ch${r - 1})
              GROUP BY 1),
      p$r AS MATERIALIZED (SELECT id, mind FROM m$r
               ORDER BY mind DESC, id LIMIT 1),
      ch$r AS MATERIALIZED (SELECT id FROM ch${r - 1}
               UNION ALL SELECT id FROM p$r)"""
      }.mkString(",")}
      SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id,
             CAST(0 AS BIGINT) AS d2 FROM ch1
      ${(2 to 8).map(r =>
        s"UNION ALL SELECT CAST($r AS BIGINT), id, mind FROM p$r")
        .mkString(" ")}
      ORDER BY rank""",
    "sample_split_by_user" -> s"""
      WITH RECURSIVE ${sdbmCte("events", "user_id", "0",
        "CAST(user_id AS VARCHAR)")},
      b AS (SELECT e.user_id,
              CASE WHEN ${bucketSql("s.hash")} < 80 THEN 'train'
                   WHEN ${bucketSql("s.hash")} < 90 THEN 'val'
                   ELSE 'test' END AS split
            FROM events e JOIN sdbm s ON s.sid = e.user_id)
      SELECT split, count(*) AS n_events,
             count(DISTINCT user_id) AS n_users
      FROM b GROUP BY 1 ORDER BY 1""",
    "sample_kfold" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0",
        "CAST(doc_id AS VARCHAR)")}
      SELECT ${bucketSql("s.hash", 5)} AS fold, d.source,
             count(*) AS n_docs,
             CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
      FROM documents d JOIN sdbm s ON s.sid = d.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2""",
  )
}
