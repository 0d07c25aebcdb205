package graft.tools

import graft.operators.{JsonlExport, Sampling, Scrub, TextStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data hygiene pipeline — the composed run a
  * corpus team actually launches, wired from the engine's own
  * operators:
  *
  *   HTML/boilerplate strip (tags/entities/whitespace) →
  *   scrub (PII redaction) → quality filter (keep 'ok') →
  *   exact dedup on the content fingerprint (first id wins) →
  *   duplicated-span removal (cross-doc repeated regions cut out) →
  *   benchmark decontamination (optional, vs a held-out eval set) →
  *   deterministic train/val/test hash split → sharded JSONL per
  *   split + a one-line JSON stats report per stage.
  *
  * Plan shape: html-clean + scrub + quality + fingerprint are ONE
  * fused narrow
  * projection pass (no joins between stages — the filter chain
  * composes as column expressions); dedup adds a single
  * fingerprint-keyed shuffle; span removal joins back only the
  * (small) affected-doc fix-ups; decontamination broadcasts only the
  * eval-set gram table; the split is a pushable filter; each JSONL
  * write is embarrassingly parallel. Stage counts are collected from
  * cached frames so the report doesn't re-run the pipeline per
  * metric.
  *
  * Usage: Corpus <sfDir> <outDir> [shards=4] [evalSlice=0]
  *        [--near-dup-safe-split]
  * (evalSlice > 0 decontaminates against the doc_id < evalSlice
  * rows, the same held-out convention as the decontam_* queries;
  * the split flag upgrades the hash split to the leakage-free
  * cluster split — see Sampling.splitByCluster)
  */
object Corpus {

  final case class Report(input: Long, scrubbedHits: Long, kept: Long,
      deduped: Long, spanScrubbed: Long, decontamDropped: Long,
      train: Long, valN: Long, test: Long) {
    def json: String =
      s"""{"input":$input,"docs_with_pii":$scrubbedHits,""" +
        s""""kept_after_quality":$kept,"after_dedup":$deduped,""" +
        s""""span_scrubbed":$spanScrubbed,""" +
        s""""decontam_dropped":$decontamDropped,""" +
        s""""train":$train,"val":$valN,"test":$test}"""
  }

  /** Stage 0+1+2 fused: NFC-canonicalize (composition forms must
    * converge before fingerprints — ASCII text passes through
    * unchanged), strip boilerplate, redact the CLEANED text, then
    * score the REDACTED text (quality judged on what survives
    * scrubbing) — one narrow projection end to end, no join between
    * the stages. Output: (doc_id, source, text, n_pii, keep, ...).
    */
  def scoreDocs(docs: DataFrame): DataFrame = {
    val canonical = docs.withColumn("text",
      graft.functions.nfc_normalize(col("text")))
    val redacted = Scrub.redact(Scrub.htmlClean(canonical),
      keyCols = Seq("doc_id", "source"))
    val hitCols = Scrub.DefaultRules.map(r => col(s"n_${r.name}"))
    TextStats.qualityFilter(
      redacted.select(col("doc_id"), col("source"),
        hitCols.reduce(_ + _).as("n_pii"),
        col("redacted").as("text")),
      extraCols = Seq("source", "text", "n_pii"))
  }

  /** Stage 3: exact content dedup, first doc_id wins (the
    * within-batch half of Dedup.incremental — no prior corpus).
    */
  def dedupFirstWins(kept: DataFrame): DataFrame = {
    val winners = TextStats.fingerprint(kept.select("doc_id", "text"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    kept.join(winners.select("doc_id"), "doc_id")
  }

  /** Stage 4a: the (small) duplicated-span fix-ups frame —
    * (doc_id, clean_text) for affected docs only.
    */
  def spanFixes(deduped: DataFrame): DataFrame =
    graft.operators.Dedup
      .removeDuplicatedSpans(deduped.select("doc_id", "text"))
      .select(col("doc_id"), col("clean_text"))

  /** Stage 4b: join the fix-ups back; unaffected docs pass through. */
  def applySpanFixes(deduped: DataFrame, fixes: DataFrame): DataFrame =
    deduped.join(fixes, Seq("doc_id"), "left")
      .withColumn("text", coalesce(col("clean_text"), col("text")))
      .drop("clean_text")

  /** The default transformation chain as ONE frame — no counts or
    * side outputs: docs → (doc_id, source, split, text). SparkEntry's
    * `corpus_pipeline` driver gate hashes a per-split manifest of
    * THIS frame, so the composed chain — not just its individually-
    * verified stages — is oracle-checked end to end. [[run]] wires
    * the same stage functions with the persists and per-stage
    * counters a production launch wants.
    *
    * The scored frame is materialized (a pin — the same
    * barrier [[run]] gets from its persist): without it, predicate
    * pushdown substitutes the FULL 16-regex clean+scrub chain into
    * every `txt` reference of the pushed `keep` condition, and the
    * downstream dedup/span/split branches re-derive the chain from
    * the scan again — measured 33 s vs 6 s for the identical result
    * at sf0.1. Scoring runs once, everything downstream reads
    * computed rows.
    */
  def pipelineFrame(docs: DataFrame): DataFrame = {
    val kept = graft.Scratch.pin("corpus_pipeline:scored", scoreDocs(docs))
      .filter(col("keep"))
    val deduped = dedupFirstWins(kept)
    val fixed = applySpanFixes(deduped, spanFixes(deduped))
    Sampling.hashSplit(fixed)
      .select(col("doc_id"), col("source"), col("split"), col("text"))
  }

  /** Run the pipeline; returns the per-stage report. `docs` needs
    * (doc_id, source, text).
    */
  def run(docs: DataFrame, outDir: String,
      shards: Int = 4, evalDocs: Option[DataFrame] = None,
      nearDupSafeSplit: Boolean = false): Report = {
    val cached = scoreDocs(docs).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val input = cached.count()
      val piiDocs = cached.filter(col("n_pii") > 0).count()
      val kept = cached.filter(col("keep"))
      val keptN = kept.count()
      val deduped = dedupFirstWins(kept)
      // the fix-ups are persisted: the report needs their cardinality
      // and the join consumes them again
      val fixes = spanFixes(deduped)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSpanScrubbed = fixes.count()
      val spanFixed = applySpanFixes(deduped, fixes)
      // stage 5: optional benchmark decontamination (broadcasts only
      // the eval-set gram table). spanFixed is persisted for this
      // branch: the drop count needs its cardinality, and without the
      // persist the dedup shuffle + fix-up join would recompute for
      // the count, the gram scan, AND the anti-join.
      val (decon, nDropped, spanCache) = evalDocs match {
        case Some(ev) =>
          val sf = spanFixed.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val d = graft.operators.Decontaminate.clean(sf, ev)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val n = sf.count() - d.count()
          (d, n, Some(sf))
        case None => (spanFixed, 0L, None)
      }
      // stage 6: deterministic split + stage 7: JSONL per split.
      // Default split hashes the doc id; `nearDupSafeSplit` upgrades
      // it to the leakage-free variant — MinHash-LSH pairs over the
      // surviving docs, whole near-dup clusters assigned together —
      // so a paraphrase family can never straddle train/test (exact
      // dups are already gone by stage 3, but near-dups above the
      // fingerprint level are not)
      val assigned =
        if (nearDupSafeSplit)
          Sampling.splitByCluster(decon,
            graft.operators.Dedup.minhashPairs(
              decon.select(col("doc_id"), col("text"))))
        else Sampling.hashSplit(decon)
      val split = assigned
        .select(col("doc_id"), col("source"), col("split"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val counts = split.groupBy("split").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        for (s <- Seq("train", "val", "test")) {
          JsonlExport.writeShards(
            split.filter(col("split") === s).repartition(shards),
            Seq("doc_id", "source", "text"), s"$outDir/$s")
        }
        Report(input, piiDocs, keptN,
          counts.values.sum + nDropped, nSpanScrubbed, nDropped,
          counts.getOrElse("train", 0L), counts.getOrElse("val", 0L),
          counts.getOrElse("test", 0L))
      } finally {
        split.unpersist()
        fixes.unpersist()
        spanCache.foreach(_.unpersist())
        if (!(decon eq spanFixed)) decon.unpersist()
      }
    } finally cached.unpersist()
  }

  /** CLI argument parse, extracted so position-independence is
    * testable without a session: flags are filtered out BEFORE
    * positional parsing (like Export's `--join`) — an early
    * `--near-dup-safe-split` would otherwise crash the shards /
    * evalSlice numeric parse, and a late one would be silently
    * ignored. Unknown flags fail loud.
    */
  private[graft] def parseArgs(args: Array[String])
      : Either[String, (String, String, Int, Long, Boolean)] = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val safeSplit = flags.contains("--near-dup-safe-split")
    val unknown = flags.filterNot(_ == "--near-dup-safe-split")
    if (unknown.nonEmpty)
      Left(s"unknown flag(s): ${unknown.mkString(", ")}")
    else if (positional.length < 2)
      Left("need <sfDir> <outDir>")
    else
      try Right((positional(0), positional(1),
        positional.lift(2).map(_.toInt).getOrElse(4),
        positional.lift(3).map(_.toLong).getOrElse(0L), safeSplit))
      catch {
        case e: NumberFormatException =>
          Left(s"bad numeric argument: ${e.getMessage}")
      }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, shards, evalSlice, safeSplit) =
      parseArgs(args) match {
        case Right(parsed) => parsed
        case Left(err) =>
          System.err.println(err)
          System.err.println("usage: Corpus <sfDir> <outDir> [shards=4] " +
            "[evalSlice=0] [--near-dup-safe-split]")
          sys.exit(2)
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Sessions.builder("graft-corpus", s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val docs = graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val evalDocs =
        if (evalSlice > 0)
          Some(docs.filter(col("doc_id") < evalSlice)
            .select(col("doc_id"), col("text")))
        else None
      println(run(docs, outDir, shards, evalDocs, safeSplit).json)
    } finally spark.stop()
  }
}
