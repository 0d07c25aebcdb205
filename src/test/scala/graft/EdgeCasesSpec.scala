package graft

import graft.operators.{Dedup, Sampling, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operators must be total on degenerate inputs — an empty partition,
  * filter, or scale factor must yield empty results, not analysis or
  * runtime errors (the driver runs every query at several SFs).
  */
class EdgeCasesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("dedup operators are total on empty input") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exact(docs).count() == 0)
    assert(Dedup.minhashPairs(docs).count() == 0)
    assert(Dedup.simhashPairs(docs).count() == 0)
    assert(Dedup.ngramJaccardPairs(docs).count() == 0)
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clusters(pairs).count() == 0)
    assert(Dedup.dropNearDuplicates(docs, pairs).count() == 0)
  }

  test("similarity operators are total on empty input") {
    import spark.implicits._
    val emb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.cosinePairs(emb, 0.5).count() == 0)
    assert(Similarity.topK(emb, emb, 5).count() == 0)
    assert(Similarity.annTopK(emb, col("id") >= 0, 5).count() == 0)
    assert(Similarity.ivfTopK(emb, col("id") >= 0, 5).count() == 0)
  }

  test("single-document corpus produces no pairs anywhere") {
    import spark.implicits._
    val one = Seq((1L, "just one document with enough words for shingles"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashPairs(one).count() == 0)
    assert(Dedup.simhashPairs(one).count() == 0)
    assert(Dedup.ngramJaccardPairs(one).count() == 0)
  }

  test("annCosinePairs is total on empty and singleton corpora") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.annCosinePairs(empty, 0.5).count() == 0)
    val one = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.annCosinePairs(one, 0.5).count() == 0)
  }

  test("matryoshkaAgreement yields a NULL verdict below two eligible " +
      "vectors instead of an ANSI divide-by-zero") {
    import spark.implicits._
    // empty corpus and a singleton (pair join empty in both): the
    // global agg still emits ONE row with n_vecs = 0; agree_bp must
    // be NULL, not a throw (the bucketUniformity n=0 convention)
    for (emb <- Seq(
        Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"),
        Seq((1L, Seq(1.0f, 0.5f))).toDF("vec_id", "embedding"))) {
      val rows = Similarity.matryoshkaAgreement(emb).collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Long]("n_vecs") == 0L)
      assert(rows(0).isNullAt(rows(0).fieldIndex("agree_bp")))
    }
  }

  test("sampling operators are total on empty input and degenerate " +
      "parameters") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    assert(Sampling.hashSplit(empty).count() == 0)
    assert(Sampling.mixture(empty, "source", Map("a" -> 0.5)).count() == 0)
    assert(Sampling.tokenBudget(empty.withColumn("n", lit(1L)), col("n"),
      100L, "source").count() == 0)
    // null stratum takes the default weight (CASE misses, falls through)
    val withNull = Seq((1L, Option.empty[String]), (2L, Some("a")))
      .toDF("doc_id", "source")
    assert(Sampling.mixture(withNull, "source", Map("a" -> 1.0),
      default = 1.0).count() == 2)
    assert(Sampling.mixture(withNull, "source", Map("a" -> 1.0),
      default = 0.0).count() == 1)
    // a first document larger than the budget empties its stratum but
    // not others (the overflow doc is excluded, not truncated)
    val docs = Seq((1L, "a", 500L), (2L, "b", 10L)).toDF("doc_id", "source", "n")
    val kept = Sampling.tokenBudget(docs, col("n"), 100L, "source")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
    // negative ids bucket into [0, 100) like any other
    val neg = Seq((-5L, "a"), (-6L, "a")).toDF("doc_id", "source")
    val buckets = neg.select(Sampling.bucket(col("doc_id")))
      .as[Long].collect()
    assert(buckets.forall(b => b >= 0 && b < 100))
  }

  test("round-5 operators are total on empty input") {
    import spark.implicits._
    import graft.operators.{Profile, RangeJoin, Scrub, TextStats}
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Scrub.redact(docs).count() == 0)
    assert(Scrub.summary(docs.withColumnRenamed("doc_id", "source")
      .select(col("source").cast("string"), col("text"))).count() == 0)
    assert(Scrub.pseudonymize(docs, Seq("doc_id")).count() == 0)
    assert(TextStats.qualityFilter(docs).count() == 0)
    assert(TextStats.tfidfKeywords(docs).count() == 0)
    assert(TextStats.chunk(docs).count() == 0)
    assert(Sampling.packSequences(docs, TextStats.nTokens(col("text")),
      512).count() == 0)
    assert(Sampling.packedText(docs, TextStats.nTokens(col("text")),
      512).count() == 0)
    assert(Dedup.incremental(docs, docs).count() == 0)
    assert(Dedup.incrementalNear(docs, docs).count() == 0)
    assert(Dedup.editDistancePairs(docs).count() == 0)
    assert(Dedup.duplicatedSpans(docs).count() == 0)
    assert(Similarity.semanticPairs(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      minCosine = 0.5).count() == 0)
    assert(Dedup.duplicatedSpanStats(docs).count() == 0)
    assert(Dedup.removeDuplicatedSpans(docs).count() == 0)
    val ev = Seq.empty[(Long, java.sql.Timestamp, Long)]
      .toDF("user_id", "ts", "event_id")
    val iv = Seq.empty[(Long, java.sql.Timestamp, java.sql.Timestamp)]
      .toDF("user_id", "session_start", "session_end")
    assert(RangeJoin.pointInInterval(ev, iv, Seq("user_id")).count() == 0)
    assert(graft.operators.Events.sessionStats(ev).count() == 0)
    assert(Profile.table(docs).count() == 2)     // one row per column
    assert(Profile.histogram(docs, "doc_id").count() == 0)
    assert(Profile.heavyHitters(docs, "text").count() == 0)
    assert(Profile.fkOrphans(docs, docs, "doc_id", "doc_id").count() == 0)
  }

  test("round-7 operators are total on empty input") {
    import spark.implicits._
    import graft.operators.{Dedup, Diff, Merge, Profile, Sampling, Scrub, Urls}
    import org.apache.spark.sql.functions._
    val docs = Seq.empty[(Long, String, Long)].toDF("doc_id", "text", "n")
    assert(Diff.snapshot(docs, docs, Seq("doc_id")).count() == 0)
    assert(Dedup.keepLatest(docs, "text", "n", "doc_id").count() == 0)
    assert(Sampling.fixedKStratified(docs, 5, "text").count() == 0)
    assert(Profile.approxTable(docs).count() == 3) // one row per column
    assert(Scrub.htmlClean(docs).count() == 0)
    assert(docs.select(Urls.canonicalizeUrl(col("text"))).count() == 0)
    val hist = Merge.scd2(
      Seq.empty[(Long, Long)].toDF("k", "version"), Seq("k"))
    assert(Merge.scd2AsOf(hist, lit(0L)).count() == 0)
    withEmptyEvents(dir => assert(graft.streaming.EventsStream
      .attributionOuterToCompletion(spark, dir).count() == 0))
  }

  test("round-8 operators are total on empty input") {
    import spark.implicits._
    import graft.operators.{Dedup, Similarity}
    val emb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val some = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // empty eval set: nothing can be flagged, corpus passes through
    assert(Similarity.semanticDecontaminate(some, emb, 0.5).count() == 2)
    // empty corpus against a real eval set
    assert(Similarity.semanticDecontaminate(emb, some, 0.5).count() == 0)
    // auto-prefix edit dedup on an empty corpus (count-derived depth)
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.editDistancePairs(docs).count() == 0)
    // MG sketch over empty input: empty candidate set, empty output
    graft.functions.Udafs.register(spark)
    val ks = docs.agg(expr("heavy_hitter_keys(doc_id)").as("ks"))
      .collect()(0).getSeq[Long](0)
    assert(ks.isEmpty)
    // weighted mean over empty input: null, not a failure
    assert(docs.agg(expr("weighted_mean_cents(doc_id, doc_id)"))
      .collect()(0).isNullAt(0))
  }

  test("late round-8 operators are total on empty input") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    withEmptyEvents { empty =>
      // streaming twins with replay short-circuits
      assert(graft.streaming.EventsStream
        .sessionizeWarmStartToCompletion(spark, empty).count() == 0)
      assert(graft.streaming.EventsStream
        .typeProfileToCompletion(spark, empty).count() == 0)
      // state introspection over a checkpoint with zero state rows
      assert(graft.streaming.EventsStream
        .stateInspect(spark, empty).count() == 0)
      // hybrid retrieval over empty corpus and empty embeddings
      val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val emb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
      assert(graft.operators.Retrieval
        .hybridTopK(docs, emb, Seq("x"), 0L).count() == 0)
      // sketch lake / overlap over empty events
      val ev = Tables.load(spark, empty, "events")
      assert(graft.operators.Profile.hllSketchLake(ev).count() == 0)
      // overlap always answers: one row of zeros on empty input (and,
      // by the same conditional-agg shape, when only ONE segment exists)
      val ov = graft.operators.Profile
        .audienceOverlap(ev, "click", "purchase").collect()
      assert(ov.length == 1 && ov(0).getLong(0) == 0L && ov(0).getLong(1) == 0L)
      // the UDTF on an empty frame
      assert(docs.select(graft.functions.chunk_text(col("text"), 10, 2))
        .count() == 0)
    }
  }

  test("docset reader and DSv2 source are total on empty docsets") {
    import spark.implicits._
    import graft.operators.XmlPipe
    Scratch.withDir("graft-empty-ds") { tmp =>
      val out = new java.io.File(tmp, "ds").toString
      // empty input → header-only shards, still well-formed docsets
      XmlPipe.writeShardedDocsets(
        XmlPipe.formatDocs(
          Seq.empty[(Long, String)].toDF("doc_id", "text"), Seq("doc_id")),
        out)
      assert(XmlPipe.readDocset(spark, out, Seq("text")).count() == 0)
      assert(spark.read.format("xmlpipe2").option("fields", "text")
        .load(out).count() == 0)
    }
  }

  /** Runs `body` on a scratch dir holding an empty events.parquet with
    * the production schema, for streaming-twin totality checks. */
  private def withEmptyEvents[A](body: String => A): A =
    Scratch.withDir("graft-empty-ev") { dir =>
      import spark.implicits._
      Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite")
        .parquet(new java.io.File(dir, "stage").toString)
      val part = new java.io.File(dir, "stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, "events.parquet").toPath)
      body(dir.toString)
    }

  test("strict-parity paths are total on empty input") {
    import spark.implicits._
    import graft.operators.DocId
    import graft.functions.Render
    import org.apache.spark.sql.types._
    val empty = Seq.empty[(Long, String)].toDF("k", "s")
    assert(empty.select(DocId.docId(empty, Seq("k"), strictParity = true))
      .count() == 0)
    assert(empty.select(DocId.docId(empty, Seq("k", "s"),
      strictParity = true)).count() == 0)
    assert(empty.select(Render.renderStrict(col("s"), StringType))
      .count() == 0)
  }

  test("round-12 analytics are total on empty and converter-free " +
      "input — no ANSI divide-by-zero, NULL where undefined") {
    import spark.implicits._
    import java.sql.Timestamp
    val ev = Seq.empty[(Long, Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(graft.operators.Events.lifeTable(ev).count() == 0)
    assert(graft.operators.Events.holtDaily(ev).count() == 0)
    assert(graft.operators.Events.decomposeDaily(ev).count() == 0)
    assert(graft.operators.Events.changepointDaily(ev).count() == 0)
    assert(graft.operators.Events.rfmSegments(ev).count() == 0)
    assert(graft.operators.Events.activityCoverage(ev).count() == 0)
    assert(graft.operators.Events.patternMatch(ev).count() == 0)
    assert(graft.operators.Events.burstRate(ev).count() == 0)
    assert(graft.operators.TextStats.bpeMerges(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() == 0)
    assert(graft.operators.TextStats.bpeTrain(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() == 0)
    assert(graft.operators.TextStats.bpeEncode(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() == 0)
    assert(graft.operators.Graph.linkPrediction(
      Seq.empty[(Long, Long)].toDF("node", "via")).count() == 0)
    assert(graft.operators.Graph.hits(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0)
    assert(graft.operators.Multimodal.audioCuts(
      Seq.empty[(Long, Int, Long)].toDF("doc_id", "n_blocks", "fp"),
      Seq.empty[(Long, String)].toDF("doc_id", "source")).count() == 0)
    // events exist but nobody converts: the curve reports NULL
    // shares, not 0% of an empty population (and must not throw)
    val noConv = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"),
      1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val curve = graft.operators.Events.conversionCurve(noConv)
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(curve.size == 4 && curve.forall(r =>
      r._2 == 0L && r._3 == 0L && r._4.isEmpty))
  }
}
