package graft

import graft.operators.JsonlSource
import graft.tools.Corpus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("end-to-end hygiene pipeline: stage counts consistent, JSONL " +
      "splits re-readable") {
    Scratch.withDir("graft-corpus") { tmp =>
      val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val r = Corpus.run(docs, tmp.toString, shards = 2)
      assert(r.input == docs.count())
      assert(r.kept <= r.input)
      assert(r.deduped <= r.kept && r.deduped > 0)
      assert(r.train + r.valN + r.test == r.deduped)
      // every split re-reads through the engine's own JSONL source
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType)))
      val total = Seq("train", "val", "test").map { s =>
        JsonlSource.read(spark, s"${tmp}/$s", schema).count()
      }.sum
      assert(total == r.deduped)
      // determinism: a second run reports identical counts
      Scratch.withDir("graft-corpus2") { tmp2 =>
        assert(Corpus.run(docs, tmp2.toString, shards = 2) == r)
      }
    }
  }

  test("near-dup-safe split keeps LSH pair members in one split and " +
      "preserves the pipeline's row accounting") {
    Scratch.withDir("graft-corpus-s") { tmp =>
      val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val r = Corpus.run(docs, tmp.toString, shards = 1,
        nearDupSafeSplit = true)
      assert(r.train + r.valN + r.test == r.deduped)
      // re-read the splits and check the leakage invariant against
      // the SAME pair generator the pipeline used
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType)))
      val all = Seq("train", "val", "test").map { s =>
        JsonlSource.read(spark, s"${tmp}/$s", schema)
          .withColumn("split", lit(s))
      }.reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val pairs = graft.operators.Dedup
          .minhashPairs(all.select(col("doc_id"), col("text")))
        val straddling = pairs
          .join(all.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
          .join(all.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
          .filter(col("sa") =!= col("sb")).count()
        assert(straddling == 0, "near-dup pair straddles a split boundary")
      } finally all.unpersist()
    }
  }

  test("span-scrub and decontamination stages engage and report counts") {
    import spark.implicits._
    Scratch.withDir("graft-corpus4") { tmp =>
      val shared = "the a0 b1 and the c2 d3 and the e4 f5 and " +
        "the g6 h7 and the i8 j9 and the k10 l11 and"
      val other = "some people walk to town for fresh bread while " +
        "others ride bikes past the old mill near green fields today"
      val docs = Seq(
        (1L, "s", shared + " unique tail one x9 y8"),
        (2L, "s", shared + " another ending z7 w6"),
        (3L, "s", other)).toDF("doc_id", "source", "text")
      // held-out eval set shares other's content, not the span content
      val eval = Seq((99L, other)).toDF("doc_id", "text")
      val r = Corpus.run(docs, tmp.toString, shards = 1,
        evalDocs = Some(eval))
      assert(r.input == 3 && r.kept == 3 && r.deduped == 3)
      // docs 1+2 share the >=30-char prefix: both span-scrubbed
      assert(r.spanScrubbed == 2)
      // doc 3 overlaps the eval set: dropped after span removal
      assert(r.decontamDropped == 1)
      assert(r.train + r.valN + r.test == 2)
    }
  }

  test("pipeline dedup keeps the first id of duplicated content") {
    import spark.implicits._
    Scratch.withDir("graft-corpus3") { tmp =>
      // two docs with identical content that passes the quality gate
      val good = "the a0 b1 and the c2 d3 and the e4 f5 and " +
        "the g6 h7 and the i8 j9 and the k10 l11 and"
      val docs = Seq((1L, "s", good), (2L, "s", good)).toDF(
        "doc_id", "source", "text")
      val r = Corpus.run(docs, tmp.toString, shards = 1)
      assert(r.input == 2 && r.kept == 2 && r.deduped == 1)
    }
  }

  test("CLI: --near-dup-safe-split parses at every position; unknown " +
      "flags and bad numerics fail loud instead of crashing or being " +
      "silently dropped") {
    val expected = Right(("/sf", "/out", 2, 5L, true))
    val argvs = Seq(
      Array("--near-dup-safe-split", "/sf", "/out", "2", "5"),
      Array("/sf", "--near-dup-safe-split", "/out", "2", "5"),
      Array("/sf", "/out", "--near-dup-safe-split", "2", "5"),
      Array("/sf", "/out", "2", "--near-dup-safe-split", "5"),
      Array("/sf", "/out", "2", "5", "--near-dup-safe-split"))
    for (argv <- argvs)
      assert(Corpus.parseArgs(argv) == expected,
        s"flag position broke parse: ${argv.mkString(" ")}")
    // defaults without the flag
    assert(Corpus.parseArgs(Array("/sf", "/out")) ==
      Right(("/sf", "/out", 4, 0L, false)))
    // unknown flag → loud Left, never silently ignored
    val unknown = Corpus.parseArgs(Array("/sf", "/out", "--typo"))
    assert(unknown.isLeft && unknown.swap.exists(_.contains("--typo")))
    // too few positionals / non-numeric shards → Left, not a crash
    assert(Corpus.parseArgs(Array("/sf")).isLeft)
    assert(Corpus.parseArgs(Array("/sf", "/out", "abc")).isLeft)
  }
}
