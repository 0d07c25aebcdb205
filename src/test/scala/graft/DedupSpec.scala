package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
      (4L, "completely different content about spark query engines at scale"),
      (5L, "another unrelated document with its own words entirely here now")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps min id and counts duplicates") {
    import spark.implicits._
    val got = Dedup.exact(corpus).orderBy("keep_id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("minhash finds exact and near dups, not unrelated pairs") {
    import spark.implicits._
    val pairs = Dedup.minhashPairs(corpus, k = 16, bands = 4, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))       // identical
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((4L, 5L)))
  }

  test("minhash never pairs shingle-less short docs with each other") {
    import spark.implicits._
    val withShort = corpus.union(Seq(
      (10L, "hi"), (11L, "yo"), (12L, "ok there")).toDF("doc_id", "text"))
    val pairs = Dedup.minhashPairs(withShort, minJaccard = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // sub-3-token docs produce no shingles: they must not appear at all
    assert(!pairs.exists(p => p._1 >= 10L || p._2 >= 10L))
  }

  test("simhash pairs exact dups at hamming 0; unrelated docs not paired") {
    import spark.implicits._
    val pairs = Dedup.simhashPairs(corpus, maxHamming = 10)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair.get((1L, 2L)).contains(0)) // identical text → identical sig
    assert(!byPair.contains((1L, 4L)))
  }

  test("simhash distance orders near-dup below unrelated") {
    import spark.implicits._
    import graft.functions.simhash64
    val sigs = corpus
      .select(col("doc_id"), simhash64(Dedup.tokens(col("text"))).as("sig"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(1L, 3L) < ham(1L, 4L)) // near dup closer than unrelated
    assert(ham(1L, 2L) == 0)
  }

  test("ngram jaccard: exact dup scores 1, near dup above 0.5") {
    import spark.implicits._
    val got = Dedup.ngramJaccardPairs(corpus, n = 3, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(got.contains((1L, 3L)) && got.contains((2L, 3L)))
    assert(!got.exists(p => p._2 == 4L || p._2 == 5L))
  }

  test("clusters: min-label propagation finds connected components") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {7,8}, singletons never appear
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L))
      .toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (7L, 7L), (8L, 7L)))
  }

  test("charNgrams guards short strings (no descending-sequence bug)") {
    import spark.implicits._
    val got = Seq("ab", "abc", "").toDF("s")
      .select(Dedup.charNgrams(col("s"), 3).as("g"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq.empty, Seq("abc"), Seq.empty))
  }

  test("charNgrams kernel matches the HOF formulation " +
      "(unicode property run)") {
    import spark.implicits._
    // the substr-based higher-order formulation the kernel replaced —
    // kept here as the semantic oracle (incl. code-point windowing on
    // multi-byte and astral characters)
    def hof(c: org.apache.spark.sql.Column, n: Int) = array_distinct(
      when(length(c) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(c) - (n - 1)),
          i => substr(c, i, lit(n)))))
    val rnd = new scala.util.Random(99)
    val alphabet = Vector("a", "b", " ", "日", "本", "é", "ü", "🚀", ".", "a")
    val rows = (0 until 300).map(_ =>
      (0 until rnd.nextInt(40)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = rows.toDF("s")
    for (n <- Seq(2, 3, 10)) {
      val kernel = df.select(Dedup.charNgrams(col("s"), n))
        .as[Seq[String]].collect().toSeq
      val expected = df.select(hof(col("s"), n))
        .as[Seq[String]].collect().toSeq
      assert(kernel == expected, s"n=$n mismatch")
    }
  }

  test("incremental dedup drops corpus recrawls and in-batch dups, " +
      "first id wins") {
    import spark.implicits._
    val corpus = Seq((1L, "old news"), (2L, "archived page"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "fresh content"),
      (11L, "Old   NEWS"),      // recrawl: normalizes to corpus content
      (12L, "fresh content"),   // in-batch duplicate: 10 wins
      (13L, "another page")).toDF("doc_id", "text")
    val got = Dedup.incremental(batch, corpus)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(10L, 13L))
  }

  test("incremental dedup drops null-text rows on both sides " +
      "(no silent null/empty fingerprint collision)") {
    import spark.implicits._
    val corpus = Seq((1L, "kept"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "fresh"),
      (11L, null.asInstanceOf[String]), // no content: dropped, not deduped
      (12L, ""),                        // empty ≠ null: participates
      (13L, "kept")).toDF("doc_id", "text")
    val got = Dedup.incremental(batch, corpus)
      .select("doc_id").as[Long].collect().toSeq.sorted
    // 11 dropped (null text); 13 dropped (seen in corpus); the corpus
    // null row must NOT shadow the empty-string doc 12.
    assert(got == Seq(10L, 12L))
  }

  test("incrementalNear drops near-dup recrawls and in-batch near-dups, " +
      "keeps fresh docs") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog while rain " +
      "falls on the quiet town square at dusk tonight"
    val fresh = "totally new reporting about sports scores from " +
      "yesterday evening games across the region with detailed statistics"
    val corpus = Seq(
      (1L, a),
      (2L, "unrelated prose concerning pasta recipes and long slow " +
        "cooking times for rich tomato sauces served with bread"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, a + " extra"),        // near-recrawl of corpus doc 1: drop
      (11L, fresh),               // fresh: keep
      (12L, fresh + " appended"), // in-batch near-dup of 11: 11 wins
      (13L, null.asInstanceOf[String])) // no content: dropped
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNear(batch, corpus)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(11L))
  }

  test("clusterRepresentatives keeps the highest-score doc per " +
      "cluster (tie -> min id); singletons survive") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 50L), (4L, 7L), (9L, 1L))
      .toDF("doc_id", "score")
    // clusters: {1,2,3} and {4}... 4 pairs with nobody; 9 untouched
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.clusterRepresentatives(docs, pairs, "score")
      .select("doc_id").as[Long].collect().toSeq.sorted
    // cluster {1,2,3}: 2 and 3 tie at 50 -> 2 wins; 4 and 9 singleton
    assert(got == Seq(2L, 4L, 9L))
  }

  test("incrementalNear fails loud when batch ids do not exceed " +
      "corpus ids") {
    import spark.implicits._
    val corpus = Seq((10L, "corpus text about many things"))
      .toDF("doc_id", "text")
    val batch = Seq((5L, "batch doc with a lower id than the corpus"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNear(batch, corpus)
    }
    assert(e.getMessage.contains("monotone ingest"))
    // equal ids violate too (strictly-greater contract)
    val eq = Seq((10L, "same id as corpus max")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.incrementalNear(eq, corpus)
    }
    // opt-out path still runs for callers who enforce ids upstream
    assert(Dedup.incrementalNear(batch, corpus, validateContract = false)
      .count() == 1)
  }

  test("editDistancePairs pairs within-threshold same-prefix docs only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared prefix with a tail"),
      (2L, "shared prefix with a tale"),   // 2 edits vs doc 1 (i→l, l→e)
      (3L, "shared prefix but wildly different ending entirely"),
      (4L, "different opening with a tail"), // near doc 1, other block
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, maxEdits = 2,
      blockPrefix = 12).orderBy("id_a", "id_b")
      .as[(Long, Long, Long)].collect().toSeq
    // only (1,2): doc 3 shares the block but exceeds the threshold
    // (length prefilter alone rejects it); doc 4 is a blocking miss by
    // design; null text drops
    assert(got == Seq((1L, 2L, 2L)))
    // default (auto) depth equals the base at small corpus sizes:
    // identical result with no explicit prefix
    val auto = Dedup.editDistancePairs(docs, maxEdits = 2)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    assert(auto == got)
  }

  test("auto block prefix deepens logarithmically with corpus size, " +
      "holding expected block occupancy bounded") {
    // base depth up to n0 — the regime every fixture lives in
    assert(Dedup.autoBlockPrefix(500) == 12)
    assert(Dedup.autoBlockPrefix(100000) == 12)
    // beyond n0 the depth grows one char per branching-factor multiple
    assert(Dedup.autoBlockPrefix(1600000) == 13)
    assert(Dedup.autoBlockPrefix(1000000000L) == 16)
    assert(Dedup.autoBlockPrefix(1000000000000L) == 18)
    // monotone: growing the corpus never shrinks the depth
    val ns = Seq(1L, 1000L, 100000L, 200000L, 10000000L,
      1000000000L, 1000000000000L)
    val ds = ns.map(Dedup.autoBlockPrefix(_))
    assert(ds == ds.sorted)
    // occupancy bound: expected rows per block n / branch^(depth-base)
    // never exceeds branch * n0 for any corpus size (the quadratic
    // verify term stays linear in n at constant occupancy)
    ns.foreach { n =>
      val occ = n.toDouble / math.pow(16.0, Dedup.autoBlockPrefix(n) - 12)
      assert(occ <= 16.0 * 100000, s"n=$n occupancy $occ")
    }
  }

  test("duplicatedSpans finds merged cross-doc spans; stats and scrub " +
      "agree with hand-computed geometry") {
    import spark.implicits._
    val shared = "SHAREDRUN123" // 12 chars, all 5-grams cross-doc dup
    val docs = Seq(
      (1L, "aaa" + shared + "bbb"),
      (2L, "ccc" + shared + "ddd"),
      (3L, "zzzzzzz"),          // unique: no spans
      (4L, "IDENTICALXX"),      // fully duplicated with doc 5
      (5L, "IDENTICALXX"),
      (6L, "abc")               // shorter than n: no grams at all
    ).toDF("doc_id", "text")

    val spans = Dedup.duplicatedSpans(docs, n = 5)
      .orderBy(col("doc_id"), col("span_start"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(spans == Seq((1L, 4L, 15L), (2L, 4L, 15L),
      (4L, 1L, 11L), (5L, 1L, 11L)))

    val stats = Dedup.duplicatedSpanStats(docs, n = 5)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(stats == Seq(
      (1L, 18L, 1L, 12L, 12.0 / 18.0),
      (2L, 18L, 1L, 12L, 12.0 / 18.0),
      (3L, 7L, 0L, 0L, 0.0),
      (4L, 11L, 1L, 11L, 1.0),
      (5L, 11L, 1L, 11L, 1.0),
      (6L, 3L, 0L, 0L, 0.0)))

    val scrub = Dedup.removeDuplicatedSpans(docs, n = 5)
      .orderBy(col("doc_id"))
      .as[(Long, String, Long)].collect().toSeq
    // only affected docs are emitted; full coverage -> empty text
    assert(scrub == Seq((1L, "aaabbb", 12L), (2L, "cccddd", 12L),
      (4L, "", 11L), (5L, "", 11L)))
  }

  test("duplicatedSpans merges overlapping and adjacent gram islands " +
      "into one span") {
    import spark.implicits._
    // two docs sharing two runs separated by a 1-char unique gap:
    // islands [1,5] and [7,11] must NOT merge (gap at 6), while the
    // grams inside each run do merge.
    val docs = Seq(
      (1L, "ABCDE" + "x" + "FGHIJ"),
      (2L, "ABCDE" + "y" + "FGHIJ")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, n = 5)
      .orderBy(col("doc_id"), col("span_start"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(spans == Seq((1L, 1L, 5L), (1L, 7L, 11L),
      (2L, 1L, 5L), (2L, 7L, 11L)))
    // and the scrub stitches the surviving 1-char gap + nothing else
    val scrub = Dedup.removeDuplicatedSpans(docs, n = 5)
      .orderBy(col("doc_id")).as[(Long, String, Long)].collect().toSeq
    assert(scrub == Seq((1L, "x", 10L), (2L, "y", 10L)))
  }

  test("wordShingles slides over tokens") {
    import spark.implicits._
    val got = Seq("a b c d").toDF("s")
      .select(Dedup.wordShingles(Dedup.tokens(col("s")), 3).as("g"))
      .as[Seq[String]].collect().head
    assert(got == Seq("a b c", "b c d"))
  }

  test("jaccardPairsAllPairs: prefix-filtered join returns exactly " +
      "ngramJaccardPairs' output") {
    import spark.implicits._
    // crafted corpus: 1~2 near-identical, 3 shares a substring with 1
    // below threshold, 4 disjoint, 5 exact dup of 2
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonite"),
      (3L, "the quick brown cat naps quietly under a warm sun"),
      (4L, "zebras graze beyond violet canyons while owls watch"),
      (5L, "the quick brown fox jumps over the lazy dog tonite")
    ).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val base = norm(Dedup.ngramJaccardPairs(docs, minJaccard = 0.6))
    val fast = norm(Dedup.jaccardPairsAllPairs(docs, minJaccard = 0.6))
    assert(fast == base)
    assert(base.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(base.map(p => (p._1, p._2)).contains((2L, 5L)))
    // threshold 0.8 too: different prefix lengths, same equality
    assert(norm(Dedup.jaccardPairsAllPairs(docs)) ==
      norm(Dedup.ngramJaccardPairs(docs)))
  }

  test("the gram self-joins return the same rows over a single-" +
      "partition input as over a multi-partition one") {
    import spark.implicits._
    val excerpt = "the quick brown fox jumps over the lazy dog"
    val docs = corpus.union(Seq(
      (6L, excerpt),
      (7L, "breaking news tonight: " + excerpt + " was the line of the day"),
      (8L, "the quick brown fox jumps over the lazy dog tonite"),
      (9L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text"))
    val one = docs.coalesce(1)
    val many = docs.repartition(5, col("text"))
    assert(one.rdd.getNumPartitions == 1 && many.rdd.getNumPartitions == 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    val runs = Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)](
      "ngramJaccardPairs" -> (d => Dedup.ngramJaccardPairs(d,
        minJaccard = 0.5)),
      "containmentPairs" -> (d => Dedup.containmentPairs(d, n = 8,
        minContainmentBp = 9000L)),
      "jaccardPairsAllPairs" -> (d => Dedup.jaccardPairsAllPairs(d,
        minJaccard = 0.5)))
    for ((name, f) <- runs) {
      val single = rows(f(one))
      assert(single.nonEmpty, s"$name found no pairs; the case is vacuous")
      assert(single == rows(f(many)), s"$name depends on the partitioning")
    }
  }

  test("containmentPairs finds an excerpt fully quoted in a long doc " +
      "that symmetric Jaccard misses, and scores it exactly") {
    import spark.implicits._
    val excerpt = "the quick brown fox jumps over the lazy dog"
    val long = "breaking news from the city desk tonight: " + excerpt +
      " was the sentence of the day, editors said, noting that " +
      "typing drills have not changed in a century of newsroom life"
    val docs = Seq((1L, excerpt), (2L, long),
      (3L, "zebras graze beyond violet canyons while owls watch"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, n = 8,
      minContainmentBp = 9000L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    val (_, _, shared, nA, _, contBp) = pairs.head
    assert(shared == nA, "every excerpt gram must appear in the host")
    assert(contBp == 10000L)
    // the same pair is invisible to Jaccard at any useful threshold:
    // the host doc's extra grams drown the union
    assert(Dedup.ngramJaccardPairs(docs, n = 8, minJaccard = 0.6)
      .count() == 0L)
  }

  test("sortedNeighborhoodPairs: identical texts in one source pair " +
      "at 10000 bp; a same-text doc in ANOTHER source never pairs " +
      "(multi-pass SNM is per-pass-key by design)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "abcdef"),
      (2L, "s1", "abcdef"),   // exact dup of 1, adjacent in sort
      (3L, "s1", "zzzzzz"),   // in-window candidate, zero overlap
      (4L, "s2", "abcdef")    // same text, different pass key
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, window = 5,
        minJaccardBp = 8000L)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 4L, 4L, 4L, 10000L)))
  }

  test("sortedNeighborhoodPairs: the rank window caps candidates — " +
      "7 unique docs at window 2 yield exactly 6+5 zero-overlap pairs") {
    import spark.implicits._
    val docs = ('a' to 'g').zipWithIndex.map { case (c, i) =>
      (i.toLong, "s1", c.toString * 4)
    }.toDF("doc_id", "source", "text")
    val all = Dedup.sortedNeighborhoodPairs(docs, window = 2,
      minJaccardBp = 0L)
    assert(all.count() == 11L)
    assert(all.filter(col("shared") > 0).count() == 0L)
  }

  test("paragraphDedup: first corpus occurrence survives, later " +
      "copies count as dup blocks, empty docs keep 10^6 ppm") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val shared = words("a", 20)                 // one full block
    val docs = Seq(
      (0L, shared + " " + words("b", 20)),      // 2 blocks, both first
      (1L, shared + " " + words("c", 20)),      // block 0 dups doc 0
      (2L, words("d", 10)),                     // 1 short block, unique
      (3L, ""),                                 // no tokens
      (4L, shared)                              // whole doc dups doc 0
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, blockTokens = 20)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 0L, 1000000L),
      (1L, 2L, 1L, 500000L),
      (2L, 1L, 0L, 1000000L),
      (3L, 0L, 0L, 1000000L),
      (4L, 1L, 1L, 0L)))
    // partitioning-stable: the min-(doc,idx) winner is a total order
    val again = Dedup.paragraphDedup(docs.repartition(7), 20)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(again == got)
    // the transform half: only affected docs emitted, duplicate
    // blocks cut in place, block order preserved
    val scrub = Dedup.paragraphScrub(docs, blockTokens = 20)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(scrub == Seq(
      (1L, words("c", 20), 1L),  // lost its leading shared block
      (4L, "", 1L)))             // entirely duplicate -> empty text
  }

  test("lshDesignCurve matches the BigInt replica of the truncating " +
      "ppm recurrence and is a monotone S-curve") {
    import spark.implicits._
    val got = Dedup.lshDesignCurve(spark, rRows = 4, bands = 4)
      .orderBy("s_ppm").as[(Long, Long, Long)].collect().toSeq
    def pow(x: BigInt, n: Int): BigInt =
      (2 to n).foldLeft(x)((a, _) => a * x / 1000000)
    val ref = (1 to 9).map { i =>
      val s = BigInt(i) * 100000
      val s4 = pow(s, 4)
      (s.toLong, s4.toLong, (1000000 - pow(1000000 - s4, 4)).toLong)
    }
    assert(got == ref, got.mkString(","))
    // S-curve: candidate probability strictly increases with s and
    // crosses the high-probability regime by s = 0.8 for 4x4 banding
    assert(got.map(_._3) == got.map(_._3).sorted)
    assert(got.last._3 > 900000L && got.head._3 < 1000L)
  }

  test("softDedupWeights: cluster members share weight 1/k, " +
      "singletons keep full weight") {
    import spark.implicits._
    val docs = (1L to 5L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.softDedupWeights(docs, pairs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L),
      (3L, 1L, 3L, 333333L),
      (4L, 4L, 1L, 1000000L), (5L, 5L, 1L, 1000000L)))
  }
}
