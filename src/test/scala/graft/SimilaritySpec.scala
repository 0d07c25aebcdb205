package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def vecs = {
    import spark.implicits._
    Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9999f, 0.01f, 0.0f, 0.0f)), // ~parallel to 0
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),     // orthogonal to 0
      (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),    // opposite of 0
      (4L, Seq(0.7071f, 0.7071f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
  }

  test("cosinePairs finds near-parallel pairs only") {
    import spark.implicits._
    val got = Similarity.cosinePairs(vecs, minCosine = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L)))
  }

  test("cosinePairs' block grid finds every brute-force pair once, " +
      "and no nested-loop join builds on the corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val data = (0 until 60).map { i =>
      (i.toLong, Seq.fill(6)((rnd.nextGaussian() + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val norm = data.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("n", Similarity.qdot(col("qv"), col("qv")))
    val brute = norm.as("a").crossJoin(norm.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.qcosine(Similarity.qdot(col("a.qv"), col("b.qv")),
          col("a.n"), col("b.n")).as("c"))
      .filter(col("c") >= 0.8)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(brute.nonEmpty && brute.length < 60 * 59 / 2)
    val pairs = Similarity.cosinePairs(data, minCosine = 0.8)
    assert(pairs.select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect().sorted.toSeq == brute)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("semanticDecontaminate drops corpus vectors near any eval " +
      "vector, keeps the rest, with no nested-loop join in the plan") {
    import spark.implicits._
    // eval = vec 0; corpus = 1 (near-parallel: leak), 2 (orthogonal:
    // clean), 3 (opposite: clean)
    val evalSet = vecs.filter(col("vec_id") === 0)
    val corpus = vecs.filter(col("vec_id").isin(1L, 2L, 3L))
    val kept = Similarity.semanticDecontaminate(corpus, evalSet,
      minCosine = 0.9)
      .select("vec_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(2L, 3L))
    val plan = Similarity.semanticDecontaminate(corpus, evalSet, 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("cell-pruned semanticDecontaminate equals the exhaustive " +
      "O(N·E) scan — pruning is exact, including at the threshold " +
      "boundary and with zero-norm eval vectors in a cell") {
    import spark.implicits._
    // deterministic pseudo-random corpus + two eval clusters, plus
    // planted boundary pairs (cosine just above/below threshold) and a
    // zero-norm eval vector that must not poison its cell's radius
    def mk(seed: Long, dim: Int): Seq[Float] = {
      var h = seed
      (0 until dim).map { i =>
        h = h * 6364136223846793005L + 1442695040888963407L
        ((h >>> 33).toInt % 1000) / 1000.0f
      }
    }
    val dim = 8
    val evalRows = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) mk(1L, dim) else mk(2L, dim)
      val jit = mk(100 + i, dim)
      (i, base.zip(jit).map { case (b, j) => b + 0.05f * j })
    } :+ (20L, Seq.fill(dim)(0.0f)) // zero-norm eval
    val corpusRows = (100L until 200L).map(i => (i, mk(i, dim))) ++
      // planted: near-copies of eval cluster members, plus a zero-norm
      // corpus doc that must survive (no defined cosine = never flagged)
      Seq((200L, evalRows(0)._2.map(_ * 1.01f)),
        (201L, evalRows(1)._2.map(x => x + 0.001f)),
        (202L, Seq.fill(dim)(0.0f)))
    val evalSet = evalRows.toDF("vec_id", "embedding")
    val corpus = corpusRows.toDF("vec_id", "embedding")
    for (t <- Seq(0.45, 0.9, 0.99)) {
      val got = Similarity.semanticDecontaminate(corpus, evalSet, t,
        nCells = 4)
        .select("vec_id").as[Long].collect().toSet
      // exhaustive reference via the brute-force pair scan (zero-norm
      // vectors excluded: cosine undefined, and qcosine's contract
      // requires non-zero norms)
      val q = (c: org.apache.spark.sql.DataFrame) => c
        .select(col("vec_id").as("id"),
          Similarity.quantize(col("embedding")).as("qv"))
        .withColumn("norm", Similarity.qdot(col("qv"), col("qv")))
        .filter(col("norm") > 0)
      val bad = q(corpus).as("c").crossJoin(q(evalSet).as("e"))
        .filter(Similarity.qcosine(
          Similarity.qdot(col("c.qv"), col("e.qv")),
          col("c.norm"), col("e.norm")) >= t)
        .select(col("c.id")).as[Long].collect().toSet
      val want = corpusRows.map(_._1).toSet -- bad
      assert(got == want, s"threshold $t: got ${got.size}, want ${want.size}")
    }
  }

  test("topK ranks by cosine with deterministic ties") {
    import spark.implicits._
    val got = Similarity.topK(vecs.filter(col("vec_id") === 0), vecs, k = 4)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSeq
    // for query 0: 1 (~1.0), 4 (~0.707), 2 (0.0), 3 (-1.0)
    assert(got == Seq((1, 1L), (2, 4L), (3, 2L), (4, 3L)))
  }

  test("ann results carry the same cosines as brute force") {
    import spark.implicits._
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val ann = Similarity.annTopK(emb, col("id") < 10, k = 5,
      nPlanes = 6, nTables = 4)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty)
    val brute = Similarity.topK(emb.filter(col("vec_id") < 10), emb, k = 500)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for ((q, n, c) <- ann) {
      assert(brute((q, n)) == c, s"cosine mismatch for ($q,$n)")
    }
  }

  test("ivf results carry brute-force cosines and decent recall") {
    import spark.implicits._
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val ivf = Similarity.ivfTopK(emb, col("id") < 10, k = 5,
      nCells = 16, nProbe = 4)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    val brute = Similarity.topK(emb.filter(col("vec_id") < 10), emb, k = 500)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for ((q, n, c) <- ivf) assert(brute((q, n)) == c)
    // probing 4/16 cells must scan roughly a quarter of candidates,
    // and every query should still return k rows
    val perQuery = ivf.groupBy(_._1).view.mapValues(_.length)
    assert(perQuery.values.forall(_ == 5))
  }

  test("ivf k-means training is deterministic across runs") {
    import spark.implicits._
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def run() = Similarity.ivfTopK(emb, col("id") < 10, k = 5,
      nCells = 16, nProbe = 4, trainIters = 3)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(run() == run())
  }

  test("annTopK at scale defaults: high recall on clustered embeddings") {
    import spark.implicits._
    // 25 clusters × 4 members, small perturbation → each vector's true
    // top-3 are its cluster siblings (cosine ≈ 0.999). A single
    // unlucky table split loses a sibling; 4 independent tables must
    // recover nearly all of them.
    val rnd = new scala.util.Random(42)
    val data = (0 until 25).flatMap { c =>
      val center = Array.fill(16)(rnd.nextGaussian())
      (0 until 4).map { m =>
        val v = center.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq
        ((c * 4 + m).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val k = 3
    val ann = Similarity.annTopK(data, col("id") >= 0, k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.topK(data, data, k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ann.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall below 0.9 " +
      s"(found ${ann.intersect(brute).size} of ${brute.size} true neighbors)")
  }

  test("annCosinePairs: perfect precision, high recall at the " +
      "near-dup operating point") {
    import spark.implicits._
    // 25 clusters × 4 members (cosine ≈ 0.999 within a cluster): the
    // realistic near-dup regime the scale defaults are tuned for
    val rnd = new scala.util.Random(7)
    val data = (0 until 25).flatMap { c =>
      val center = Array.fill(16)(rnd.nextGaussian())
      (0 until 4).map { m =>
        val v = center.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq
        ((c * 4 + m).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val ann = Similarity.annCosinePairs(data, minCosine = 0.9)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect()
    val brute = Similarity.cosinePairs(data, minCosine = 0.9)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect()
    val bruteMap = brute.map(r => (r._1, r._2) -> r._3).toMap
    // exact verify ⇒ every returned pair is a true pair with a
    // bit-identical cosine (subset of ground truth, never a superset)
    for ((a, b, c) <- ann)
      assert(bruteMap((a, b)) == c, s"pair ($a,$b) wrong or spurious")
    val recall = ann.length.toDouble / brute.length
    assert(recall >= 0.95,
      s"recall $recall below 0.95 (${ann.length} of ${brute.length} pairs)")
  }

  test("annCosinePairs recalls the fixture ground truth with coarse " +
      "tables") {
    import spark.implicits._
    // fixture geometry: pairs sit at cosine 0.45-0.51 (p ~0.65/plane),
    // far below real near-dup similarity — 3 planes × 12 tables keeps
    // collision probability high; deterministic planes make the
    // observed recall a fixed property of the fixture
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val ann = Similarity.annCosinePairs(emb, minCosine = 0.45,
      nPlanes = 3, nTables = 12)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    val brute = Similarity.cosinePairs(emb, minCosine = 0.45)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    val bruteMap = brute.map(r => (r._1, r._2) -> r._3).toMap
    for ((a, b, c) <- ann) assert(bruteMap((a, b)) == c)
    assert(brute.nonEmpty, "fixture must contain ground-truth pairs")
    val recall = ann.length.toDouble / brute.length
    assert(recall >= 0.8,
      s"recall $recall below 0.8 (${ann.length} of ${brute.length} pairs)")
  }

  test("annCosinePairs plan broadcasts nothing and has no O(N²) join") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Similarity.annCosinePairs(emb, minCosine = 0.45,
        nPlanes = 3, nTables = 12)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        "corpus-scale pair generation must not broadcast a corpus-sized side")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        "bucket join must stay a flat-key equi-join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("semanticPairs: exact cosines, subset of brute force, " +
      "deterministic, with useful recall on the fixture") {
    import spark.implicits._
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val sem = Similarity.semanticPairs(emb, minCosine = 0.45, nCells = 4)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    val brute = Similarity.cosinePairs(emb, minCosine = 0.45)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    val bruteMap = brute.map(r => (r._1, r._2) -> r._3).toMap
    // every emitted pair is a true pair with the exact brute cosine
    for ((a, b, c) <- sem) assert(bruteMap((a, b)) == c)
    assert(brute.nonEmpty)
    // coarse cells on the tiny fixture: co-clustering must capture a
    // useful share of the true pairs (deterministic Lloyd makes this
    // a fixed fixture property, not flaky)
    val recall = sem.length.toDouble / brute.length
    assert(recall >= 0.4,
      s"recall $recall below 0.4 (${sem.length} of ${brute.length})")
    val again = Similarity.semanticPairs(emb, minCosine = 0.45, nCells = 4)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    assert(sem.toSeq.sorted == again.toSeq.sorted)
  }

  test("semanticPairs joins on the cell id — no nested loop, no " +
      "corpus broadcast") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Similarity.semanticPairs(emb, minCosine = 0.45,
        nCells = 4).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        "within-cell pair generation must not broadcast the corpus")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        "cell join must stay an equi-join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("annTopK plan broadcasts neither side of the bucket join") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable size-based auto-broadcast so the assertion pins OUR
      // plan shape (no broadcast() hint), not Catalyst's size estimate
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Similarity.annTopK(emb, col("id") >= 0, k = 5)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        "corpus-scale ANN must not broadcast a corpus-sized side")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        "bucket join must stay a flat-key equi-join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("lsh bucket is deterministic across evaluations") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val b1 = emb.select(Similarity.lshBucket(col("embedding"), 6).as("b"))
      .collect().map(_.getLong(0)).toSeq
    val b2 = emb.select(Similarity.lshBucket(col("embedding"), 6).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(b1 == b2)
    assert(b1.distinct.size > 1) // buckets actually split the space
  }

  test("ivfPq results carry brute-force cosines, full k per query, " +
      "and recall >= the gated floor") {
    import spark.implicits._
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val pq = Similarity.ivfPqTopK(emb, col("id") < 10, k = 5,
      nProbe = 8, m = 16, ksub = 32, rerankFactor = 12)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(pq.nonEmpty)
    // reranked cosines are the EXACT quantized cosine — bit-equal to
    // brute force for every recalled pair
    val brute = Similarity.topK(emb.filter(col("vec_id") < 10), emb, k = 500)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for ((q, n, c) <- pq) assert(brute((q, n)) == c)
    val perQuery = pq.groupBy(_._1).view.mapValues(_.length)
    assert(perQuery.values.forall(_ == 5))
    // recall vs the exact top-5 (the driver gate pins 0.80; the spec
    // pins the same floor so a regression fails fast locally)
    val exact5 = Similarity.topK(emb.filter(col("vec_id") < 10), emb, k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val hit = exact5.count { case (q, n) => pq.exists(p => p._1 == q && p._2 == n) }
    assert(hit * 10000 / exact5.size >= 8000,
      s"pq recall ${hit}/${exact5.size} below floor")
  }

  test("ivfPq codebook training and encoding are deterministic " +
      "across runs") {
    import spark.implicits._
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def run() = Similarity.ivfPqTopK(emb, col("id") < 10, k = 5,
      m = 8, ksub = 16, trainIters = 3)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(run() == run())
  }

  private def labeled = {
    import spark.implicits._
    Seq(
      (0L, Seq(1.0f, 0.0f), 0),     // anchor
      (1L, Seq(0.0f, 1.0f), 0),     // same label, orthogonal (far)
      (2L, Seq(0.995f, 0.1f), 1),   // diff label, near
      (3L, Seq(-1.0f, 0.0f), 1),    // diff label, opposite
      (4L, Seq(0.9f, 0.44f), 0)     // same label, near
    ).toDF("vec_id", "embedding", "label")
  }

  test("hardNegatives ranks only different-label vectors, nearest " +
      "first") {
    import spark.implicits._
    val got = Similarity.hardNegatives(labeled, col("vec_id") === 0L,
      k = 3)
      .select("query_id", "rank", "neighbor_id", "neighbor_label")
      .as[(Long, Int, Long, Int)].collect().toSeq
    // same-label 1 and 4 must never appear; 2 (cos ~0.995) before 3
    // (cos −1); only two negatives exist so k=3 yields 2 rows
    assert(got == Seq((0L, 1, 2L, 1), (0L, 2, 3L, 1)))
  }

  test("hardTriplets picks the farthest positive and nearest " +
      "negative, with the violation margin") {
    import spark.implicits._
    val got = Similarity.hardTriplets(labeled, col("vec_id") === 0L)
      .select("anchor_id", "pos_id", "neg_id", "viol_margin")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // positive = 1 (orthogonal same-label, cos 0), NOT the near 4;
    // negative = 2 (cos ~0.995), NOT the opposite 3; margin ≈ 0.995
    assert(got.map(r => (r._1, r._2, r._3)) == Seq((0L, 1L, 2L)))
    assert(got.head._4 > 0.99 && got.head._4 < 1.0)
  }

  test("hardTriplets drops anchors lacking a positive or negative " +
      "side") {
    import spark.implicits._
    val solo = Seq(
      (0L, Seq(1.0f, 0.0f), 7),    // only vector with label 7
      (1L, Seq(0.0f, 1.0f), 1),
      (2L, Seq(0.5f, 0.5f), 1)
    ).toDF("vec_id", "embedding", "label")
    // anchor 0 has negatives but no same-label positive → dropped;
    // anchor 1 has positive 2 and negative 0 → kept
    val got = Similarity.hardTriplets(solo, col("vec_id") < 2)
      .select("anchor_id").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("knnLabelAccuracy: clean label clusters score a perfect " +
      "leave-one-out 1-NN accuracy") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelAccuracy(emb)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((4L, 4L, 10000L)))
  }

  test("farthestPointSample: greedy k-center picks the far point " +
      "first, exact squared distances at selection time") {
    import spark.implicits._
    val emb = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.1f, 0.0f)),
      (3L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.farthestPointSample(emb, k = 3)
      .orderBy("rank").as[(Long, Long, Long)].collect().toSeq
    // seed 1; then 3 at d²=10000² = 1e8; then 2 at d²=1000² = 1e6
    assert(got == Seq((1L, 1L, 0L), (2L, 3L, 100000000L),
      (3L, 2L, 1000000L)))
  }

  test("mutualNearestNeighbors keeps only reciprocal top-1 links — " +
      "a one-way nearest neighbor never pairs") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), // mutual pair
      (3L, Seq(0.0f, 1.0f)), // 3's NN is 2, but 2's NN is 1 → no pair
      (4L, Seq(-1.0f, 0.0f)) // anti-aligned with everything
    ).toDF("vec_id", "embedding")
    val got = Similarity.mutualNearestNeighbors(emb)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("gramUpper: exact integer X^T X upper triangle on a " +
      "hand-computed vector") {
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val got = Similarity.gramUpper(emb)
      .orderBy("j", "k").as[(Long, Long, String)].collect().toSeq
    // q = (10000, 20000): 1e8, 2e8, 4e8
    assert(got == Seq((1L, 1L, "100000000"), (1L, 2L, "200000000"),
      (2L, 2L, "400000000")))
  }

  test("powerIterationPC recovers the exact direction of rank-1 data " +
      "and is a fixed point from round 1") {
    import spark.implicits._
    // all vectors are multiples of (3, 1) — the principal direction
    // is exact, so the L∞-normalized iterate is (2^20, 2^20 div 3)
    val emb = Seq(
      (1L, Seq(0.3f, 0.1f)), (2L, Seq(0.6f, 0.2f)),
      (3L, Seq(-0.3f, -0.1f))).toDF("vec_id", "embedding")
    val r3 = Similarity.powerIterationPC(emb, rounds = 3)
      .orderBy("dim").as[(Long, Long)].collect().toSeq
    assert(r3 == Seq((1L, 1048576L), (2L, 349525L)))
    val r1 = Similarity.powerIterationPC(emb, rounds = 1)
      .orderBy("dim").as[(Long, Long)].collect().toSeq
    assert(r1 == r3, "rank-1 input converges in one round")
  }

  test("centroidDrift: orthogonal halves read 0, parallel halves " +
      "read exactly 1 — sums stand in for centroids") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1), (1L, Array(0.0f, 1.0f), 1),
      (2L, Array(1.0f, 1.0f), 2), (3L, Array(2.0f, 2.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidDrift(emb)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1, 1L, 1L, 0.0), (2, 1L, 1L, 1.0)))
  }

  test("normAudit: exact quantized norm stats per label, decimal mean") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.5f, 0.5f), 0),
      (3L, Seq(0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.normAudit(emb).collect()
      .map(x => x.getAs[Int]("label") -> x).toMap
    // label 0: norms 1e8 and 2*(5000^2)=5e7 -> mean (1.5e8)/2=75e6
    assert(r(0).getAs[Long]("min_norm2") == 50000000L)
    assert(r(0).getAs[Long]("max_norm2") == 100000000L)
    assert(r(0).getAs[Long]("mean_norm2") == 75000000L)
    assert(r(1).getAs[Long]("max_norm2") == 0L)
  }

  test("quantizeAudit: hand-computed int8 codes, error bounded by " +
      "one quantization step, zero vectors audit clean") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, -1.0f, 0.5f)),  // qv = [10000, -10000, 5000]
      (2L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.quantizeAudit(emb).collect()
      .map(x => x.getAs[Long]("vec_id") -> x).toMap
    // ma = 10000; codes: 127, -127, 63 (x=5000 → ⌊127·15000/10⁴⌋−127)
    // worst err = |127·5000 − 63·10⁴| = 5000 → 5000·10⁶ div 127·10⁴
    assert(r(1L).getAs[Long]("maxabs") == 10000L)
    assert(r(1L).getAs[Long]("max_err_ppm") == 3937L)
    assert(r(1L).getAs[Long]("code_wsum") == 127L - 254L + 189L)
    assert(r(2L).getAs[Long]("maxabs") == 0L &&
      r(2L).getAs[Long]("max_err_ppm") == 0L &&
      r(2L).getAs[Long]("code_wsum") == 0L)
    // the symmetric scheme's error bound: one step = full-scale/127,
    // i.e. < 10⁶/127 ≈ 7874 ppm, on every fixture vector
    val worst = Similarity.quantizeAudit(
      Tables.load(spark, "/root/testdata/sf0.001", "embeddings"))
      .agg(max("max_err_ppm")).head().getLong(0)
    assert(worst <= 7874L, s"quantization error $worst ppm exceeds a step")
  }

  test("kmeans: trivially separated clusters converge to zero inertia " +
      "with deterministic, partitioning-stable assignments") {
    import spark.implicits._
    // init = lowest-k vec_ids: 0 seeds cluster 0 at (1,0), 1 seeds
    // cluster 1 at (-1,0); the copies must land on their seed exactly
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(-1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f)), (3L, Seq(1.0f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f)), (5L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeans(emb, k = 2, iters = 2)
      .orderBy("cluster").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 3L, 0L), (1L, 3L, 0L)))
    val again = Similarity.kmeans(emb.repartition(5), k = 2, iters = 2)
      .orderBy("cluster").as[(Long, Long, Long)].collect().toSeq
    assert(again == got)
    // single cluster absorbs everything; inertia is the exact integer
    // sum of squared distances to the truncated-mean centroid
    val one = Similarity.kmeans(emb, k = 1, iters = 2).head()
    assert(one.getAs[Long]("n_vecs") == 6L)
    // centroid of quantized dims: mean(3*10^4, 3*(-10^4)) = 0 on dim 1,
    // 0 on dim 2 -> each vec contributes 10^8
    assert(one.getAs[Long]("inertia") == 6L * 100000000L)
  }

  test("matryoshkaAgreement: hand-built disagreement — a prefix-half " +
      "twin wins under truncation, the true neighbor under full dims") {
    import spark.implicits._
    // v1=[1,0,0,0]: full-NN is v3 (cos .707 vs .196) but the HALF of
    // v2 is identical to v1's half (cos 1.0) -> half-NN v2: disagree.
    // v2: full- and half-NN both v1: agree. v3: full-NN v1; halves of
    // v1 and v2 tie at cos .707 -> lowest nid (1) = full choice: agree.
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0f, 5f, 0f)),
      (3L, Array(1f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.matryoshkaAgreement(emb)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 2L, 6666L)))
  }

  test("quantizeInt8Audit: exact codes on a hand-made vector, the " +
      "ceil(range/255) error ceiling holds, constant vectors are " +
      "zero-error under the rng >= 1 guard") {
    import spark.implicits._
    // v1 quantizes to qv = [0, 2550, 10000]: mn=0, rng=10000;
    //   v=2550 -> code floor(2550*255/10000)-128 = -63, dq =
    //   floor(65*10000/255) = 2549 -> err 1; v=10000 -> err 0.
    // v2 constant: rng clamps to 1, every code = -128, dq = mn -> 0.
    val emb = Seq(
      (1L, Array(0f, 0.255f, 1f)),
      (2L, Array(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.quantizeInt8Audit(emb)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().toSeq
    assert(got == Seq(
      (1L, 0L, 10000L, 3L, 1L, 10000L * 1 / (3 * 10000), true),
      (2L, 5000L, 5000L, 3L, 0L, 0L, true)), got.mkString(","))
    // the bound is tight but never violated on adversarial ranges
    // (rng = 256 makes every nonzero remainder round up to err 1)
    val adv = Seq((3L, Array(0f, 0.0001f, 0.0255f, 0.0256f)))
      .toDF("vec_id", "embedding")
    val row = graft.operators.Similarity.quantizeInt8Audit(adv)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().head
    assert(row._7 && row._5 <= (row._3 - row._2 + 254) / 255,
      row.toString)
  }
}
