package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Scratch, Sessions, Tables}
import graft.operators.{Dedup, Similarity}

/** Measure the observed recall of every approximate (sketch/LSH/IVF)
  * operator against its exact twin on a fixture directory — the
  * numbers behind the recall floors that `SparkEntry`'s `*_recall`
  * gate queries pin. Run it when retuning sketch geometry or moving to
  * a new corpus: floors should sit comfortably below the observed
  * minimum across fixture scales, not at it.
  *
  * Usage: runMain graft.tools.RecallProbe <sfDir> [probe,probe,...]
  * Prints one JSON line: {"sf":dir,"minhash":r,...}
  */
object RecallProbe {
  private def recallOf(exact: DataFrame, approx: DataFrame,
      keys: Seq[String]): (Long, Long) = {
    val hits = exact.select(keys.map(col): _*)
      .join(approx.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .count()
    (exact.count(), hits)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: RecallProbe <sfDir> [probe,...]")
    val dir = args(0)
    val only = args.drop(1).headOption.map(_.split(",").toSet)
    val spark = Sessions.builder("graft-recall-probe", "local[8]", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.load(spark, dir, "documents")
    val emb = Tables.load(spark, dir, "embeddings")
    val gt = Scratch.pin("gt_pairs", Dedup.ngramJaccardPairs(
      docs.filter(col("doc_id") < 500), n = 3, minJaccard = 0.8))
    val exactTop5 = Scratch.pin("exact top5", Similarity.topK(
      emb.filter(col("vec_id") < 10), emb, k = 5))
    val exactPairs = Scratch.pin("exact cosine pairs",
      Similarity.cosinePairs(emb, minCosine = 0.45))
    val probes: Seq[(String, () => (Long, Long))] = Seq(
      "minhash" -> (() => recallOf(gt,
        Dedup.minhashPairs(docs, k = 16, bands = 4, minJaccard = 0.7),
        Seq("id_a", "id_b"))),
      "simhash" -> (() => recallOf(gt,
        Dedup.simhashPairs(docs, maxHamming = 6), Seq("id_a", "id_b"))),
      "embedding_ann" -> (() => recallOf(exactPairs,
        Similarity.annCosinePairs(emb, minCosine = 0.45, nPlanes = 3,
          nTables = 12), Seq("id_a", "id_b"))),
      "ann_lsh" -> (() => recallOf(exactTop5,
        Similarity.annTopK(emb, col("id") < 10, k = 5, nPlanes = 3,
          nTables = 12), Seq("query_id", "neighbor_id"))),
      "ann_ivf" -> (() => recallOf(exactTop5,
        Similarity.ivfTopK(emb, col("id") < 10, k = 5),
        Seq("query_id", "neighbor_id"))),
      "semantic" -> (() => recallOf(exactPairs,
        Similarity.semanticPairs(emb, minCosine = 0.45, nCells = 4),
        Seq("id_a", "id_b"))))
    val fields = probes.filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, f) =>
      val (n, hit) = f()
      f""""$name":{"n_exact":$n,"n_hit":$hit,"recall":${
        if (n == 0) 1.0 else hit.toDouble / n}%.4f}"""
    }
    println(s"""{"sf":"$dir",${fields.mkString(",")}}""")
    spark.stop()
  }
}
