package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.run]] at sf0.001 over a registered memo-building query, a
  * stub that records the memos it finds on entry, and a stub that
  * throws: the artifact's keys, a total that is the sum of what it
  * publishes, a failure that is named and not published, memos
  * evicted before every timed run, plan dumps of the executed plan,
  * and sub-MiB storage.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("run publishes the median of whole-output runs, names a failed " +
      "query instead of publishing it, and evicts memos before each run") {
    val memosSeen = mutable.Buffer.empty[Set[Int]]
    val memoProbe: (SparkSession, String) => DataFrame = (s, _) => {
      memosSeen += SparkEntry.memoizedRddIds(s)
      s.range(10).toDF()
    }
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("bench-spec boom")
    val memoBuilder = SparkEntry.queries("dedup_minhash")
    // the probe below is only meaningful if the query it follows leaves
    // a memo behind when nothing evicts it
    SparkEntry.evictMemos(spark)
    memoBuilder(spark, sf).count()
    assert(SparkEntry.memoizedRddIds(spark).nonEmpty,
      "dedup_minhash no longer builds a memo; pick another builder")

    val repeats = 2
    val (art, dump) = Scratch.withDir("graft-bench-plans") { plans =>
      (Bench.run(spark, sf, Seq("dedup_minhash" -> memoBuilder,
        "memo_probe" -> memoProbe, "boom" -> boom), repeats, plans),
        Files.readString(new java.io.File(plans, "dedup_minhash.txt").toPath))
    }

    assert(art.fieldNames().asScala.toSet == Set("metric", "value", "unit",
      "n_queries", "queries", "failed", "queries_runs",
      "query_start_offsets_s", "queries_gc_ms", "queries_storage_mb",
      "queries_state_rows", "queries_state_bytes", "plan_flags",
      "bnlj_names", "bnlj_unadjudicated_names", "repeats", "sf",
      "plans_dir", "canary", "scale_probe", "scale_probe_mtime_utc"))

    val queries = art.get("queries")
    assert(queries.fieldNames().asScala.toSet ==
      Set("dedup_minhash", "memo_probe"))
    val published = queries.properties().asScala.map(_.getValue.asDouble)
    assert(published.forall(_ > 0))
    assert(art.get("value").asDouble == published.sum)
    assert(art.get("n_queries").asInt == 2)
    Seq("dedup_minhash", "memo_probe").foreach { q =>
      val runs = art.get("queries_runs").get(q).elements().asScala
        .map(_.asDouble).toSeq.sorted
      assert(runs.size == repeats)
      assert(queries.get(q).asDouble == runs.sum / 2, q)
    }

    val failed = art.get("failed")
    assert(failed.fieldNames().asScala.toSet == Set("boom"))
    assert(failed.get("boom").asText ==
      "java.lang.IllegalStateException: bench-spec boom")
    // runs stop at the first failure
    assert(art.get("queries_runs").get("boom").isEmpty)

    assert(memosSeen.size == repeats)
    assert(memosSeen.forall(_.isEmpty),
      s"memo_probe found memos on entry: $memosSeen")
    assert(art.get("plan_flags").get("plan_files").asInt == 2)
    // the dump is the plan the noop write ran: AQE's final plan
    assert(dump.contains("isFinalPlan=true"), dump.take(400))
    // dedup_minhash's memo is still cached after its runs; at sf0.001
    // it is well under 1 MiB
    assert(art.get("queries_storage_mb").get("dedup_minhash").asDouble > 0)
    assert(art.get("canary").size == 3)
  }
}
