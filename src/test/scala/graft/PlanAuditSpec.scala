package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the BNLJ build-side adjudication rules (PlanAudit) on
  * synthetic formatted-plan sections, then sweeps whatever real plan
  * dumps exist in `target/bench-plans` — so any query whose plan
  * grows a nested-loop join outside the adjudicated shapes fails the
  * SUITE, not just a judge's by-hand read (r16 ask #3).
  */
class PlanAuditSpec extends AnyFunSuite {

  private def scalarPlan(mode: String): String =
    s"""== Physical Plan ==
       |AdaptiveSparkPlan (7)
       |+- Project (6)
       |   +- BroadcastNestedLoopJoin Cross BuildRight (5)
       |      :- Scan parquet  (1)
       |      +- BroadcastExchange (4)
       |         +- HashAggregate (3)
       |            +- Scan parquet  (2)
       |
       |(1) Scan parquet
       |Output [1]: [a#1L]
       |
       |(2) Scan parquet
       |Output [1]: [b#2L]
       |
       |(3) HashAggregate
       |Keys: []
       |Functions [1]: [count(1)]
       |
       |(4) BroadcastExchange
       |Arguments: $mode, [plan_id=1]
       |
       |(5) BroadcastNestedLoopJoin
       |Join type: Cross
       |""".stripMargin

  test("scalar broadcast (keys-empty aggregate under " +
      "IdentityBroadcastMode) is benign") {
    assert(PlanAudit.violations("anything",
      scalarPlan("IdentityBroadcastMode")).isEmpty)
  }

  test("a BNLJ build without IdentityBroadcastMode is unadjudicated") {
    val v = PlanAudit.violations("anything",
      scalarPlan("HashedRelationBroadcastMode"))
    assert(v.size == 1 && v.head.contains("IdentityBroadcastMode"), v)
  }

  private val keyedPlan: String =
    """== Physical Plan ==
      |AdaptiveSparkPlan (7)
      |+- Project (6)
      |   +- BroadcastNestedLoopJoin LeftOuter BuildRight (5)
      |      :- Scan parquet  (1)
      |      +- BroadcastExchange (4)
      |         +- HashAggregate (3)
      |            +- Scan parquet  (2)
      |
      |(3) HashAggregate
      |Keys [1]: [bkt#3L]
      |Functions [1]: [count(1)]
      |
      |(4) BroadcastExchange
      |Arguments: IdentityBroadcastMode, [plan_id=1]
      |""".stripMargin

  test("keyed-aggregate build is benign ONLY under a roster entry") {
    val v = PlanAudit.violations("not_in_roster", keyedPlan)
    assert(v.size == 1 && v.head.contains("KeyedAggAdjudicated"), v)
    assert(PlanAudit.violations("sample_curriculum", keyedPlan).isEmpty)
  }

  private val scanBuildPlan: String =
    """== Physical Plan ==
      |AdaptiveSparkPlan (6)
      |+- BroadcastNestedLoopJoin Inner BuildRight (5)
      |   :- Scan parquet  (1)
      |   +- BroadcastExchange (4)
      |      +- Filter (3)
      |         +- Scan parquet  (2)
      |
      |(4) BroadcastExchange
      |Arguments: IdentityBroadcastMode, [plan_id=1]
      |""".stripMargin

  test("a parquet-scan build is the scale-killer shape: roster only") {
    val v = PlanAudit.violations("not_in_roster", scanBuildPlan)
    assert(v.size == 1 && v.head.contains("ProbeScanAdjudicated"), v)
    assert(PlanAudit.violations("sim_knn_accuracy", scanBuildPlan).isEmpty)
  }

  test("checkpointed iterate frames (Scan ExistingRDD) and literal " +
      "Range builds are benign without a roster entry") {
    val rdd = scanBuildPlan.replace("Scan parquet  (2)",
      "Scan ExistingRDD (2)")
    assert(PlanAudit.violations("anything", rdd).isEmpty)
    val rng = scanBuildPlan
      .replace("+- Filter (3)\n         +- Scan parquet  (2)",
        "+- Project (3)\n         +- Range (2)")
    assert(PlanAudit.violations("anything", rng).isEmpty)
  }

  test("a driver-local LocalTableScan build (a layout job's stats row) " +
      "is benign without a roster entry; its node name alone is not") {
    val local = scanBuildPlan
      .replace("+- Filter (3)\n         +- Scan parquet  (2)",
        "+- LocalTableScan (2)")
    assert(local != scanBuildPlan)
    assert(PlanAudit.violations("io_compaction", local).isEmpty)
    val other = local.replace("LocalTableScan (2)", "LocalTableScanX (2)")
    assert(PlanAudit.violations("io_compaction", other).nonEmpty)
  }

  test("BuildLeft picks the FIRST child; an unbounded left build is " +
      "caught even when the right side is tiny") {
    val plan =
      """== Physical Plan ==
        |AdaptiveSparkPlan (6)
        |+- BroadcastNestedLoopJoin Inner BuildLeft (5)
        |   :- BroadcastExchange (2)
        |   :  +- Scan parquet  (1)
        |   +- Scan ExistingRDD (4)
        |
        |(2) BroadcastExchange
        |Arguments: IdentityBroadcastMode, [plan_id=1]
        |""".stripMargin
    val v = PlanAudit.violations("not_in_roster", plan)
    assert(v.size == 1 && v.head.contains("ProbeScanAdjudicated"), v)
  }

  test("logged barrier sections are parsed independently (ids restart)") {
    val multi = scalarPlan("IdentityBroadcastMode") +
      Bench.section("some intermediate step", Some(12.0), keyedPlan)
    val v = PlanAudit.violations("not_in_roster", multi)
    assert(v.size == 1 && v.head.contains("KeyedAggAdjudicated"), v)
  }

  test("Exchange SinglePartition is benign over a reduced frame " +
      "(aggregate below) and a violation over a raw corpus scan") {
    def plan(mid: String): String =
      s"""== Physical Plan ==
         |AdaptiveSparkPlan (5)
         |+- Sort (4)
         |   +- Exchange (3)
         |      $mid
         |         +- Scan parquet  (1)
         |
         |(3) Exchange
         |Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
         |""".stripMargin
    assert(PlanAudit.spViolations("q",
      plan("+- HashAggregate (2)")).isEmpty)
    val v = PlanAudit.spViolations("q", plan("+- Project (2)"))
    assert(v.size == 1 && v.head.contains("SinglePartition"), v)
  }

  test("CartesianProduct is a violation outright") {
    val plan =
      """== Physical Plan ==
        |AdaptiveSparkPlan (4)
        |+- CartesianProduct (3)
        |   :- Scan parquet  (1)
        |   +- Scan parquet  (2)
        |""".stripMargin
    val v = PlanAudit.spViolations("q", plan)
    assert(v.size == 1 && v.head.contains("CartesianProduct"), v)
  }

  private def executedPlan(keys: String): String =
    s"""== Physical Plan ==
       |OverwriteByExpression (11)
       |+- AdaptiveSparkPlan (10)
       |   +- == Final Plan ==
       |      ResultQueryStage (9)
       |      +- * BroadcastNestedLoopJoin Cross BuildRight (8)
       |         :- ShuffleQueryStage (4), Statistics(sizeInBytes=16.0 B, rowCount=1)
       |         :  +- Exchange (3)
       |         :     +- * HashAggregate (2)
       |         :        +- Scan parquet  (1)
       |         +- BroadcastQueryStage (7), Statistics(sizeInBytes=16.0 B, rowCount=1)
       |            +- BroadcastExchange (6)
       |               +- ShuffleQueryStage (5), Statistics(sizeInBytes=16.0 B, rowCount=1)
       |                  +- ReusedExchange (12)
       |
       |(2) HashAggregate [codegen id : 1]
       |Keys: $keys
       |
       |(3) Exchange
       |Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
       |
       |(6) BroadcastExchange
       |Arguments: IdentityBroadcastMode, [plan_id=2]
       |
       |(12) ReusedExchange [Reuses operator id: 3]
       |""".stripMargin

  test("executed AQE plans: query stages, codegen stars and reused " +
      "exchanges are seen through") {
    assert(PlanAudit.allViolations("anything", executedPlan("[]")).isEmpty)
    // the build side is judged at the reused exchange's source
    val v = PlanAudit.allViolations("anything", executedPlan("[k#1]"))
    assert(v.size == 1 && v.head.contains("keyed HashAggregate"), v)
  }

  test("sweep: every BNLJ in the current bench plan dumps is " +
      "adjudicated (bnlj_unadjudicated = 0)") {
    val dir = new java.io.File("target/bench-plans")
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".txt"))
    // no dumps (fresh clone): nothing to sweep; Bench regenerates
    // them every run and reports the same census in plan_flags
    val bad = files.toSeq.flatMap { f =>
      val txt = new String(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      PlanAudit.allViolations(f.getName.stripSuffix(".txt"), txt)
    }
    assert(bad.isEmpty,
      s"unadjudicated BNLJ shapes (fix the plan or adjudicate the " +
        s"bound in PlanAudit's roster):\n${bad.mkString("\n")}")
  }
}
