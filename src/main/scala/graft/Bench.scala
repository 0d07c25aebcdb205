package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The repeated-measure bench over the registered queries.
  *
  * Each timed run is the cost of the query's whole output: its memos
  * are evicted first (a memo reader pays its build), the frame is
  * built and written through the `noop` sink (no column or sort is
  * pruned away), and the blocks the run leaked are unpersisted after
  * it. A query publishes the median of its `repeats` runs. Its runs
  * stop at the first failure, and a failed query is named in `failed`
  * with its cause and counts in neither `queries` nor the total.
  *
  * The artifact [[run]] returns holds exactly these keys:
  *  - `metric` ("total"), `value` (the sum of `queries`), `unit` ("sec");
  *  - `n_queries`, `queries` (name → median s), `failed` (name →
  *    "ExceptionClass: message");
  *  - `queries_runs` (name → every run's seconds, in order),
  *    `query_start_offsets_s`, `queries_gc_ms`, `queries_storage_mb`,
  *    and for streaming entries `queries_state_rows` and
  *    `queries_state_bytes`;
  *  - `plan_flags`, `bnlj_names`, `bnlj_unadjudicated_names` (the
  *    [[PlanAudit]] census over this run's plan dumps);
  *  - `repeats`, `sf`, `plans_dir`, `canary`, and `scale_probe` with
  *    `scale_probe_mtime_utc` (`target/scale_probe.json`, or null).
  */
object Bench {
  private val json = new ObjectMapper()

  /** Fixed constant-work probe: a 50M-row range sum (CPU + scheduling)
    * plus a small fixed parquet scan (I/O path). The work never changes
    * across rounds, so its wall-clock is a pure measure of machine load
    * at the moment it runs. Timed at bench start/middle/end and emitted
    * in the artifact — a run where the canary inflates alongside query
    * times is load-skewed, identifiable from the artifact alone.
    */
  private def canaryProbe(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    spark.range(50000000L).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "nation").selectExpr("count(*)").collect()
    seconds(t0)
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Cumulative stop-the-world GC milliseconds for this JVM — local
    * mode runs driver and executors in one JVM, so the delta across a
    * query's timed runs IS the executor GC tax that query paid.
    */
  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Block-manager storage memory in use (fractional MB) across
    * executors, read after each query's sweep: a rising series across
    * the suite means pinned blocks are accumulating.
    */
  private def storageUsedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum / (1024.0 * 1024)

  /** Absorb JVM, codegen and session warm-up outside the timed loop:
    * one batch job, one untimed canary (so the timed canaries differ
    * only by machine load), and one streaming query — the first
    * streaming query in a JVM pays ~3 s of one-time cost (state-store
    * coordinator, RocksDB JNI load, streaming codegen).
    */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    canaryProbe(spark, sfDir)
    val ss = graft.streaming.EventsStream.streamSession(spark)
    implicit val sql: org.apache.spark.sql.SQLContext = ss.sqlContext
    import ss.implicits._
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    in.addData(1L to 100L)
    graft.streaming.EventsStream.drained(
      in.toDF().selectExpr("value % 2 AS k").groupBy("k").count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("graft_bench_stream_warmup"))
    graft.streaming.EventsStream.drainStateMetrics(): Unit
  }

  /** Runs every query `repeats` times (see the object doc) and returns
    * the artifact. Each query's formatted plan as its first run's `noop`
    * write executed it (AQE's final plan), followed by every frame that
    * run logged ([[Scratch.logged]]: its barriers and notes), is
    * written to `plansDir/<name>.txt` after the run, untimed.
    */
  def run(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      repeats: Int, plansDir: java.io.File): ObjectNode = {
    plansDir.mkdirs()
    warmUp(spark, sfDir)
    val out = json.createObjectNode()
    val published = json.createObjectNode()
    val failed = json.createObjectNode()
    val runs = json.createObjectNode()
    val offsets = json.createObjectNode()
    val gcs = json.createObjectNode()
    val storage = json.createObjectNode()
    val stateRows = json.createObjectNode()
    val stateBytes = json.createObjectNode()
    val canary = json.createArrayNode()
    def stampCanary(at: String): Unit = {
      val c = canaryProbe(spark, sfDir)
      canary.add(c)
      System.err.println(f"BENCH canary[$at] $c%8.2f s")
    }
    stampCanary("start")
    val benchT0 = System.nanoTime()
    queries.zipWithIndex.foreach { case ((name, fn), idx) =>
      if (idx == queries.size / 2 && idx > 0) stampCanary("middle")
      offsets.put(name, seconds(benchT0))
      val gc0 = gcMillis()
      val times = Seq.newBuilder[Double]
      var error: Option[Throwable] = None
      var rep = 0
      while (rep < repeats && error.isEmpty) {
        SparkEntry.evictMemos(spark)
        val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
        // an earlier write's late event must not pass for this one's
        if (rep == 0) Bridge.drainListenerBus(spark.sparkContext)
        var writes: Option[NoopWrites] = None
        try {
          val t0 = System.nanoTime()
          val (_, logged) = Scratch.logged {
            val df = fn(spark, sfDir)
            if (rep == 0) writes = Some(new NoopWrites(df.sparkSession))
            df.write.format("noop").mode("overwrite").save()
          }
          times += seconds(t0)
          writes.foreach(w => writePlan(plansDir, name, w.last(), logged))
        } catch {
          case e: InterruptedException =>
            Thread.currentThread().interrupt() // and end the run
            throw e
          case NonFatal(e) => error = Some(e)
        } finally writes.foreach(_.close())
        SparkEntry.sweepLeakedBlocks(spark, persistedBefore)
        rep += 1
      }
      gcs.put(name, gcMillis() - gc0)
      storage.put(name, storageUsedMb(spark))
      val sm = graft.streaming.EventsStream.drainStateMetrics()
      if (sm.nonEmpty) {
        stateRows.put(name, sm.values.map(_._1).sum)
        stateBytes.put(name, sm.values.map(_._2).sum)
      }
      val ts = times.result()
      val samples = runs.putArray(name)
      ts.foreach(t => samples.add(t))
      error match {
        case Some(e) =>
          val cause = s"${e.getClass.getName}: ${e.getMessage}"
          failed.put(name, cause)
          System.err.println(s"BENCH FAIL $name: $cause")
        case None =>
          published.put(name, median(ts))
          System.err.println(
            f"BENCH $name%-28s ${median(ts)}%8.2f s  (median of ${ts.size})")
      }
    }
    stampCanary("end")
    val total = published.elements().asScala.map(_.asDouble).sum
    out.put("metric", "total").put("value", total).put("unit", "sec")
    out.put("n_queries", published.size)
    out.set[ObjectNode]("queries", published)
    out.set[ObjectNode]("failed", failed)
    out.set[ObjectNode]("queries_runs", runs)
    out.set[ObjectNode]("query_start_offsets_s", offsets)
    out.set[ObjectNode]("queries_gc_ms", gcs)
    out.set[ObjectNode]("queries_storage_mb", storage)
    out.set[ObjectNode]("queries_state_rows", stateRows)
    out.set[ObjectNode]("queries_state_bytes", stateBytes)
    planCensus(out, plansDir, queries.map(_._1).filter(published.has))
    out.put("repeats", repeats).put("sf", sfDir)
      .put("plans_dir", plansDir.getPath)
    out.set[JsonNode]("canary", canary)
    scaleProbe(out)
    out
  }

  /** Records the query executions of the `noop` writes on `spark` from
    * its construction until [[close]].
    */
  private final class NoopWrites(spark: SparkSession)
      extends QueryExecutionListener {
    @volatile private var latest: Option[QueryExecution] = None
    spark.listenerManager.register(this)

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = qe.analyzed match {
      case w: V2WriteCommand => w.table match {
        case r: DataSourceV2Relation if r.table.name == "noop-table" =>
          latest = Some(qe)
        case _ => ()
      }
      case _ => ()
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    /** The latest `noop` write's execution, once its event is in. */
    def last(): QueryExecution = {
      Bridge.drainListenerBus(spark.sparkContext)
      latest.getOrElse(
        throw new IllegalStateException("no noop write was reported"))
    }

    def close(): Unit = spark.listenerManager.unregister(this)
  }

  private def writePlan(plansDir: java.io.File, name: String,
      qe: QueryExecution, logged: Seq[Scratch.Logged]): Unit =
    Files.writeString(new java.io.File(plansDir, s"$name.txt").toPath,
      explain(qe) + logged.map { l =>
        // a logged frame's plan is evidence, not the query's result
        val plan = try explain(l.plan)
          catch { case NonFatal(e) => s"<explain failed: $e>" }
        section(l.label, l.ms, plan)
      }.mkString)

  private def explain(qe: QueryExecution): String =
    qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** One logged frame's section of a plan dump: the header [[PlanAudit]]
    * splits on (with a pin's wall time), then the frame's plan.
    */
  private[graft] def section(label: String, ms: Option[Double],
      plan: String): String =
    s"\n==== captured: $label${ms.fold("")(m => f" (pin $m%.0f ms)")} ====\n" +
      plan

  /** Anti-pattern census over the named queries' plan dumps:
    * CartesianProduct and single-partition exchanges are red, and
    * anything outside [[PlanAudit]]'s adjudicated shapes is named.
    */
  private def planCensus(out: ObjectNode, plansDir: java.io.File,
      names: Seq[String]): Unit = {
    val plans = names.map(n => n -> Files.readString(
      new java.io.File(plansDir, s"$n.txt").toPath))
    val bnlj = plans.collect {
      case (n, t) if t.contains("BroadcastNestedLoopJoin") => n
    }.sorted
    val violations =
      plans.flatMap { case (n, t) => PlanAudit.allViolations(n, t) }.sorted
    out.putObject("plan_flags")
      .put("plan_files", plans.size)
      .put("cartesian_files", plans.count(_._2.contains("CartesianProduct")))
      .put("single_partition_exchange_files",
        plans.count(_._2.contains("Exchange SinglePartition")))
      .put("bnlj_files", bnlj.size)
      .put("bnlj_unadjudicated", violations.count(_.contains("BNLJ(")))
      .put("plan_unadjudicated", violations.size)
    val bnljNames = out.putArray("bnlj_names")
    bnlj.foreach(n => bnljNames.add(n))
    val unadjudicated = out.putArray("bnlj_unadjudicated_names")
    violations.foreach(v => unadjudicated.add(v))
  }

  /** Embeds `target/scale_probe.json` (written by `tools.ScaleProbe`)
    * with its mtime, so a stale probe is visible as such; a missing,
    * empty or clipped file embeds as null.
    */
  private def scaleProbe(out: ObjectNode): Unit = {
    val p = Paths.get("target/scale_probe.json")
    val probe =
      try Some(json.readTree(p.toFile)).filter(n => n != null && n.isObject)
      catch { case _: java.io.IOException => None }
    out.set[JsonNode]("scale_probe", probe.orNull)
    probe match {
      case Some(_) => out.put("scale_probe_mtime_utc",
        Files.getLastModifiedTime(p).toInstant.toString)
      case None => out.putNull("scale_probe_mtime_utc")
    }
  }

  def main(args: Array[String]): Unit = {
    Scratch.redirectTmpdir() // ephemeral IO on tmpfs (see Scratch doc)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3")
      .toInt.max(1)
    // comma-separated name filter for local iteration (same shape as
    // Verify's 3rd arg); unset = the full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a filtered run writes off to target/, so a local iteration pass
    // never overwrites the committed full-suite BENCH_FULL.json
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (only.isDefined) "target/bench_subset.json" else "BENCH_FULL.json")
    val plansDir = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "target/bench-plans"))
    val spark = Sessions.builder("graft-bench", s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val queries = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val artifact = run(spark, sfDir, queries, repeats, plansDir)
    Files.writeString(Paths.get(fullPath),
      json.writeValueAsString(artifact) + "\n")
    // headline line; the per-query columns live in the full artifact
    val line = json.createObjectNode()
    Seq("metric", "value", "unit", "n_queries", "failed", "canary",
      "plan_flags").foreach(k => line.set[JsonNode](k, artifact.get(k)))
    line.put("full", fullPath)
    // quiet the logger before teardown: every localCheckpoint RDD the
    // memo eviction unpersists WARNs, and the metric line prints last
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.evictMemos(spark)
    println(json.writeValueAsString(line))
    spark.stop()
  }
}
