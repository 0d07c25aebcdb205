package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    Scratch.redirectTmpdir() // ephemeral IO on tmpfs (see Scratch doc)
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always passes two args = full run)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder("graft-verify", s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // same leak hygiene as Bench: localCheckpoint blocks a query
      // leaves behind would otherwise pile up across the 200+-query run
      // (cross-query memoized frames exempt)
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt() // and end the run
          throw e
        case NonFatal(e) =>
          val root = org.apache.commons.lang3.exception.ExceptionUtils
            .getRootCause(e)
          System.err.println(s"[verify] $name failed: ${e.getClass.getName}" +
            s": ${e.getMessage}; root cause ${root.getClass.getName}: " +
            root.getMessage)
      }
      SparkEntry.sweepLeakedBlocks(spark, persistedBefore)
    }
    // the recall-gate oracles read the sketch outputs the queries above
    // materialized for THIS sfDir — resolve the path placeholder now so
    // the dumped SQL is directly runnable by the driver's DuckDB
    val oracle = SparkEntry.oracleSql.map { case (k, v) =>
      k -> v.replace(SparkEntry.RecallDirToken, SparkEntry.recallDumpDir(sfDir))
    }
    val json = new ObjectMapper().writeValueAsString(oracle.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // teardown hygiene: release the cross-query memoized frames'
    // pinned checkpoint blocks (see Bench — same rationale; the
    // logger is quieted first because each unpersisted
    // localCheckpoint RDD WARNs, and that flood drowned the r14
    // bench artifact's tail capture)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.evictMemos(spark)
    spark.stop()
  }
}
