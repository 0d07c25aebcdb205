package graft

import scala.collection.mutable

import graft.operators.Graph
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The scratch lifecycle, the materialization barrier and the
  * allocator's liveness sweep.
  *
  * [[Scratch.pin]] has one rule for "already pinned": a checkpoint is
  * kept as it is (and, for a lazy pin, so is a frame only marked for
  * one), while a frame over a plain RDD is pinned, eager or lazy.
  *
  * [[Scratch.landed]] hands back rows that outlive their directory and
  * [[Scratch.withDir]] deletes its directory whatever the body does.
  * The sweep is exercised through [[Scratch.scopedRoot]] — the path
  * BOTH mediums (tmpfs and the disk fallback) share: dead runs'
  * scratch is deleted, a LIVE run's scratch is never touched
  * (liveness, not mtime — a long concurrent probe must not lose its
  * replay chunks to an age cutoff), and unparseable leftovers fall
  * back to the 6 h age gate.
  */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("landed returns rows still readable after its directory is gone, " +
      "also for a lazy read of the files it wrote") {
    val dirs = mutable.Buffer.empty[java.io.File]
    val viaParquet = Scratch.landed("graft-scratch-landed") { d =>
      dirs += d
      spark.range(0, 100, 1, 3).write.parquet(s"$d/out")
      spark.read.parquet(s"$d/out")
    }
    // a frame over a plain RDD is a LogicalRDD too, but not a checkpoint
    // (AvroIO.read builds its frame this way)
    val viaRdd = Scratch.landed("graft-scratch-landed") { d =>
      dirs += d
      spark.range(0, 100, 1, 3).selectExpr("cast(id as string)")
        .write.text(s"$d/out")
      spark.createDataFrame(spark.sparkContext.textFile(s"$d/out")
          .map(l => Row(l.toLong)),
        StructType(Seq(StructField("id", LongType))))
    }
    assert(dirs.size == 2 && dirs.forall(!_.exists()),
      s"survived landed: ${dirs.filter(_.exists())}")
    Seq(viaParquet, viaRdd).foreach(back =>
      assert(back.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L)))
  }

  test("landed and withDir delete the directory when the body throws") {
    val boom = new IllegalStateException("boom")
    var landedDir: java.io.File = null
    val e1 = intercept[IllegalStateException](
      Scratch.landed("graft-scratch-throw") { d =>
        landedDir = d
        spark.range(10).write.parquet(s"$d/out")
        throw boom
      })
    assert((e1 eq boom) && landedDir.getParentFile.isDirectory)
    assert(!landedDir.exists(), s"$landedDir survived a failing landed")
    var withDir: java.io.File = null
    val e2 = intercept[IllegalStateException](
      Scratch.withDir("graft-scratch-throw") { d =>
        withDir = d
        new java.io.File(d, "sub/file").getParentFile.mkdirs()
        throw boom
      })
    assert((e2 eq boom) && !withDir.exists(),
      s"$withDir survived a failing withDir")
  }

  test("landed keeps a frame that already is a checkpoint as it is") {
    val pinned = spark.range(5).toDF().localCheckpoint()
    assert(Scratch.landed("graft-scratch-pinned")(_ => pinned) eq pinned)
    assert(Scratch.withDir("graft-scratch-value")(_.isDirectory))
  }

  /** `(src, dst)` edges over a one-partition plain RDD whose
    * computations `computed` counts.
    */
  private def countedEdges(edges: Seq[(Long, Long)]) = {
    val computed = spark.sparkContext.longAccumulator("edge computations")
    val rdd = spark.sparkContext.parallelize(edges, 1).mapPartitions { it =>
      computed.add(1L)
      it.map { case (s, d) => Row(s, d) }
    }
    val df = spark.createDataFrame(rdd, StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType))))
    (df, computed)
  }

  private val cycle = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 3L)

  /** Runs `body` and returns how many persistent RDDs it added. */
  private def addedPins(body: => Unit): Int = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    (spark.sparkContext.getPersistentRDDs.keySet -- before).size
  }

  test("pageRank over createDataFrame(rdd) edges computes the source RDD " +
      "once: a frame over a plain RDD is not pinned yet") {
    val (edges, computed) = countedEdges(cycle)
    val ranks = Graph.pageRank(edges, iters = 4)
    assert(ranks.count() == 4L)
    assert(computed.value == 1L,
      s"source RDD computed ${computed.value} times")
  }

  // the graph_modularity → labelPropagation path: each operator's lazy
  // edge pin must keep a frame the caller pinned, lazily or eagerly
  test("a lazy pin keeps a frame that is already lazily pinned; an " +
      "eager pin keeps a checkpoint, and both pin a plain-RDD frame") {
    val (plain, _) = countedEdges(cycle)
    val marked = Scratch.pin("lazy", plain, eager = false)
    assert(!(marked eq plain))
    assert(addedPins(
      assert(Scratch.pin("lazy again", marked, eager = false) eq marked)) == 0)
    val eager = Scratch.pin("eager", plain)
    assert(!(eager eq plain) && (Scratch.pin("eager again", eager) eq eager))
    assert(Scratch.pin("lazy over eager", eager, eager = false) eq eager)
  }

  // under AQE, building the RDD of a plan with an exchange materializes
  // the query stages below it, so a lazy pin is not free of jobs
  test("a lazy pin over a groupBy runs its shuffle stage when the pin is " +
      "taken; over an exchange-free frame it starts no job") {
    val grouped = spark.range(0, 1000, 1, 4)
      .selectExpr("id % 7 AS k").groupBy("k").count()
    val (_, shuffleJobs) = SparkTestSession.jobsStarted(
      Scratch.pin("lazy grouped", grouped, eager = false))
    assert(shuffleJobs >= 1)
    val narrow = spark.range(0, 1000, 1, 4).selectExpr("id * 2 AS x")
    val (_, narrowJobs) = SparkTestSession.jobsStarted(
      Scratch.pin("lazy narrow", narrow, eager = false))
    assert(narrowJobs == 0)
  }

  test("the barrier log holds what logged ran, in order, and nothing " +
      "outside it") {
    val df = spark.range(4).toDF()
    Scratch.pin("unlogged", df.filter("id > 0"))
    val (n, logged) = Scratch.logged {
      val p = Scratch.pin("first", df.filter("id > 1"))
      Scratch.note("second", df.filter("id > 2"))
      p.count()
    }
    assert(n == 2L)
    assert(logged.map(l => (l.label, l.ms.isDefined)) ==
      Seq("first" -> true, "second" -> false))
    assert(logged.head.plan.executedPlan.toString.contains("Filter"))
    assert(Scratch.logged(())._2.isEmpty)
  }

  test("a noted frame keeps the plan it ran with after its cached " +
      "input is unpersisted") {
    val cached = spark.range(8).toDF().persist()
    cached.count()
    val (_, logged) =
      Scratch.logged(Scratch.note("over a cache", cached.filter("id > 2")))
    cached.unpersist(blocking = true)
    val plan = logged.head.plan.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"), plan)
  }

  test("scopedRoot nests under graft-scratch and sweeps by liveness") {
    Scratch.withDir("graft-scratch-spec") { parent =>
      val root = Scratch.scopedRoot(parent).get
      assert(root.getName == "graft-scratch",
        "run dirs must not sit unscoped in a shared tmpdir")

      // a dead run (no such pid), a live run (our own pid), a fresh
      // unparseable leftover, and a stale unparseable leftover
      val dead = new java.io.File(root, "run-999999999")
      dead.mkdirs()
      new java.io.File(dead, "chunk.parquet").createNewFile()
      val live = new java.io.File(root,
        s"run-${ProcessHandle.current().pid()}")
      live.mkdirs()
      new java.io.File(live, "inflight").createNewFile()
      val fresh = new java.io.File(root, "legacy-layout")
      fresh.mkdirs()
      val stale = new java.io.File(root, "crashed-mkdir")
      stale.mkdirs()
      stale.setLastModified(
        System.currentTimeMillis() - 7L * 3600 * 1000)

      // second call re-sweeps the same root
      assert(Scratch.scopedRoot(parent).get == root)
      assert(!dead.exists(), "dead run's scratch must be swept")
      assert(live.exists() &&
        new java.io.File(live, "inflight").exists(),
        "a live run's scratch must never be touched")
      assert(fresh.exists(), "fresh unparseable entries survive")
      assert(!stale.exists(), "stale unparseable entries age out")
    }
  }
}
