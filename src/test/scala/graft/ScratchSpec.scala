package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The scratch lifecycle and the allocator's liveness sweep.
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
