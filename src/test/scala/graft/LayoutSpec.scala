package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("zorder2 interleaves bits exactly (hand-computed Morton codes)") {
    import spark.implicits._
    val got = Seq((3L, 5L), (0L, 0L), (65535L, 0L), (0L, 65535L),
      (65536L, 0L)) // 65536 masks to 0: only 16 bits participate
      .toDF("a", "b")
      .select(Layout.zorder2(col("a"), col("b")))
      .as[Long].collect().toSeq
    // z(3,5): a bits on even positions (0,2), b bits on odd shifted
    // (1,5) -> 0b100111 = 39
    assert(got == Seq(39L, 0L, 0x55555555L, 0xAAAAAAAAL, 0L))
  }

  test("date-partitioned lake layout: a time filter prunes whole " +
      "partitions at listing time and loses no rows") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"))
    Scratch.withDir("graft-part") { tmp =>
      val out = new java.io.File(tmp, "by_day").toString
      Layout.writeDatePartitioned(ev, "ts", out)
      // one directory per day on disk
      val dayDirs = new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      assert(dayDirs.length > 1, "expected multiple day partitions")
      val read = spark.read.parquet(out)
        .filter(col("event_date") === lit("2024-01-10").cast("date"))
      val p = read.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters"), p)
      assert(p.contains("event_date"), p)
      val expect = ev
        .filter(to_date(col("ts")) === lit("2024-01-10").cast("date"))
        .count()
      assert(read.count() == expect && expect > 0)
    }
  }

  test("zorder2 reference check against bit-by-bit interleave") {
    import spark.implicits._
    def morton(a: Long, b: Long): Long =
      (0 until 16).map { i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(200)((rnd.nextInt(65536).toLong,
      rnd.nextInt(65536).toLong))
    val got = pairs.toDF("a", "b")
      .select(Layout.zorder2(col("a"), col("b"))).as[Long].collect().toSeq
    assert(got == pairs.map { case (a, b) => morton(a, b) })
  }

  test("clusterByZ yields sorted, non-overlapping z-ranges per file") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(2000)((rnd.nextInt(150).toLong,
      rnd.nextInt(500).toLong))
    val df = rows.toDF("u", "h")
    val out = Layout.clusterByZ(df, col("u"), col("h"), numFiles = 4)
      .withColumn("z", Layout.zorder2(col("u"), col("h")))
      .withColumn("pid", spark_partition_id())
      .select("pid", "z").as[(Int, Long)].collect().toSeq
    val byPid = out.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(byPid.size == 4)
    // within each output file the z-values are sorted (tight row-group
    // stats), and the files cover disjoint z-intervals (each file is a
    // compact rectangle set in (u, h) space)
    for ((_, zs) <- byPid) assert(zs == zs.sorted)
    val ranges = byPid.toSeq.sortBy(_._2.head).map(p =>
      (p._2.min, p._2.max))
    for (Seq((_, hi), (lo2, _)) <- ranges.sliding(2))
      assert(hi <= lo2, "z-ranges overlap across files")
  }

  test("min/max manifest skip-scan prunes files and loses no rows") {
    import spark.implicits._
    Scratch.withDir("graft-skip-t") { tmp =>
      val df = (0L until 10000L).toDF("k")
        .withColumn("payload", col("k") * 7)
      df.repartitionByRange(10, col("k")).sortWithinPartitions(col("k"))
        .write.mode("overwrite").parquet(tmp.toString)
      val man = Layout.minMaxManifest(spark, tmp.toString, "k")
      val manRows = man.collect()
      assert(manRows.length == 10, "expected one manifest row per file")
      // query a range covering ~2 of the 10 files
      val hits = man.filter(col("max_v") >= 1500L && col("min_v") <= 2500L)
        .count()
      assert(hits < 10, "range should not intersect every file")
      val got = Layout.skipScan(spark, tmp.toString, man, "k", 1500L, 2500L)
      // the PRUNING proof: the planned scan holds only the surviving
      // files, not the directory's ten
      assert(got.inputFiles.length < 10 && got.inputFiles.nonEmpty)
      assert(got.count() == 1001L)
      assert(got.agg(min(col("k")), max(col("k"))).as[(Long, Long)]
        .head() == ((1500L, 2500L)))
      // empty range: no file survives, schema-only scan, zero rows
      assert(Layout.skipScan(spark, tmp.toString, man, "k",
        50000L, 60000L).count() == 0L)
    }
  }

  test("compact rewrites many small files into ceil(rows/target) " +
      "sorted files with content intact") {
    import spark.implicits._
    Scratch.withDir("graft-cmp-a") { root =>
      val in = new java.io.File(root, "in"); in.mkdirs()
      val out = new java.io.File(root, "out"); out.mkdirs()
      (0L until 5000L).toDF("k").withColumn("v", col("k") % 97)
        .repartition(32).write.mode("overwrite").parquet(in.toString)
      val stats = Layout.compact(spark, in.toString, out.toString, "k", 1000L)
        .as[(Long, Long, Long)].head()
      assert(stats == ((32L, 5L, 5000L)))
      val back = spark.read.parquet(out.toString)
      assert(back.count() == 5000L)
      assert(back.select(sum(col("v"))).as[Long].head() ==
        (0L until 5000L).map(_ % 97).sum)
      // each compacted file holds a disjoint sorted key range
      val ranges = back
        .select(col("_metadata.file_path").as("f"), col("k"))
        .groupBy(col("f")).agg(min(col("k")).as("lo"), max(col("k")).as("hi"),
          count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      for (Seq((_, hi), (lo2, _)) <- ranges.toSeq.sliding(2))
        assert(hi < lo2, "compacted files overlap in key space")
    }
  }

  test("compact fails loud when the key cannot fill the requested " +
      "file count (empty range partitions), naming the cause") {
    import spark.implicits._
    Scratch.withDir("graft-cmp-c") { root =>
      val in = new java.io.File(root, "in"); in.mkdirs()
      val out = new java.io.File(root, "out"); out.mkdirs()
      // one distinct key, 4000 rows, target 1000 → nOut=4 but the
      // RangePartitioner can only fill one partition
      Seq.fill(4000)(7L).toDF("k")
        .repartition(8).write.mode("overwrite").parquet(in.toString)
      val e = intercept[IllegalArgumentException] {
        Layout.compact(spark, in.toString, out.toString, "k", 1000L)
      }
      assert(e.getMessage.contains("distinct"), e.getMessage)
    }
  }

  test("overwritePartitionsDynamic rewrites only the partitions " +
      "present in the frame; untouched partition files survive") {
    import spark.implicits._
    Scratch.withDir("graft-dyn-spec") { dir =>
      val out = new java.io.File(dir, "t").toString
      Layout.overwritePartitionsDynamic(
        Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "p", "v"),
        "p", out)
      val bFilesBefore = new java.io.File(out, "p=b")
        .listFiles().map(f => f.getName -> f.lastModified()).toMap
      // restate ONLY p=a; static mode would wipe p=b's directory
      Layout.overwritePartitionsDynamic(
        Seq((1L, "a", 99L)).toDF("id", "p", "v"), "p", out)
      val back = spark.read.parquet(out)
        .select("id", "p", "v").orderBy("id")
        .as[(Long, String, Long)].collect().toSeq
      assert(back == Seq((1L, "a", 99L), (2L, "b", 20L)))
      val bFilesAfter = new java.io.File(out, "p=b")
        .listFiles().map(f => f.getName -> f.lastModified()).toMap
      assert(bFilesAfter == bFilesBefore,
        "untouched partition's files were rewritten")
    }
  }

  test("balancedShards: hand-traced band round-robin with rotation, " +
      "and a seeded heavy-tail corpus balances far better than " +
      "hash sharding") {
    import spark.implicits._
    // band = sz div 64; within band rank by (sz desc, id); shard =
    // (band + rk - 1) % k. Docs: sizes 10,20,70,80 with k=2 ->
    // band 0: ranks 20(1),10(2) -> shards 0,1; band 1: 80(1),70(2)
    // -> shards (1+0)%2=1,(1+1)%2=0. Totals: shard0 20+70=90,
    // shard1 10+80=90 -> perfectly balanced, skew 0/0.
    val small = Seq((1L, 10L), (2L, 20L), (3L, 70L), (4L, 80L))
      .toDF("doc_id", "n_chars")
    val got = graft.operators.Layout
      .balancedShards(small, k = 2, sizeCol = "n_chars")
      .orderBy("shard")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 2L, 90L, 0L), (1L, 2L, 90L, 0L)))
    // heavy tail: 500 docs, sizes ~ id^2 scaled — a few giants.
    // Balanced sharding must beat id-hash sharding by a wide margin.
    val rnd = new scala.util.Random(7L)
    val docs = (1L to 500L).map(i =>
      (i, 10L + (rnd.nextInt(40) match {
        case x if x < 36 => rnd.nextInt(100).toLong
        case _ => 2000L + rnd.nextInt(3000) // the 10% giant tail
      }))).toDF("doc_id", "n_chars")
    val bal = graft.operators.Layout
      .balancedShards(docs, k = 8, sizeCol = "n_chars")
      .select("skew_bp").as[Long].collect()
    val hash = docs.groupBy(expr("doc_id % 8").as("shard"))
      .agg(sum(col("n_chars")).as("ts"))
      .select("ts").as[Long].collect()
    val t = hash.sum
    val hashSkew = hash.map(s => math.abs(10000 * (8 * s - t) / t)).max
    assert(bal.map(math.abs).max < 600,
      s"balanced skew ${bal.toSeq} must stay tight")
    assert(bal.map(math.abs).max * 3 < hashSkew,
      s"balanced ${bal.map(math.abs).max} bp should be far under " +
        s"hash sharding's $hashSkew bp on a heavy-tail corpus")
  }
}
