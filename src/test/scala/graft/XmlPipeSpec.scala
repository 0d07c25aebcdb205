package graft

import java.io.{ByteArrayOutputStream, IOException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.SdbmHash
import graft.operators.XmlPipe
import org.apache.spark.SparkException
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Holds back the rows of some partitions in the sink failure tests, so
  * the jobs still in flight when the sink fails can only end by being
  * cancelled. Local mode runs tasks in the test JVM, so a static latch
  * reaches them.
  */
object SinkGate {
  @volatile var latch = new CountDownLatch(0)
  /** Opened by [[OnJobFailure]] once a sink job has failed. */
  @volatile var failed = new CountDownLatch(0)
}

/** Runs `f` when a job of one job group ends failed. */
class OnJobFailure(group: String)(f: => Unit) extends SparkListener {
  private val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
      mine.add(e.jobId): Unit
  override def onJobEnd(e: SparkListenerJobEnd): Unit = e.jobResult match {
    case _: JobFailed if mine.contains(e.jobId) => f
    case _ => ()
  }
}

/** Start/end times and partition of every job in one job group. */
class SinkJobs(group: String) extends SparkListener {
  final class Job(val start: Long) { var end = -1L; var partition = -1 }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
      jobs(e.jobId) = new Job(e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach(jobs(_).partition = e.taskInfo.partitionId)
  }

  /** The jobs seen once every event posted so far has been delivered. */
  def drain(sc: org.apache.spark.SparkContext): Seq[Job] = {
    org.apache.spark.ListenerBusDrain(sc)
    synchronized(jobs.toSeq.sortBy(_._1).map(_._2))
  }
}

/** Golden tests for F10/F11 framing (reference Query.java:147-192):
  * leading `\n` per document, undeclared `sphinx:` prefix, escaping,
  * CDATA placement for mem-markup, trailing `\n` before the close tag.
  */
class XmlPipeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def docsDf = {
    import spark.implicits._
    Seq(
      ("a<b&c>d", "s1", 7L, 5L),
      ("[[1,2],[3]]", "s2", 8L, 11L),
      ("plain", "s3", 9L, 5L)
    ).toDF("text", "source", "doc_id", "n_chars")
  }

  test("golden docset — single numeric key (F4 passthrough)") {
    val docs = XmlPipe.formatDocs(docsDf, Seq("doc_id"))
    val out = new ByteArrayOutputStream()
    XmlPipe.writeDocset(docs, out)
    val got = out.toString(StandardCharsets.UTF_8)
    val want =
      "<?xml version=\"1.0\" encoding=\"utf-8\"?><sphinx:docset>" +
        "\n<sphinx:document id=\"7\"><text>a&lt;b&amp;c&gt;d</text>" +
        "<source>s1</source><doc_id>7</doc_id><n_chars>5</n_chars></sphinx:document>" +
        "\n<sphinx:document id=\"8\"><text><![CDATA[<mem>1 2</mem><mem>3</mem>]]></text>" +
        "<source>s2</source><doc_id>8</doc_id><n_chars>11</n_chars></sphinx:document>" +
        "\n<sphinx:document id=\"9\"><text>plain</text>" +
        "<source>s3</source><doc_id>9</doc_id><n_chars>5</n_chars></sphinx:document>" +
        "\n</sphinx:docset>"
    assert(got == want)
  }

  test("composite key ids use the sdbm hash with the numeric seed (F5/F6)") {
    val docs = XmlPipe.formatDocs(docsDf, Seq("source", "doc_id"))
    val ids = docs.select("id").collect().map(_.getLong(0)).toSeq
    // seed = doc_id (first int/bigint key), joined string = rendered source
    val want = Seq(
      SdbmHash.hash(7L, "s1"), SdbmHash.hash(8L, "s2"), SdbmHash.hash(9L, "s3"))
    assert(ids == want)
  }

  test("null values render as empty elements (defined behavior vs ref NPE)") {
    import spark.implicits._
    val df = Seq((Some("x"), 1L), (None, 2L)).toDF("text", "doc_id")
    val docs = XmlPipe.formatDocs(df, Seq("doc_id")).orderBy(col("id"))
    val got = docs.select("doc").as[String].collect().toSeq
    assert(got(1).contains("<text></text>"))
  }

  test("empty input produces a valid empty docset (header + newline + close)") {
    val docs = XmlPipe.formatDocs(docsDf.filter("doc_id < 0"), Seq("doc_id"))
    val out = new ByteArrayOutputStream()
    XmlPipe.writeDocset(docs, out)
    assert(out.toString(StandardCharsets.UTF_8) ==
      "<?xml version=\"1.0\" encoding=\"utf-8\"?><sphinx:docset>\n</sphinx:docset>")
  }

  test("formatDocs rejects a column name that is not an XML name before " +
      "any job runs; XML names pass and their docset parses") {
    val base = spark.range(3).toDF("doc_id")
    Seq("sum(v)", "a b", "1x", "a:b", "x<y").foreach { bad =>
      val df = base.withColumn(bad, col("doc_id").cast("string"))
      val (e, jobs) = SparkTestSession.jobsStarted(
        intercept[IllegalArgumentException](
          XmlPipe.formatDocs(df, Seq("doc_id"))))
      assert(e.getMessage.contains(s"`$bad`"), e.getMessage)
      assert(jobs == 0, s"$bad: $jobs jobs")
    }
    val good = base.withColumn("_x", col("doc_id") * 2)
      .withColumn("\u00e9t\u00e9", lit("<&>"))
    val factory = javax.xml.stream.XMLInputFactory.newDefaultFactory()
    // the sphinx: prefix is undeclared, as in the reference
    factory.setProperty(javax.xml.stream.XMLInputFactory.IS_NAMESPACE_AWARE,
      false)
    val r = factory.createXMLStreamReader(new java.io.StringReader(
      written(XmlPipe.formatDocs(good, Seq("doc_id")))))
    val tags = mutable.Buffer.empty[String]
    while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT)
        tags += r.getLocalName
    }
    assert(tags.count(_ == "sphinx:document") == 3)
    assert(Seq("doc_id", "_x", "\u00e9t\u00e9")
      .forall(t => tags.count(_ == t) == 3), tags)
  }

  test("strictParity formatDocs: truncated ids, descriptor blobs, " +
      "Date.toString timestamps") {
    import spark.implicits._
    val df = Seq(((1L << 32) + 7L, Array[Byte](1, 2, 3),
      java.sql.Timestamp.valueOf("2024-02-29 13:05:09")))
      .toDF("k", "payload", "ts")
    val doc = XmlPipe.formatDocs(df, Seq("k"), strictParity = true)
      .select("id", "doc").as[(Long, String)].collect().head
    assert(doc._1 == 7L, "strict single-key id must truncate through getInt")
    assert(doc._2.contains(
      "<payload><![CDATA[java.nio.HeapByteBuffer[pos=0 lim=3 cap=3]]]></payload>"),
      doc._2)
    assert(doc._2.contains("<ts>Thu Feb 29 13:05:09 UTC 2024</ts>"), doc._2)
    // default mode on the same frame: full-width id, hex blob, ISO ts
    val sane = XmlPipe.formatDocs(df, Seq("k"))
      .select("id", "doc").as[(Long, String)].collect().head
    assert(sane._1 == (1L << 32) + 7L)
    assert(sane._2.contains("<payload><![CDATA[010203]]></payload>"))
    assert(sane._2.contains("<ts>2024-02-29 13:05:09</ts>"))
  }

  test("streaming docsets: every micro-batch shard is an individually " +
      "well-formed docset and no document is lost (delta-index shape)") {
    val dir = "/root/testdata/sf0.001"
    val ss = graft.streaming.EventsStream.streamSession(spark)
    val src = graft.streaming.EventsStream.source(ss, dir)
      .select(col("event_id"), col("event_type"))
    val docs = XmlPipe.formatDocs(src, Seq("event_id"))
    Scratch.withDir("graft-stream-docset") { tmp =>
      val q = XmlPipe.writeStreamingDocsets(docs, tmp.toString)
      try q.processAllAvailable() finally q.stop()
      val shards = java.nio.file.Files.walk(tmp.toPath).iterator().asScala
        .map(_.toFile)
        .filter(f => f.isFile && f.getName.startsWith("part-")).toSeq
      assert(shards.nonEmpty)
      var nDocs = 0
      shards.foreach { f =>
        val text = new String(
          java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(text.startsWith(
          "<?xml version=\"1.0\" encoding=\"utf-8\"?><sphinx:docset>"),
          f.getName)
        assert(text.stripLineEnd.endsWith("</sphinx:docset>"), f.getName)
        nDocs += "<sphinx:document id=".r.findAllIn(text).size
      }
      val want = Tables.load(spark, dir, "events").count()
      assert(nDocs == want, s"docs across shards $nDocs != events $want")
    }
  }

  test("readDocset inverts the export exactly, including entity-laden " +
      "and multi-line values") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a<b&c>d", "plain"),
      (2L, "already &lt;escaped&gt; literal", "x&y"),
      (3L, "line one\nline two", ""),
      (4L, null.asInstanceOf[String], "tail"))
    val docs = rows.toDF("doc_id", "text", "note")
    Scratch.withDir("graft-readback") { tmp =>
      val out = new java.io.File(tmp, "ds").toString
      XmlPipe.writeShardedDocsets(
        XmlPipe.formatDocs(docs, Seq("doc_id")), out)
      val back = XmlPipe.readDocset(spark, out, Seq("text", "note"))
        .orderBy("id").as[(Long, String, String)].collect().toSeq
      val want = rows.map { case (id, t, n) =>
        // nulls render as empty elements → read back as empty strings
        (id, Option(t).getOrElse(""), Option(n).getOrElse(""))
      }
      assert(back == want)
    }
  }

  test("readDocset round-trips 300 randomized values: entities, " +
      "unicode, newlines, quote/angle soup") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet =
      "ab &<>\"'&amp;&lt;\n\tπ漢字é]]></text><text>" // adversarial soup
    val rows = (1L to 300L).map { i =>
      val len = rnd.nextInt(60)
      val s = (0 until len)
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      (i, s)
    }
    Scratch.withDir("graft-fuzz-rt") { tmp =>
      val out = new java.io.File(tmp, "ds").toString
      XmlPipe.writeShardedDocsets(
        XmlPipe.formatDocs(rows.toDF("doc_id", "body"), Seq("doc_id")), out)
      val back = XmlPipe.readDocset(spark, out, Seq("body"))
        .orderBy("id").as[(Long, String)].collect().toSeq
      assert(back == rows)
    }
  }

  test("streaming docset sink is exactly-once across stop/restart: " +
      "batch ids resume from the checkpoint, no document lost or " +
      "duplicated") {
    import spark.implicits._
    val ss = graft.streaming.EventsStream.streamSession(spark)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("body", StringType)))
    Scratch.withDir("graft-docset") { root =>
      val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
      val outDir = new java.io.File(root, "out"); outDir.mkdirs()
      def docsStream = {
        val raw = ss.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet")
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
        XmlPipe.formatDocs(raw, Seq("doc_id"))
      }
      def land(rows: Seq[(Long, String)], name: String): Unit = {
        val stage = new java.io.File(srcDir, s"_stage_$name")
        rows.toDF("doc_id", "body").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(srcDir, s"$name.parquet").toPath)
        stage.listFiles().foreach(_.delete()); stage.delete()
      }
      land((1L to 5L).map(i => (i, s"first $i")), "chunk1")
      val q1 = XmlPipe.writeStreamingDocsets(docsStream, outDir.toString)
      try q1.processAllAvailable() finally q1.stop()
      // second chunk lands while the query is DOWN; restart must pick
      // it up from the checkpoint without re-emitting chunk1
      land((6L to 9L).map(i => (i, s"second $i")), "chunk2")
      val q2 = XmlPipe.writeStreamingDocsets(docsStream, outDir.toString)
      try q2.processAllAvailable() finally q2.stop()
      val ids = java.nio.file.Files.walk(outDir.toPath).iterator().asScala
        .map(_.toFile)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .flatMap { f =>
          val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.UTF_8)
          "<sphinx:document id=\"(-?\\d+)\"".r
            .findAllMatchIn(text).map(_.group(1).toLong)
        }.toSeq
      assert(ids.sorted == (1L to 9L), s"got $ids")
    }
  }

  test("sharded docsets: each shard is a complete docset") {
    Scratch.withDir("xmlshard") { d =>
      val tmp = d.toString
      val docs = XmlPipe.formatDocs(docsDf.repartition(2), Seq("doc_id"))
      XmlPipe.writeShardedDocsets(docs, tmp)
      val files = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).toSeq
      assert(files.size == 2)
      for (f <- files) {
        val content = new String(
          java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        assert(content.startsWith(XmlPipe.Header))
        assert(content.trim.endsWith("</sphinx:docset>"))
      }
    }
  }

  /** Runs `body` with its jobs in `group` and returns them as recorded. */
  private def recordingJobs[T](group: String)(body: => T): (T, Seq[SinkJobs#Job]) = {
    val sc = spark.sparkContext
    val listener = new SinkJobs(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "writeDocset under test")
      val res = try body finally sc.clearJobGroup()
      (res, listener.drain(sc))
    } finally sc.removeSparkListener(listener)
  }

  private def written(docs: DataFrame): String = {
    val out = new ByteArrayOutputStream()
    XmlPipe.writeDocset(docs, out)
    out.toString(StandardCharsets.UTF_8)
  }

  private def collected(docs: DataFrame): String =
    XmlPipe.Header + docs.select("doc").collect().map(_.getString(0)).mkString +
      XmlPipe.Footer

  test("writeDocset keeps partition order and bytes over many uneven " +
      "partitions, some empty") {
    val n = 3 * spark.sparkContext.defaultParallelism + 2
    // partition k holds ids [100k, 100k + 100); every fourth is emptied,
    // the rest keep 100, 50, 34, 25 or 20 rows
    val df = spark.range(0, 100L * n, 1, n)
      .filter((col("id") / 100).cast("long") % 4 =!= 2 &&
        col("id") % ((col("id") / 100).cast("long") % 5 + 1) === 0)
      .select(col("id").as("doc_id"),
        concat(lit("π漢字 <&> "), col("id").cast("string")).as("body"))
    val docs = XmlPipe.formatDocs(df, Seq("doc_id"))
    assert(docs.rdd.getNumPartitions == n)
    val sizes = docs.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    assert(sizes.count(_ == 0) >= 3 && sizes.filter(_ > 0).distinct.size >= 3,
      s"partition sizes $sizes")
    assert(written(docs) == collected(docs))
  }

  test("writeDocset of a globally orderBy-sorted frame over >= 8 range " +
      "partitions writes the global order") {
    val s = spark
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.shuffle.partitions", "12")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val df = s.range(0, 3000, 1, 5)
        .select(((col("id") * 7919) % 3001).as("doc_id"),
          concat(lit("v<"), col("id").cast("string")).as("body"))
      val docs = XmlPipe.formatDocs(df, Seq("doc_id")).orderBy(col("id"))
      assert(docs.select("doc").queryExecution.toRdd.getNumPartitions >= 8)
      val got = written(docs)
      assert(got == collected(docs))
      val ids = "<sphinx:document id=\"(\\d+)\"".r
        .findAllMatchIn(got).map(_.group(1).toLong).toSeq
      assert(ids.size == 3000 && ids == ids.sorted)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("writeDocset runs partition 0 alone, then at most " +
      "defaultParallelism jobs at a time, one job per partition") {
    val sc = spark.sparkContext
    val width = sc.defaultParallelism
    val n = 3 * width + 2
    val df = spark.range(0, 400L * n, 1, n)
      .select(col("id").as("doc_id"), sha2(col("id").cast("string"), 512).as("body"))
    val docs = XmlPipe.formatDocs(df, Seq("doc_id"))
    val (got, jobs) = recordingJobs("xmlpipe-shape")(written(docs))
    assert(got == collected(docs))
    assert(jobs.size == n, "one sink job per partition")
    assert(jobs.map(_.partition).sorted == (0 until n))
    val first = jobs.find(_.partition == 0).get
    jobs.filterNot(_ eq first).foreach(j => assert(first.end <= j.start,
      s"partition ${j.partition} started at ${j.start}, before partition " +
        s"0 ended at ${first.end}"))
    // at equal times an end is counted before a start
    val overlap = jobs.flatMap(j => Seq(j.start -> 1, j.end -> -1)).sorted
      .scanLeft(0)(_ + _._2).max
    assert(overlap <= width, s"$overlap sink jobs overlapped")
    assert(overlap > 1, "partitions after the first never ran concurrently")
  }

  /** `n` partitions of `per` rows each (partition k holds ids
    * [k*per, (k+1)*per)), each with a `bodyLen`-char body. Rows of
    * partitions after `gate` wait on [[SinkGate.latch]], rows of
    * partition `holdUntilFailed` on [[SinkGate.failed]]; a row of
    * partition `throwIn` throws.
    */
  private def gatedDocs(n: Int, per: Int, bodyLen: Int, gate: Int,
      throwIn: Int = -1, holdUntilFailed: Int = -1): DataFrame = {
    val body = udf { (id: Long) =>
      val part = (id / per).toInt
      if (part == throwIn)
        throw new IllegalStateException(s"boom in partition $part")
      if (part > gate && !SinkGate.latch.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException(s"partition $part held back for 30 s")
      if (part == holdUntilFailed &&
          !SinkGate.failed.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException(s"partition $part held back for 30 s")
      "x" * bodyLen
    }
    XmlPipe.formatDocs(spark.range(0, n.toLong * per, 1, n)
      .select(col("id").as("doc_id"), body(col("id")).as("body")), Seq("doc_id"))
  }

  /** Runs a failing `writeDocset`, then checks that no job it had in
    * flight is left running (they are held back by [[SinkGate]], so
    * only a cancel ends them) and returns the exception. A failed task
    * already fails the sibling jobs on the same RDD inside Spark; a
    * failing `out` leaves them to the sink's own cancel.
    */
  private def failingSink(group: String)(body: => Unit): SparkException = {
    val sc = spark.sparkContext
    SinkGate.latch = new CountDownLatch(1)
    try {
      val (err, jobs) = recordingJobs(group)(intercept[SparkException](body))
      assert(jobs.nonEmpty && jobs.forall(_.end >= 0),
        s"sink jobs left running: ${jobs.filter(_.end < 0).map(_.partition)}")
      assert(sc.statusTracker.getActiveJobIds.toSet
        .intersect(sc.statusTracker.getJobIdsForGroup(group).toSet).isEmpty)
      err
    } finally SinkGate.latch.countDown()
  }

  test("writeDocset: a failing partition cancels the jobs in flight and " +
      "names the partition; no footer") {
    val n = 3 * spark.sparkContext.defaultParallelism + 2
    val bad = n / 2
    val docs = gatedDocs(n, per = 20, bodyLen = 10, gate = bad, throwIn = bad)
    val out = new ByteArrayOutputStream()
    val err = failingSink("xmlpipe-fail-udf")(XmlPipe.writeDocset(docs, out))
    assert(err.getMessage.startsWith(s"writeDocset: partition $bad of $n failed"),
      err.getMessage)
    assert(err.getCause != null)
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(c => String.valueOf(c.getMessage)
      .contains(s"boom in partition $bad")), "the UDF's error is not in the cause chain")
    assert(!out.toString(StandardCharsets.UTF_8).endsWith(XmlPipe.Footer))
  }

  test("writeDocset names the partition whose task threw, not the " +
      "earlier partition it was awaiting when its job failed too") {
    val n = 3 * spark.sparkContext.defaultParallelism + 2
    val bad = n / 2
    // the sink awaits partition bad - 1 while partition bad throws; the
    // failing task fails every sink job on the same RDD, bad - 1's too
    val docs = gatedDocs(n, per = 20, bodyLen = 10, gate = bad,
      throwIn = bad, holdUntilFailed = bad - 1)
    val group = "xmlpipe-fail-order"
    val gate = new OnJobFailure(group)(SinkGate.failed.countDown())
    SinkGate.failed = new CountDownLatch(1)
    spark.sparkContext.addSparkListener(gate)
    try {
      val err = failingSink(group)(
        XmlPipe.writeDocset(docs, new ByteArrayOutputStream()))
      assert(err.getMessage.startsWith(
        s"writeDocset: partition $bad of $n failed"), err.getMessage)
    } finally {
      spark.sparkContext.removeSparkListener(gate)
      SinkGate.failed.countDown()
    }
  }

  test("writeDocset: an OutputStream failing mid-docset cancels the jobs " +
      "in flight and names the partition; no footer") {
    val n = 3 * spark.sparkContext.defaultParallelism + 2
    val (per, bodyLen) = (40, 2000) // every block > the 64 KiB buffer
    val bad = n / 2
    val blocks = gatedDocs(n, per, bodyLen, gate = n).select("doc").collect()
      .map(_.getString(0).getBytes(StandardCharsets.UTF_8).length.toLong)
      .grouped(per).map(_.sum).toSeq
    assert(blocks.forall(_ > (1 << 16)))
    // the header is flushed with block 0; fail halfway through block `bad`
    val limit = XmlPipe.Header.length + blocks.take(bad).sum + blocks(bad) / 2
    val closed = new IOException("indexer closed the pipe")
    val out = new ByteArrayOutputStream() {
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        if (size() + len > limit) throw closed else super.write(b, off, len)
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    }
    val docs = gatedDocs(n, per, bodyLen, gate = bad)
    val err = failingSink("xmlpipe-fail-out")(XmlPipe.writeDocset(docs, out))
    assert(err.getMessage.startsWith(s"writeDocset: partition $bad of $n failed"),
      err.getMessage)
    assert(err.getCause eq closed)
    assert(!out.toString(StandardCharsets.UTF_8).endsWith(XmlPipe.Footer))
    assert(out.size() == limit - blocks(bad) / 2)
  }

  test("writeDocsetFile is all or nothing: a failing partition leaves " +
      "neither the target nor a temp; a success lands the whole docset") {
    val n = 6
    Scratch.withDir("graft-docset-file") { d =>
      val dir = d.toPath
      val target = dir.resolve("docset.xml").toString
      val bad = gatedDocs(n, per = 20, bodyLen = 10, gate = n, throwIn = 3)
      val err = intercept[SparkException](XmlPipe.writeDocsetFile(bad, target))
      assert(err.getMessage.startsWith("writeDocset: partition 3 of 6 failed"),
        err.getMessage)
      assert(dir.toFile.list().isEmpty,
        s"left behind: ${dir.toFile.list().mkString(", ")}")
      val good = gatedDocs(n, per = 20, bodyLen = 10, gate = n)
      XmlPipe.writeDocsetFile(good, target)
      assert(dir.toFile.list().toSeq == Seq("docset.xml"))
      val want = new ByteArrayOutputStream()
      XmlPipe.writeDocset(good, want)
      assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(target))
        .sameElements(want.toByteArray))
    }
  }
}
