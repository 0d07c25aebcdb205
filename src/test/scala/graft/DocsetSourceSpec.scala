package graft

import graft.operators.XmlPipe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource V2 connector for the docset format: short-name
  * registration, shard-per-partition parallelism, round-trip
  * fidelity, and column pruning pushed into the scan.
  */
class DocsetSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def withDocset[A](rows: Seq[(Long, String, String)])(
      f: String => A): A = {
    import spark.implicits._
    Scratch.withDir("graft-dsv2") { tmp =>
      val out = new java.io.File(tmp, "ds").toString
      XmlPipe.writeShardedDocsets(
        XmlPipe.formatDocs(
          rows.toDF("doc_id", "text", "note").repartition(3),
          Seq("doc_id")), out)
      f(out)
    }
  }

  private val rows = Seq(
    (1L, "a<b&c>d", "plain"),
    (2L, "already &lt;escaped&gt;", "x&y"),
    (3L, "line one\nline two", ""),
    (4L, "tail", "end"))

  test("format(\"xmlpipe2\") round-trips the export by short name, " +
      "one partition per shard") {
    import spark.implicits._
    withDocset(rows) { out =>
      val df = spark.read.format("xmlpipe2")
        .option("fields", "text,note").load(out)
      assert(df.rdd.getNumPartitions == 3, "one reader per shard file")
      val got = df.orderBy("id")
        .as[(Long, String, String)].collect().toSeq
      assert(got == rows)
    }
  }

  test("column pruning pushes into the scan: select(one field) reads " +
      "a pruned schema") {
    withDocset(rows) { out =>
      val df = spark.read.format("xmlpipe2")
        .option("fields", "text,note").load(out)
        .select("text")
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.readSchema().fieldNames.toSeq
      }
      assert(scans == Seq(Seq("text")), scans)
      assert(df.count() == rows.size)
    }
  }

  test("COUNT(*) pushes into the scan — per-shard delimiter counts, " +
      "no fragment parse; a filtered count stays row-based and exact") {
    withDocset(rows) { out =>
      def ds = spark.read.format("xmlpipe2")
        .option("fields", "text,note").load(out)
      val counted = ds.agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      val p = counted.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation: [COUNT(*)]"),
        s"count not pushed:\n$p")
      assert(counted.collect().head.getLong(0) == rows.length)
      // with a predicate the builder keeps the filter residual, so
      // Spark must NOT push the aggregate — the count stays exact
      val filtered = ds.filter(org.apache.spark.sql.functions.col("id") > 2)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val fp = filtered.queryExecution.executedPlan.toString
      assert(!fp.contains("PushedAggregation"), fp)
      assert(filtered.collect().head.getLong(0) ==
        rows.count(_._1 > 2))
    }
  }

  test("id-filter pushdown: bounds skip fragments in the reader, the " +
      "scan advertises them, and semantics stay exact") {
    import spark.implicits._
    withDocset(rows) { out =>
      def ds = spark.read.format("xmlpipe2")
        .option("fields", "text,note").load(out)
      // every representable shape, each against a plain-filter twin
      val cases = Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        _ === 2L, _ >= 3L, _ > 1L, _ <= 2L, _ < 3L, _.isin(1L, 4L, 99L))
      for (mk <- cases) {
        val got = ds.filter(mk(col("id"))).orderBy("id")
          .as[(Long, String, String)].collect().toSeq
        // twin: the same predicate over the in-memory rows, so the
        // expected set comes from Spark itself rather than a re-
        // implementation of each comparison
        val twin = rows.toDF("id", "text", "note")
          .filter(mk(col("id"))).orderBy("id")
          .as[(Long, String, String)].collect().toSeq
        assert(got == twin, s"pushdown changed semantics (got $got)")
      }
      // the executed scan advertises the bound (conjunction of range
      // + IN), and a non-id predicate is NOT claimed
      val q = ds.filter(col("id") >= 2L && col("id") < 4L &&
        col("note") =!= "x&y")
      val desc = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.description()
      }.mkString("\n")
      // the exact bound string also proves the note predicate was NOT
      // claimed (it would have to appear inside the brackets)
      assert(desc.contains("PushedIdBound: [id >= 2 AND id <= 3]"), desc)
      assert(q.orderBy("id").as[(Long, String, String)].collect().toSeq ==
        Seq((3L, "line one\nline two", "")))
    }
  }

  test("id-bound compiler: random filter conjunctions match naive " +
      "evaluation for every accepted filter") {
    import org.apache.spark.sql.sources._
    val rnd = new scala.util.Random(7)
    def randFilter(): Filter = rnd.nextInt(6) match {
      case 0 => EqualTo("id", rnd.nextInt(20).toLong)
      case 1 => GreaterThan("id", rnd.nextInt(20).toLong)
      case 2 => GreaterThanOrEqual("id", rnd.nextInt(20))
      case 3 => LessThan("id", rnd.nextInt(20).toLong)
      case 4 => LessThanOrEqual("id", rnd.nextInt(20))
      case 5 => In("id", Array.fill(1 + rnd.nextInt(4))(
        rnd.nextInt(20).toLong: Any))
    }
    def naive(f: Filter, id: Long): Boolean = f match {
      case EqualTo(_, v: Long) => id == v
      case GreaterThan(_, v: Long) => id > v
      case GreaterThanOrEqual(_, v: Int) => id >= v
      case LessThan(_, v: Long) => id < v
      case LessThanOrEqual(_, v: Int) => id <= v
      case In(_, vs) => vs.exists(_ == id)
      case _ => true
    }
    for (_ <- 1 to 300) {
      val fs = Array.fill(1 + rnd.nextInt(3))(randFilter())
      val (bound, accepted) = graft.sources.DocsetIdBound.compile(fs)
      assert(accepted.length == fs.length, "integral id filters all accept")
      for (id <- -1L to 21L) {
        val want = fs.forall(naive(_, id))
        assert(bound.matches(id) == want,
          s"id=$id bound=$bound filters=${fs.mkString(";")}")
      }
    }
  }

  test("write side: df.write.format(\"xmlpipe2\") lands well-formed " +
      "shards, overwrite truncates, and the read side round-trips it") {
    import spark.implicits._
    Scratch.withDir("graft-dsv2w") { tmp =>
      val out = new java.io.File(tmp, "ds").toString
      val docs = XmlPipe.formatDocs(
        rows.toDF("doc_id", "text", "note").repartition(2), Seq("doc_id"))
      docs.write.format("xmlpipe2").mode("overwrite").save(out)
      // every shard individually well-formed
      val shards = new java.io.File(out).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      assert(shards.length == 2)
      shards.foreach { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(text.startsWith(XmlPipe.Header) &&
          text.stripLineEnd.endsWith("</sphinx:docset>"), f.getName)
      }
      // second overwrite replaces, never appends
      docs.write.format("xmlpipe2").mode("overwrite").save(out)
      val back = spark.read.format("xmlpipe2")
        .option("fields", "text,note").load(out)
        .orderBy("id").as[(Long, String, String)].collect().toSeq
      assert(back == rows)
      // append would collide with the prior write's shard names and
      // silently replace data — rejected loudly instead
      val eAppend = intercept[Exception](
        docs.write.format("xmlpipe2").mode("append").save(out))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(eAppend).exists(_.contains("overwrite")),
        msgs(eAppend).mkString(" | "))
      // wrong input contract fails loudly at plan time
      val bad = rows.toDF("doc_id", "text", "note")
      val e = intercept[Exception](
        bad.write.format("xmlpipe2").mode("overwrite").save(out))
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("(id, doc)")),
        messages(e).mkString(" | "))
    }
  }

  test("streaming read: readStream.format(\"xmlpipe2\") ingests shards " +
      "incrementally and resumes after the name watermark on restart") {
    import spark.implicits._
    val ss = spark.newSession()
    Scratch.withDir("graft-dsv2-stream") { root =>
      val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
      val ckpt = new java.io.File(root, "ckpt"); ckpt.mkdirs()
      def landShard(rows: Seq[(Long, String)], name: String): Unit = {
        val docs = XmlPipe.formatDocs(rows.toDF("doc_id", "text"),
          Seq("doc_id"))
        val tmp = new java.io.File(srcDir, s".stage_$name")
        val fos = new java.io.FileOutputStream(tmp)
        try XmlPipe.writeDocset(docs, fos) finally fos.close()
        java.nio.file.Files.move(tmp.toPath,
          new java.io.File(srcDir, name).toPath)
      }
      val sink = new java.io.File(root, "sink"); sink.mkdirs()
      // parquet sink: the memory sink cannot recover from a checkpoint,
      // and the restart leg is the point of this test
      def start() = ss.readStream.format("xmlpipe2")
        .option("fields", "text").load(srcDir.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .format("parquet").option("path", sink.toString).start()
      def sunk(): Seq[Long] = spark.read.parquet(sink.toString)
        .select("id").as[Long].collect().toSeq.sorted
      landShard(Seq((1L, "one"), (2L, "two")), "s0001.xml")
      val q = start()
      try {
        q.processAllAvailable()
        assert(sunk() == Seq(1L, 2L))
        landShard(Seq((3L, "three")), "s0002.xml")
        q.processAllAvailable()
        assert(sunk() == Seq(1L, 2L, 3L))
      } finally q.stop()
      // restart: the checkpointed name watermark skips s0001/s0002 —
      // exactly-once across the restart, delta only
      landShard(Seq((4L, "four")), "s0003.xml")
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(sunk() == Seq(1L, 2L, 3L, 4L), s"got ${sunk()}")
      } finally q2.stop()
    }
  }

  test("a malformed fragment id reads as a data error naming the " +
      "shard file — not a bare NumberFormatException from a nameless " +
      "task") {
    withDocset(rows) { out =>
      // corrupt one shard in place: a foreign/corrupt docset whose id
      // attribute is non-numeric
      val shard = new java.io.File(out).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .sortBy(_.getName)
        .find(f => new String(java.nio.file.Files.readAllBytes(f.toPath))
          .contains("sphinx:document id=\"")).get
      val txt = new String(java.nio.file.Files.readAllBytes(shard.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val bad = txt.replaceFirst("sphinx:document id=\"\\d+\"",
        "sphinx:document id=\"oops\"")
      assert(bad != txt, "corruption did not apply")
      java.nio.file.Files.write(shard.toPath,
        bad.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val e = intercept[Exception] {
        spark.read.format("xmlpipe2")
          .option("fields", "text,note").load(out).collect()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString("\n")
      assert(chain.contains("malformed sphinx:document id"), chain)
      assert(chain.contains(shard.getName), "error does not name the file")
    }
  }

  test("missing fields read as empty strings; load without a path " +
      "fails loudly") {
    withDocset(rows) { out =>
      import spark.implicits._
      val got = spark.read.format("xmlpipe2")
        .option("fields", "text,nonexistent").load(out)
        .orderBy("id").as[(Long, String, String)].collect().toSeq
      assert(got.map(_._3).forall(_ == ""))
      assert(got.map(_._2) == rows.map(_._2))
    }
    // the missing-path error surfaces when the scan is built (action
    // time), not at load() — DSv2 resolves lazily
    val pathless = spark.read.format("xmlpipe2").option("fields", "x").load()
    val e = intercept[Exception](pathless.count())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("requires a path")),
      messages(e).mkString(" | "))
    // a path that does not exist fails naming it — through a row scan,
    // the COUNT(*) pushdown and readDocset — rather than reading as an
    // empty docset
    Scratch.withDir("graft-dsv2-missing") { root =>
      val missing = new java.io.File(root, "no-such-docset").toString
      val reads: Seq[() => Any] = Seq(
        () => spark.read.format("xmlpipe2").option("fields", "x")
          .load(missing).collect(),
        () => spark.read.format("xmlpipe2").option("fields", "x")
          .load(missing).count(),
        () => XmlPipe.readDocset(spark, missing, Seq("x")).collect())
      reads.foreach { read =>
        val m = messages(intercept[Exception](read()))
        assert(m.exists(_.contains(missing)), m.mkString(" | "))
      }
    }
  }

  test("a failed rewrite leaves the previous sharded docset " +
      "byte-identical and no shard temp behind") {
    withDocset(rows) { out =>
      def snapshot(): Seq[(String, Seq[Byte])] =
        new java.io.File(out).listFiles().toSeq.sortBy(_.getName).map(f =>
          f.getName -> (if (f.isFile) java.nio.file.Files.readAllBytes(
            f.toPath).toSeq else Seq.empty))
      val before = snapshot()
      assert(before.count(_._1.startsWith("part-")) == 3, before.map(_._1))
      // partitions 0 and 1 finish about when partition 2 fails (their
      // commits can land after the job has failed); partition 3 is still
      // writing, its temp open
      val n = 4
      val body = udf { (id: Long) =>
        if (id / 10 == 2) throw new IllegalStateException("boom in partition 2")
        if (id / 10 == 3) Thread.sleep(20)
        s"doc $id"
      }
      val failing = XmlPipe.formatDocs(spark.range(0, n * 10L, 1, n)
        .select(col("id").as("doc_id"), body(col("id")).as("text")),
        Seq("doc_id"))
      intercept[Exception](XmlPipe.writeShardedDocsets(failing, out))
      val after = snapshot()
      assert(after.map(_._1) == before.map(_._1), after.map(_._1))
      assert(after == before, "the previous generation changed")
    }
  }

  test("each shard is Header + its partition's doc values + Footer, " +
      "byte for byte, over uneven and empty partitions, and parses with " +
      "the JDK StAX reader") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sizes = Seq(0, 5, 1, 0, 9, 2)
    val data = spark.sparkContext.parallelize(sizes.indices, sizes.size)
      .mapPartitionsWithIndex { (p, _) =>
        (0 until sizes(p)).iterator.map(k =>
          Row(p * 100L + k, s"p$p <&> é漢 line\n$k"))
      }
    val docs = XmlPipe.formatDocs(spark.createDataFrame(data,
      StructType.fromDDL("doc_id BIGINT, text STRING")), Seq("doc_id"))
    val want = docs.select("doc").rdd.mapPartitionsWithIndex { (p, it) =>
      Iterator(p -> it.map(_.getString(0)).mkString)
    }.collect().toMap
    Scratch.withDir("graft-dsv2-bytes") { tmp =>
      val out = new java.io.File(tmp, "ds")
      XmlPipe.writeShardedDocsets(docs, out.toString)
      val shards = out.listFiles().map(_.getName).sorted.toSeq
      assert(shards == sizes.indices.map(p => f"part-$p%05d.xml"), shards)
      val factory = javax.xml.stream.XMLInputFactory.newDefaultFactory()
      // the sphinx: prefix is undeclared, as in the reference
      factory.setProperty(javax.xml.stream.XMLInputFactory.IS_NAMESPACE_AWARE,
        false)
      sizes.indices.foreach { p =>
        val f = new java.io.File(out, f"part-$p%05d.xml")
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        assert(bytes.sameElements((XmlPipe.Header + want(p) + XmlPipe.Footer)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)), f.getName)
        val in = new java.io.FileInputStream(f)
        try {
          val r = factory.createXMLStreamReader(in)
          var documents = 0
          while (r.hasNext) {
            if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
                r.getLocalName == "sphinx:document") documents += 1
          }
          assert(documents == sizes(p), f.getName)
        } finally in.close()
      }
    }
  }

  test("a shard several times the scanner buffer round-trips through " +
      "readDocset and COUNT(*) pushdown, multi-byte text and delimiters " +
      "straddling the buffer refills included") {
    import graft.sources.DocsetScanner
    import spark.implicits._
    // short documents: the delimiter is a third of every one, so the
    // refills cut through delimiters (checked below, not assumed)
    val rnd = new scala.util.Random(11)
    val alphabet = "ab <&>\"π漢字é\n&amp;"
    val rows = (1L to 6000L).map { i =>
      (i, (0 until rnd.nextInt(20))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    Scratch.withDir("graft-dsv2-big") { tmp =>
      val out = new java.io.File(tmp, "ds").toString
      XmlPipe.writeShardedDocsets(XmlPipe.formatDocs(
        rows.toDF("doc_id", "body").coalesce(1), Seq("doc_id")), out)
      val shard = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(shard.length == 1 &&
        shard.head.length() > 4L * DocsetScanner.BufferBytes,
        shard.map(_.length()).mkString(","))
      // replay the scanner over the shard, recording where each read
      // ended, and require a delimiter that spans one of those ends
      val readEnds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val in = new java.io.FileInputStream(shard.head) {
        private var at = 0L
        override def read(b: Array[Byte], off: Int, len: Int): Int = {
          val n = super.read(b, off, len)
          if (n > 0) { at += n; readEnds += at }
          n
        }
      }
      val scanner = new DocsetScanner(in)
      try while (scanner.advance(null)) () finally scanner.close()
      val text = new String(java.nio.file.Files.readAllBytes(shard.head.toPath),
        java.nio.charset.StandardCharsets.ISO_8859_1) // one char per byte
      val delim = "\n<sphinx:document id=\""
      val starts = Iterator.iterate(text.indexOf(delim))(
        i => text.indexOf(delim, i + 1)).takeWhile(_ >= 0).toSeq
      assert(starts.size == rows.size)
      val straddled = readEnds.count(e =>
        starts.exists(o => o < e && e < o + delim.length))
      assert(readEnds.size > 4 && straddled > 0,
        s"${readEnds.size} reads, $straddled cut through a delimiter")
      val back = XmlPipe.readDocset(spark, out, Seq("body"))
      assert(back.orderBy("id").as[(Long, String)].collect().toSeq == rows)
      val counted = back.agg(count(lit(1)))
      assert(counted.queryExecution.executedPlan.toString
        .contains("PushedAggregation: [COUNT(*)]"))
      assert(counted.collect().head.getLong(0) == rows.size)
    }
  }


  test("the fragment scanner splits exactly like the delimiter at every " +
      "buffer size, delimiters and partial matches straddling the reads") {
    import graft.sources.DocsetScanner
    val delim = "\n<sphinx:document id=\""
    val docset = XmlPipe.Header + delim + "1\"><t>π漢</t></sphinx:document>" +
      delim + "2\"><t>\n<sphinx:documen\n\n<sph</t></sphinx:document>" +
      delim + delim + "-3\"><t>é</t></sphinx:document>" +
      XmlPipe.Footer + "\n<sphinx:docum"
    val bytes = docset.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val want = docset.split(java.util.regex.Pattern.quote(delim), -1)
      .toSeq.drop(1)
    assert(want.size == 4)
    // the scanner keeps a whole delimiter's length ahead of its scan, so
    // its buffer is never shorter than one delimiter
    for (size <- delim.length to delim.length * 3) {
      def scanner() =
        new DocsetScanner(new java.io.ByteArrayInputStream(bytes), size)
      val s = scanner()
      val frags = scala.collection.mutable.ArrayBuffer.empty[String]
      var more = s.advance(null) // the header
      while (more) {
        val frag = new java.io.ByteArrayOutputStream
        more = s.advance(frag)
        frags += frag.toString(java.nio.charset.StandardCharsets.UTF_8)
      }
      assert(frags.toSeq == want, s"buffer of $size bytes")
      val c = scanner()
      var delimiters = 0
      while (c.advance(null)) delimiters += 1
      assert(delimiters == want.size, s"count with a buffer of $size bytes")
    }
  }

  test("streaming recovery: a crash between sink commit and checkpoint " +
      "commit-log write (commits/N deleted) replays the batch " +
      "exactly-once through the file sink's batchId dedup") {
    import spark.implicits._
    val ss = spark.newSession()
    Scratch.withDir("graft-dsv2-crash-src") { root =>
      val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
      val ckpt = new java.io.File(root, "ckpt"); ckpt.mkdirs()
      val sink = new java.io.File(root, "sink"); sink.mkdirs()
      def landShard(rows: Seq[(Long, String)], name: String): Unit = {
        val docs = XmlPipe.formatDocs(rows.toDF("doc_id", "text"),
          Seq("doc_id"))
        val tmp = new java.io.File(srcDir, s".stage_$name")
        val fos = new java.io.FileOutputStream(tmp)
        try XmlPipe.writeDocset(docs, fos) finally fos.close()
        java.nio.file.Files.move(tmp.toPath,
          new java.io.File(srcDir, name).toPath)
      }
      def start() = ss.readStream.format("xmlpipe2")
        .option("fields", "text").load(srcDir.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .format("parquet").option("path", sink.toString).start()
      def sunk(): Seq[Long] = spark.read.parquet(sink.toString)
        .select("id").as[Long].collect().toSeq.sorted
      landShard(Seq((1L, "one")), "s0001.xml")
      val q = start()
      try {
        q.processAllAvailable()
        landShard(Seq((2L, "two")), "s0002.xml")
        q.processAllAvailable()
        assert(sunk() == Seq(1L, 2L))
      } finally q.stop()
      // simulate the mid-batch crash: the sink committed the latest
      // batch (rows are in the parquet + its _spark_metadata log) but
      // the checkpoint's commit record never landed — delete it
      val commits = new java.io.File(ckpt, "commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      assert(commits.nonEmpty)
      // a real crash leaves neither the commit record nor its local-fs
      // checksum twin; deleting only the record would leave a stale
      // .N.crc that fails the atomic rename on replay
      assert(commits.last.delete())
      new java.io.File(commits.last.getParentFile,
        "." + commits.last.getName + ".crc").delete()
      // restart: Spark replays the uncommitted batch from offsets/N;
      // planInputPartitions re-reads the same (lo, hi] name range and
      // the parquet sink recognizes the replayed batchId — no
      // duplicates, and the stream then advances normally
      landShard(Seq((3L, "three")), "s0003.xml")
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(sunk() == Seq(1L, 2L, 3L), s"got ${sunk()}")
      } finally q2.stop()
    }
  }

  test("streaming recovery: retiring a COMMITTED shard is safe; " +
      "deleting the shard that defined an UNCOMMITTED offset fails " +
      "loud at replay instead of silently shrinking the batch") {
    import spark.implicits._
    val ss = spark.newSession()
    Scratch.withDir("graft-dsv2-del-src") { root =>
      val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
      val ckpt = new java.io.File(root, "ckpt"); ckpt.mkdirs()
      val sink = new java.io.File(root, "sink"); sink.mkdirs()
      def landShard(rows: Seq[(Long, String)], name: String): Unit = {
        val docs = XmlPipe.formatDocs(rows.toDF("doc_id", "text"),
          Seq("doc_id"))
        val tmp = new java.io.File(srcDir, s".stage_$name")
        val fos = new java.io.FileOutputStream(tmp)
        try XmlPipe.writeDocset(docs, fos) finally fos.close()
        java.nio.file.Files.move(tmp.toPath,
          new java.io.File(srcDir, name).toPath)
      }
      def start() = ss.readStream.format("xmlpipe2")
        .option("fields", "text").load(srcDir.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .format("parquet").option("path", sink.toString).start()
      def sunk(): Seq[Long] = spark.read.parquet(sink.toString)
        .select("id").as[Long].collect().toSeq.sorted
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      landShard(Seq((1L, "one")), "s0001.xml")
      val q = start()
      try { q.processAllAvailable(); assert(sunk() == Seq(1L)) }
      finally q.stop()
      // retention on a committed shard: its name is at/below the
      // checkpointed watermark, so restarts never re-plan it
      assert(new java.io.File(srcDir, "s0001.xml").delete())
      landShard(Seq((2L, "two")), "s0002.xml")
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(sunk() == Seq(1L, 2L), s"got ${sunk()}")
      } finally q2.stop()
      // now the failure edge: s0003 lands, its batch's offset is
      // written but the commit is not (mid-batch crash), and the
      // shard is deleted before the restart — replay MUST fail loud
      landShard(Seq((3L, "three")), "s0003.xml")
      val q3 = start()
      try { q3.processAllAvailable() } finally q3.stop()
      val commits = new java.io.File(ckpt, "commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      assert(commits.last.delete())
      new java.io.File(commits.last.getParentFile,
        "." + commits.last.getName + ".crc").delete()
      assert(new java.io.File(srcDir, "s0003.xml").delete())
      val q4 = start()
      val e = intercept[Exception] {
        q4.processAllAvailable()
        q4.stop()
      }
      try q4.stop() catch { case _: Throwable => () }
      assert(messages(e).exists(_.contains("deleted before its " +
        "micro-batch committed")), messages(e).mkString(" | "))
    }
  }
}
