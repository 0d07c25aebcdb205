package graft

import graft.operators.{JsonlExport, JsonlSource}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class JsonlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("crafted special chars round-trip through spark.read.json") {
    import spark.implicits._
    val rows = Seq(
      (1L, "plain text"),
      (2L, "quote \" backslash \\ slash /"),
      (3L, "newline\ntab\tcr\r"),
      (4L, "control  chars"),
      (5L, null: String))
    val df = rows.toDF("doc_id", "text")
    val lines = df
      .select(JsonlExport.jsonLine(df, Seq("doc_id", "text")).as("value"))
      .as[String].collect().toSeq
    assert(lines.forall(l => l.startsWith("{\"doc_id\":") && l.endsWith("}")))
    val parsed = spark.read.json(lines.toDS)
      .select(col("doc_id"), col("text"))
      .as[(Long, Option[String])].collect().toSeq.sortBy(_._1)
    assert(parsed == rows.map { case (id, t) => (id, Option(t)) })
  }

  test("fixture corpus stays inside the oracle twin's escape set") {
    // the SQL oracle escapes only \ " \n \r \t — assert the fixture
    // contains no OTHER control characters that would diverge
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val ctl = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
    assert(docs.filter(col("text").rlike(ctl) ||
      col("source").rlike(ctl)).count() == 0)
  }

  test("sharded JSONL write produces shards that reassemble losslessly") {
    import spark.implicits._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "source", "text").repartition(3)
    Scratch.withDir("graft-jsonl") { d =>
      val dir = d.toString
      JsonlExport.writeShards(docs, Seq("doc_id", "source", "text"), dir)
      val back = spark.read.json(dir)
        .select("doc_id", "source", "text")
        .as[(Long, String, String)].collect().toSet
      assert(back == docs.as[(Long, String, String)].collect().toSet)
      assert(back.nonEmpty)
    }
  }

  test("timestamps and doubles emit canonical forms") {
    import spark.implicits._
    val df = Seq((1L, 38.4, java.sql.Timestamp.valueOf("2001-05-13 07:08:09")))
      .toDF("id", "x", "ts")
    val line = df.select(JsonlExport.jsonLine(df, Seq("id", "x", "ts")))
      .as[String].collect().head
    assert(line == "{\"id\":1,\"x\":38.4,\"ts\":\"2001-05-13 07:08:09\"}")
  }

  test("JsonlSource round-trips adversarial strings and nulls exactly") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some("""quote " backslash \ done""")),
      (2L, Some("line\nbreak\ttab\rcr")),
      (3L, Some("unicode: ünïcödé 日本語 🚀")),
      (4L, Some("")),
      (5L, None),
      (6L, Some("control  chars")))
    val df = rows.toDF("id", "s")
    Scratch.withDir("graft-jsonl-rt") { d =>
      val dir = d.toString
      JsonlExport.writeShards(df, Seq("id", "s"), dir)
      val back = JsonlSource.read(spark, dir, df.schema)
        .as[(Long, Option[String])].collect().toSet
      assert(back == rows.toSet)
    }
  }

  test("JsonlSource: FAILFAST dies on a malformed line, " +
      "readWithCorrupt quarantines it") {
    import spark.implicits._
    Scratch.withDir("graft-jsonl-bad") { dir =>
      java.nio.file.Files.writeString(new java.io.File(dir, "part-0.txt").toPath,
        "{\"id\":1,\"s\":\"good\"}\nNOT JSON AT ALL\n{\"id\":3,\"s\":\"also good\"}\n")
      val schema = Seq((1L, "x")).toDF("id", "s").schema
      intercept[org.apache.spark.SparkException] {
        JsonlSource.read(spark, dir.toString, schema).collect()
      }
      val got = JsonlSource.readWithCorrupt(spark, dir.toString, schema)
        .select("id", "s", "_corrupt")
        .as[(Option[Long], Option[String], Option[String])].collect().toSet
      assert(got == Set(
        (Some(1L), Some("good"), None),
        (None, None, Some("NOT JSON AT ALL")),
        (Some(3L), Some("also good"), None)))
    }
  }
}
