package graft

import graft.operators.CsvIO
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class CsvSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def roundTrip(rows: Seq[(Long, Option[String])]):
      Seq[(Long, Option[String])] = {
    import spark.implicits._
    val df = rows.toDF("id", "s")
    Scratch.withDir("graft-csv") { tmp =>
      CsvIO.writeShards(df, Seq("id", "s"), tmp.toString)
      CsvIO.read(spark, tmp.toString,
        StructType(Seq(StructField("id", LongType),
          StructField("s", StringType))))
        .orderBy("id").as[(Long, Option[String])].collect().toSeq
    }
  }

  test("round-trips quotes, commas, newlines, and unicode exactly") {
    val rows = Seq(
      (1L, Some("""plain""")),
      (2L, Some("""comma, inside""")),
      (3L, Some("""quote " and "" doubled""")),
      (4L, Some("line\nbreak and\r\ncrlf")),
      (5L, Some("tabs\tand unicode ümlaut — dash")),
      (6L, Some(""""starts and ends quoted"""")))
    assert(roundTrip(rows) == rows)
  }

  test("distinguishes null from empty string") {
    val rows = Seq((1L, None: Option[String]), (2L, Some("")))
    assert(roundTrip(rows) == rows)
  }

  test("round-trips sub-second timestamps exactly") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 12:34:56.123456")
    val df = Seq((1L, ts)).toDF("id", "ts")
    Scratch.withDir("graft-csvts") { tmp =>
      CsvIO.writeShards(df, Seq("id", "ts"), tmp.toString)
      val got = CsvIO.read(spark, tmp.toString,
        StructType(Seq(StructField("id", LongType),
          StructField("ts", TimestampType))))
        .as[(Long, java.sql.Timestamp)].collect().head
      assert(got == ((1L, ts)))
    }
  }

  test("quarantine read captures malformed lines without failing") {
    import spark.implicits._
    Scratch.withDir("graft-csvq") { tmp =>
      CsvIO.writeShards(Seq((1L, "good")).toDF("id", "s").coalesce(1),
        Seq("id", "s"), tmp.toString)
      // append a shard whose id column is not a long
      java.nio.file.Files.writeString(
        new java.io.File(tmp, "part-bad.csv").toPath,
        "id,s\nnot_a_number,oops\n")
      // the operator caches the parse itself, so the natural
      // quarantine flow (filtering on _corrupt alone) just works
      val got = CsvIO.readWithCorrupt(spark, tmp.toString,
        StructType(Seq(StructField("id", LongType),
          StructField("s", StringType))))
      try {
        val bad = got.filter(col("_corrupt").isNotNull).count()
        val good = got.filter(col("_corrupt").isNull &&
          col("id") === 1L).count()
        assert(bad == 1 && good == 1)
      } finally got.unpersist()
    }
  }
}
