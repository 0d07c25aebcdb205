package graft

import graft.operators.AvroIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Avro interchange: typed round-trip fidelity through the Hadoop
  * AvroKey path (no spark-avro on the classpath), nullability unions,
  * and the fail-loud posture on unmappable types.
  */
class AvroSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def withTmp[T](body: java.io.File => T): T =
    Scratch.withDir("graft-avro")(body)

  test("typed round-trip: longs, doubles, strings, timestamps, " +
      "binary, nulls survive bit-exact") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789123")
    val df = Seq(
      (1L, Some(1.5), Some("a"), Some(ts), Some(Array[Byte](1, 2, 3))),
      (2L, None, None, None, None))
      .toDF("id", "d", "s", "t", "b")
    withTmp { tmp =>
      AvroIO.write(df, tmp.toString + "/out")
      val back = AvroIO.read(spark, tmp.toString + "/out", df.schema)
      val got = back.orderBy("id")
        .as[(Long, Option[Double], Option[String],
          Option[java.sql.Timestamp], Option[Array[Byte]])]
        .collect().toSeq
      assert(got.map(r => (r._1, r._2, r._3, r._4)) == Seq(
        (1L, Some(1.5), Some("a"), Some(ts)),
        (2L, None, None, None)))
      assert(got.head._5.get.toSeq == Seq[Byte](1, 2, 3))
      assert(got(1)._5.isEmpty)
      // µs fidelity: the .789123 fraction must not truncate to ms
      assert(got.head._4.get.getNanos == 789123000)
    }
  }

  test("events fixture round-trips through avro distributed " +
      "(multi-part, split-read)") {
    import spark.implicits._
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    withTmp { tmp =>
      AvroIO.write(ev.repartition(4), tmp.toString + "/out")
      // one container per partition: the write really was distributed
      val parts = new java.io.File(tmp, "out").listFiles()
        .count(_.getName.endsWith(".avro"))
      assert(parts == 4, s"expected 4 avro parts, got $parts")
      val back = AvroIO.read(spark, tmp.toString + "/out", ev.schema)
      assert(back.count() == ev.count())
      val a = ev.select(col("event_id"), col("ts").cast("string"),
        col("value")).as[(Long, String, Double)].collect().toSet
      val b = back.select(col("event_id"), col("ts").cast("string"),
        col("value")).as[(Long, String, Double)].collect().toSet
      assert(a == b)
    }
  }

  test("unsupported column types fail loud before writing") {
    import spark.implicits._
    val df = Seq((1L, Seq(1, 2))).toDF("id", "xs")
    val e = intercept[IllegalArgumentException] {
      AvroIO.avroSchemaJson(df.schema)
    }
    assert(e.getMessage.contains("unsupported type"))
  }
}
