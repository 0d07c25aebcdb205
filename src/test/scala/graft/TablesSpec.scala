package graft

import scala.util.Try

import graft.SparkTestSession.jobsStarted
import graft.streaming.EventsStream
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.schemaOf]]: opening a table reads one parquet footer on the
  * driver instead of running Spark's one-task inference job. The schema
  * must be the one inference gives, for the fixtures and for a
  * Spark-written directory, and the three opening sites ([[Tables.load]],
  * [[EventsStream.source]], [[SparkEntry.dumpForOracle]]'s read-back)
  * must start no job.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDirs =
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  test("schemaOf is the schema Spark infers, for every fixture table") {
    for (dir <- sfDirs; name <- Tables.names) {
      val path = s"$dir/$name.parquet"
      assert(Tables.schemaOf(spark, path) == spark.read.parquet(path).schema,
        path)
    }
  }

  test("schemaOf is the schema Spark infers for a multi-part directory " +
      "with _SUCCESS and .crc files, and a partitioned one opens alike") {
    val df = spark.sql(
      """SELECT id,
        |  TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz,
        |  CAST(id * 1.25 AS DECIMAL(12,2)) AS amount,
        |  date_add(DATE'2024-01-01', CAST(id AS INT)) AS day,
        |  array(CAST(id AS INT), 2) AS ints,
        |  map('k', id) AS m,
        |  named_struct('a', id, 'b', named_struct('c', CAST(id AS STRING)))
        |    AS nested,
        |  id % 2 AS g
        |FROM range(0, 12, 1, 3)""".stripMargin)
    Scratch.withDir("graft-tables-spec") { d =>
      val flat = s"$d/flat"
      df.write.parquet(flat)
      val names = new java.io.File(flat).list().toSeq
      assert(names.count(_.endsWith(".parquet")) == 3, names)
      assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
        names)
      assert(Tables.schemaOf(spark, flat) == spark.read.parquet(flat).schema)
      val parted = s"$d/parted"
      df.write.partitionBy("g").parquet(parted)
      val opened = Tables.parquet(spark, parted)
      val inferred = spark.read.parquet(parted)
      assert(opened.schema == inferred.schema)
      assert(opened.orderBy("id").collect().toSeq ==
        inferred.orderBy("id").collect().toSeq)
    }
  }

  test("opening a table starts no Spark job: a warm Tables.load of every " +
      "fixture table, EventsStream.source and dumpForOracle's read-back") {
    for (dir <- sfDirs; name <- Tables.names) {
      Tables.load(spark, dir, name)
      val (_, jobs) = jobsStarted(Tables.load(spark, dir, name))
      assert(jobs == 0, s"$dir/$name.parquet")
    }
    val (_, sourceJobs) =
      jobsStarted(EventsStream.source(spark, sfDirs.head))
    assert(sourceJobs == 0)
    Scratch.withDir("graft-tables-dump") { d =>
      val df = spark.range(0, 50, 1, 2).selectExpr("id", "id * 3 AS x")
      val (_, writeJobs) = jobsStarted(
        df.coalesce(1).write.parquet(s"$d/plain"))
      val dumpDir = new java.io.File(SparkEntry.recallDumpDir(d.toString))
      try {
        val (back, dumpJobs) = jobsStarted(
          SparkEntry.dumpForOracle(spark, d.toString, "dump", df))
        assert(dumpJobs == writeJobs, "the read-back started a job")
        assert(back.schema.map(f => f.name -> f.dataType) ==
          df.schema.map(f => f.name -> f.dataType))
        assert(back.orderBy("id").collect().toSeq ==
          df.orderBy("id").collect().toSeq)
      } finally {
        val files = new java.io.File(dumpDir, "dump")
        Option(files.listFiles()).foreach(_.foreach(_.delete()))
        files.delete()
        dumpDir.delete()
      }
    }
  }

  test("a missing path and a directory holding only _SUCCESS fail " +
      "naming the path, before any job") {
    Scratch.withDir("graft-tables-missing") { d =>
      val only = new java.io.File(d, "only.parquet")
      assert(only.mkdir())
      assert(new java.io.File(only, "_SUCCESS").createNewFile())
      for (name <- Seq("absent", "only")) {
        val (r, jobs) = jobsStarted(Try(Tables.load(spark, d.toString, name)))
        val e = r.failed.get
        assert(e.getMessage.contains(s"$d/$name.parquet"), e.getMessage)
        assert(jobs == 0, name)
      }
    }
  }

  /** An INT64 TIMESTAMP(NANOS) `events.parquet` under `dir`, written by
    * parquet-hadoop (Spark cannot write that type).
    */
  private def writeNanos(dir: java.io.File, nanos: Seq[Long]): Unit = {
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .named("events")
    val out = HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet"), spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally w.close()
  }

  test("a TIMESTAMP(NANOS) table fails with the curated message without " +
      "nanosAsLong, and reads as micro-truncated timestamps with it") {
    val nanos = Seq(1700000000123456789L, 1700000001000000999L, 999L)
    Scratch.withDir("graft-tables-nanos") { d =>
      writeNanos(d, nanos)
      val plain = spark.newSession()
      plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      Seq[() => Any](
        () => Tables.load(plain, d.toString, "events"),
        () => EventsStream.source(plain, d.toString)).foreach { open =>
        val e = intercept[IllegalStateException](open())
        assert(e.getMessage.contains(s"$d/events.parquet has a " +
          "TIMESTAMP(NANOS) column") && e.getMessage.contains("nanosAsLong"),
          e.getMessage)
        assert(e.getCause.getMessage.contains("Illegal Parquet type"))
      }
      val events = Tables.load(spark, d.toString, "events")
      assert(events.schema("ts").dataType == TimestampType)
      val micros = events.selectExpr("event_id", "unix_micros(ts)")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
      assert(micros == nanos.zipWithIndex.map { case (ns, i) =>
        i.toLong -> ns / 1000 })
    }
  }
}
