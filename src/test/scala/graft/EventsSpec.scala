package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.operators.Events
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  private def evts = {
    import spark.implicits._
    Seq(
      (1L, ts("2024-01-01 00:05:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 00:20:00"), 1L, "click", 2.0),
      (3L, ts("2024-01-01 01:10:00"), 1L, "view", 3.0),  // >30m gap → new session
      (4L, ts("2024-01-01 00:10:00"), 2L, "click", 4.0),
      (5L, ts("2024-01-01 09:00:00"), 2L, "view", 5.0)   // huge gap → new session
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("acfDaily: exact integer ACF of an alternating daily series — " +
      "negative at odd lags, positive at even, truncating division") {
    import spark.implicits._
    // daily counts [2,1,2,1,2,1]: y = 6x−9 = [3,−3,3,−3,3,−3], den=54
    val rows = (1 to 6).flatMap { d =>
      val day = f"2024-01-0$d 12:00:00"
      if (d % 2 == 1) Seq(ts(day), ts(day)) else Seq(ts(day))
    }.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val ev = rows.toDF("event_id", "ts")
    val got = Events.acfDaily(ev, maxLag = 3)
      .as[(Int, Long)].collect().toSeq
    // lag1: Σ=−45 → −45e6 div 54 = −833333 (trunc toward zero)
    // lag2: Σ=36 → 666666;  lag3: Σ=−27 → −500000
    assert(got == Seq((1, -833333L), (2, 666666L), (3, -500000L)))
  }

  test("streaks: gaps-and-islands collapses consecutive active days " +
      "without self-joins — exact lengths, gaps split islands") {
    import spark.implicits._
    // user 1 active on days 1,2,3 then 5 (gap splits); user 2 one day
    val rows = Seq("2024-01-01", "2024-01-02", "2024-01-03",
      "2024-01-05").map(d => (1L, ts(s"$d 09:00:00"))) ++
      Seq((2L, ts("2024-01-10 09:00:00")),
        (2L, ts("2024-01-10 18:00:00"))) // same day twice → one day
    val ev = rows.zipWithIndex
      .map { case ((u, t), i) => (i.toLong, t, u) }
      .toDF("event_id", "ts", "user_id")
    val got = Events.streaks(ev).orderBy("user_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 2L, 3L), (2L, 1L, 1L, 1L)))
  }

  test("funnelWindowed: a step landing past the window no longer " +
      "converts — the unbounded funnel would have credited it") {
    import spark.implicits._
    val rows = Seq(
      // user 1: click 25h after signup → stage stops at 1
      (1L, ts("2024-01-01 00:00:00"), 1L, "signup", 1.0),
      (2L, ts("2024-01-02 01:00:00"), 1L, "click", 1.0),
      // user 2: click 1h after signup → stage 2
      (3L, ts("2024-01-01 00:00:00"), 2L, "signup", 1.0),
      (4L, ts("2024-01-01 01:00:00"), 2L, "click", 1.0))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value")
    val got = Events.funnelWindowed(ev, maxDelayUs = 86400000000L)
      .orderBy("user_id").select(col("user_id"), col("stage"))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L)))
    // the unbounded funnel credits user 1's late click
    val unbounded = Events.funnel(ev).orderBy("user_id")
      .select(col("user_id"), col("stage"))
      .as[(Long, Long)].collect().toSeq
    assert(unbounded == Seq((1L, 2L), (2L, 2L)))
  }

  test("paretoConcentration: count-of-counts walk finds the exact " +
      "user count covering 80% of events") {
    import spark.implicits._
    // user 1: 8 events, users 2 and 3: 1 each → E=10, target=8 →
    // one user suffices (c*=8), share 3333 bp
    val rows = (Seq.fill(8)(1L) ++ Seq(2L, 3L)).zipWithIndex.map {
      case (u, i) => (i.toLong, ts("2024-01-01 10:00:00"), u)
    }
    val ev = rows.toDF("event_id", "ts", "user_id")
    val got = Events.paretoConcentration(ev)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 10L, 8L, 8L, 1L, 3333L)))
  }

  test("maxConcurrencyDaily: overlapping sessions stack, the " +
      "two-stage prefix sum matches the obvious sweep") {
    import spark.implicits._
    // day 1: user 1 session 10:00–10:10 overlaps user 2 10:05–10:15
    // → peak 2; day 2: one single-event session → peak 1
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (2L, ts("2024-01-01 10:10:00"), 1L),
      (3L, ts("2024-01-01 10:05:00"), 2L),
      (4L, ts("2024-01-01 10:15:00"), 2L),
      (5L, ts("2024-01-02 09:00:00"), 3L))
      .map { case (id, t, u) => (id, t, u, "click", 1.0) }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value")
    val got = Events.maxConcurrencyDaily(ev)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((19723L, 2L), (19724L, 1L)))
  }

  test("eventPaths: ordered per-user trigrams with deterministic " +
      "top-k tiebreak") {
    import spark.implicits._
    val ev = Seq("a", "b", "c", "d").zipWithIndex.map { case (t, i) =>
      (i.toLong, ts(s"2024-01-01 0$i:00:00"), 1L, t, 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.eventPaths(ev, k = 5)
      .as[(String, String, String, Long)].collect().toSeq
    assert(got == Seq(("a", "b", "c", 1L), ("b", "c", "d", 1L)))
  }

  test("anomaliesSeasonal: a spike is judged against its own " +
      "weekday, not the whole series") {
    import spark.implicits._
    // six Mondays at 2 events, a seventh at 30 — the spike clears 2σ
    // of the Monday population (which includes its own pull); the
    // steady Mondays do not
    val days = Seq("2024-01-01", "2024-01-08", "2024-01-15",
      "2024-01-22", "2024-01-29", "2024-02-05").map(_ -> 2) :+
      ("2024-02-12" -> 30)
    val rows = days.flatMap { case (d, n) =>
      Seq.fill(n)(ts(s"$d 09:00:00"))
    }.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = Events.anomaliesSeasonal(rows.toDF("event_id", "ts"))
      .select(col("x"), col("is_anomaly"))
      .as[(Long, Boolean)].collect().toSeq
    assert(got == Seq.fill(6)((2L, false)) :+ (30L, true))
  }

  test("positionAttribution: 40/20/40 credit over preceding touches, " +
      "exact basis points, single-touch takes all") {
    import spark.implicits._
    // user 1: click, view, click, view → purchase (4 touches:
    // 4000/1000/1000/4000); user 2: one view → purchase (10000)
    val rows = Seq(
      (1L, "click", "00:01"), (2L, "view", "00:02"),
      (3L, "click", "00:03"), (4L, "view", "00:04"),
      (5L, "purchase", "00:05")).map { case (id, ty, hm) =>
      (id, ts(s"2024-01-01 $hm:00"), 1L, ty, 1.0)
    } ++ Seq(
      (6L, ts("2024-01-02 00:01:00"), 2L, "view", 1.0),
      (7L, ts("2024-01-02 00:02:00"), 2L, "purchase", 1.0))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value")
    val got = Events.positionAttribution(ev).orderBy("channel")
      .as[(String, Long, Long)].collect().toSeq
    // click: 4000 + 1000; view: 1000 + 4000 + 10000
    assert(got == Seq(("click", 2L, 5000L), ("view", 3L, 15000L)))
  }

  test("trimmedMean drops exactly one rank per side at n=3 and " +
      "averages the middle — outlier-immune where the raw mean isn't") {
    import spark.implicits._
    val ev = Seq((1L, ts("2024-01-01 00:00:00"), 1L, "a", 1.0),
      (2L, ts("2024-01-01 01:00:00"), 1L, "a", 2.0),
      (3L, ts("2024-01-01 02:00:00"), 1L, "a", 100.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.trimmedMean(ev)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 1L, 2000000L)))
  }

  test("seasonalDow: exact basis-point index per epoch weekday " +
      "(2024-01-01 is a Monday = dow 4 with day 0 = Thursday)") {
    import spark.implicits._
    // Mondays 2024-01-01 (2 events) + 2024-01-08 (4), Tuesday
    // 2024-01-02 (6): dow4 mean 3 vs overall mean 4 → 7500 bp;
    // dow5 mean 6 → 15000 bp
    val rows = (Seq.fill(2)(ts("2024-01-01 10:00:00")) ++
      Seq.fill(4)(ts("2024-01-08 10:00:00")) ++
      Seq.fill(6)(ts("2024-01-02 10:00:00")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = Events.seasonalDow(rows.toDF("event_id", "ts"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((4L, 2L, 6L, 7500L), (5L, 1L, 6L, 15000L)))
  }

  test("cusumDaily: prefix-sum closed form equals the recursive " +
      "CUSUM — a final spike ramps the up side, the flat run before " +
      "it accumulates on the down side") {
    import spark.implicits._
    // daily counts [1,1,1,3]: z = 4x−6 = [−2,−2,−2,6], P = [−2,−4,−6,0]
    val rows = ((1 to 3).map(d => ts(f"2024-02-0$d 06:00:00")) ++
      Seq.fill(3)(ts("2024-02-04 06:00:00")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val ev = rows.toDF("event_id", "ts")
    val got = Events.cusumDaily(ev)
      .select(col("x"), col("cusum_up"), col("cusum_down"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 2L), (1L, 0L, 4L), (1L, 0L, 6L),
      (3L, 6L, 0L)))
  }

  test("sessionize splits on the inactivity gap") {
    import spark.implicits._
    val got = Events.sessionize(evts, gapMinutes = 30)
      .orderBy("user_id", "session_start")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (1L, 1L), (2L, 1L), (2L, 1L)))
  }

  test("tumbling windows aggregate per hour and type") {
    import spark.implicits._
    val got = Events.tumbling(evts, "1 hour")
      .orderBy("window_start", "event_type")
      .select(col("window_start").cast("string"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(
      ("2024-01-01 00:00:00", "click", 3L),
      ("2024-01-01 01:00:00", "view", 1L),
      ("2024-01-01 09:00:00", "view", 1L)))
  }

  test("sliding windows cover each event width/slide times") {
    import spark.implicits._
    val n = Events.sliding(evts, "1 hour", "15 minutes")
      .agg(sum("n")).as[Long].collect().head
    assert(n == 5L * 4L) // each event lands in exactly 4 sliding windows
  }

  test("anomalies: exact integer sigma test, strict at the boundary, " +
      "singleton users never flag") {
    import spark.implicits._
    // user 1: values [0,0,0,0,100] -> mean 20, population sigma 40;
    // the 100 sits at exactly 2.0 sigma
    val ev = (Seq((1L, 1L, 0.0), (2L, 1L, 0.0), (3L, 1L, 0.0),
      (4L, 1L, 0.0), (5L, 1L, 100.0), (6L, 2L, 42.0)))
      .toDF("event_id", "user_id", "value")
    def flags(tenths: Int): Map[Long, Boolean] =
      Events.anomalies(ev, sigmaTenths = tenths)
        .select("event_id", "is_anomaly")
        .as[(Long, Boolean)].collect().toMap
    val at15 = flags(15)
    assert(at15(5L) && !at15(1L) && !at15(6L)) // 2.0σ > 1.5σ; 0.5σ not
    // exactly 2.0σ fails a STRICT 2.0σ threshold (boundary exact in
    // integers, no FP wobble) and flags just below it
    assert(!flags(20)(5L))
    assert(flags(19)(5L))
  }

  test("funnel counts a step only when it follows the prior step") {
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, "signup", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      // user 2: signup only
      (2L, "signup", ts(0)),
      // user 3: purchase BEFORE the qualifying click — stage stops at 2
      (3L, "signup", ts(0)), (3L, "purchase", ts(5)), (3L, "click", ts(10)),
      // user 4: no signup — excluded from the cohort entirely
      (4L, "click", ts(0)), (4L, "purchase", ts(1)),
      // user 5: click before signup is ignored; later click counts
      (5L, "click", ts(0)), (5L, "signup", ts(5)), (5L, "click", ts(9)),
      (5L, "purchase", ts(11)))
      .toDF("user_id", "event_type", "ts")
    val got = Events.funnel(ev)
      .select(col("user_id"), col("stage")).orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (2L, 1L), (3L, 2L), (5L, 3L)))
    // user 5's qualifying click is the post-signup one
    val u5 = Events.funnel(ev).filter(col("user_id") === 5)
      .select(col("click_ts")).as[java.sql.Timestamp].collect().head
    assert(u5 == ts(9))
  }

  test("anomaliesRobust flags IQR-fence outliers; the outlier cannot " +
      "move the fence") {
    import spark.implicits._
    // 9 values in [1,9] and one wild point; Q1/Q3 sit in the bulk, so
    // the wild point is flagged and nothing else is
    val rows = (1 to 9).map(i => (i.toLong, "a", i.toDouble)) :+
      (100L, "a", 1000.0)
    val ev = rows.toDF("event_id", "event_type", "value")
    val got = graft.operators.Events.anomaliesRobust(ev)
      .select("event_id", "is_outlier")
      .as[(Long, Boolean)].collect().toMap
    assert(got(100L))
    (1 to 9).foreach(i => assert(!got(i.toLong), s"value $i flagged"))
  }

  test("stream sessions run stateful operators on the RocksDB state " +
      "store, and it actually takes effect") {
    val ss = graft.streaming.EventsStream.streamSession(spark)
    assert(ss.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    // run one stateful micro-batch and read the provider's fingerprint
    // back from the executed query's progress: RocksDB publishes its
    // own custom state metrics, the HDFS provider doesn't
    import ss.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = ss.sqlContext
    val in =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    Scratch.withDir("graft-rocksdb-probe") { ckpt =>
      val q = in.toDF().groupBy(col("value") % 3).count()
        .writeStream.outputMode("complete").format("memory")
        .option("checkpointLocation", ckpt.toString)
        .queryName("graft_rocksdb_probe").start()
      try {
        in.addData(1L to 100L)
        q.processAllAvailable()
        val metrics = q.lastProgress.stateOperators
        assert(metrics.nonEmpty)
        assert(metrics.head.customMetrics.keySet.asScala
          .exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metrics: ${metrics.head.customMetrics.keySet}")
      } finally q.stop()
    }
  }

  test("state data source reads a stopped query's aggregation state " +
      "back from the RocksDB checkpoint, equal to the batch aggregate") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val fromState = graft.streaming.EventsStream.stateInspect(spark, dir)
      .select(col("window_start").cast("string"), col("event_type"),
        col("n"))
      .as[(String, String, Long)].collect().toSet
    val batch = Events.tumbling(Tables.load(spark, dir, "events"))
      .select(col("window_start").cast("string"), col("event_type"),
        col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(fromState == batch)
    assert(batch.nonEmpty)
  }

  test("MapState/ListState type profile merges across micro-batches " +
      "and equals the batch distinct aggregate") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val fromStream = graft.streaming.EventsStream
      .typeProfileToCompletion(spark, dir)
      .as[(Long, Long, Long, String)].collect().toSet
    val batch = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(countDistinct(col("event_type")).as("n_types"),
        count(lit(1)).as("n_events"),
        array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("types_csv"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(fromStream == batch)
    assert(batch.nonEmpty)
  }

  test("streaming Misra-Gries state: exact at capacity > cardinality " +
      "(equals batch GROUP BY); at capacity 2 the decrement regime " +
      "honors the classic per-shard error guarantee") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // exact regime (the registered query's configuration)
    val exact = graft.streaming.EventsStream
      .heavyHittersToCompletion(spark, dir, capacity = 8, shards = 4)
      .as[(String, Long)].collect().toMap
    val batch = Tables.load(spark, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(exact == batch)
    // decrement regime: capacity 2 < 5 types, ONE shard so the
    // guarantee is checkable against the global batch truth. MG
    // invariants: a surviving counter never exceeds its true count,
    // undercounts by at most N/(capacity+1), and at most `capacity`
    // counters survive.
    val n = batch.values.sum
    val approx = graft.streaming.EventsStream
      .heavyHittersToCompletion(spark, dir, capacity = 2, shards = 1)
      .as[(String, Long)].collect().toMap
    assert(approx.size <= 2, s"capacity bound violated: $approx")
    approx.foreach { case (t, c) =>
      assert(c <= batch(t), s"$t overcounted: $c > ${batch(t)}")
      assert(batch(t) - c <= n / 3,
        s"$t undercounted past the N/(k+1) guarantee: $c vs ${batch(t)}")
    }
  }

  test("Trigger.AvailableNow runs as an incremental job: first run " +
      "drains the backlog and stops, second run processes only the " +
      "delta from the checkpoint") {
    import org.apache.spark.sql.types._
    val ss = graft.streaming.EventsStream.streamSession(spark)
    import ss.implicits._
    val schema = StructType(Seq(StructField("id", LongType)))
    Scratch.withDir("graft-avnow") { root =>
      val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
      val outDir = new java.io.File(root, "out"); outDir.mkdirs()
      val ckpt = new java.io.File(outDir, "_ckpt").toString
      val sink = new java.io.File(outDir, "data").toString
      def land(ids: Seq[Long], name: String): Unit = {
        val stage = new java.io.File(srcDir, s"_stage_$name")
        ids.toDF("id").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(srcDir, s"$name.parquet").toPath)
        stage.listFiles().foreach(_.delete()); stage.delete()
      }
      // one incremental invocation: drain whatever is new, then STOP on
      // its own — the nightly-batch-over-stream production pattern
      // (processAllAvailable, by contrast, is a test-harness wait on a
      // query that would otherwise keep running)
      def runOnce(): Unit = {
        val q = ss.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet").parquet(srcDir.toString)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", sink)
          .start()
        q.awaitTermination(120000)
        assert(!q.isActive, "AvailableNow query must stop by itself")
      }
      land(1L to 50L, "backlog")
      runOnce()
      val after1 = spark.read.parquet(sink).as[Long].collect().sorted
      assert(after1.toSeq == (1L to 50L))
      land(51L to 60L, "delta")
      runOnce()
      val after2 = spark.read.parquet(sink).as[Long].collect().sorted
      // only the delta was appended — nothing reprocessed, nothing lost
      assert(after2.toSeq == (1L to 60L))
    }
  }

  test("streaming twin produces the same tumbling result as batch") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = Events.tumbling(Tables.load(spark, dir, "events"))
      .select(col("window_start").cast("string"), col("event_type"), col("n"),
        col("sum_value").cast("string"))
      .as[(String, String, Long, String)].collect().toSet
    val stream = graft.streaming.EventsStream.tumblingToCompletion(spark, dir)
      .select(col("window_start").cast("string"), col("event_type"), col("n"),
        col("sum_value").cast("string"))
      .as[(String, String, Long, String)].collect().toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("append-mode tumbling twin equals batch once the sentinel " +
      "closes every window, each window emitted exactly once") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = Events.tumbling(Tables.load(spark, dir, "events"))
      .select(col("window_start").cast("string"), col("event_type"), col("n"),
        col("sum_value").cast("string"))
      .as[(String, String, Long, String)].collect().toSet
    val stream = graft.streaming.EventsStream
      .tumblingAppendToCompletion(spark, dir)
      .select(col("window_start").cast("string"), col("event_type"), col("n"),
        col("sum_value").cast("string"))
      .as[(String, String, Long, String)].collect().toSeq
    assert(stream.toSet == batch)
    assert(stream.size == stream.toSet.size, "a window emitted twice")
    assert(batch.nonEmpty)
  }

  test("streaming twin produces the same sliding result as batch") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = Events.sliding(Tables.load(spark, dir, "events"))
      .select(col("window_start").cast("string"), col("n"),
        col("sum_value").cast("string"))
      .as[(String, Long, String)].collect().toSet
    val stream = graft.streaming.EventsStream.slidingToCompletion(spark, dir)
      .select(col("window_start").cast("string"), col("n"),
        col("sum_value").cast("string"))
      .as[(String, Long, String)].collect().toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("stream-static enrichment equals the batch dimension join and " +
      "loses no events") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
    val cust = Tables.load(spark, dir, "customer")
    val nat = Tables.load(spark, dir, "nation")
    val batch = ev
      .join(cust, col("user_id") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("event_id"), col("user_id"), col("c_name"), col("n_name"))
      .as[(Long, Long, String, String)].collect().toSet
    val stream = graft.streaming.EventsStream.enrichToCompletion(spark, dir)
      .as[(Long, Long, String, String)].collect().toSet
    assert(stream == batch)
    // every event has a customer on this fixture: nothing dropped
    assert(stream.size == ev.count())
  }

  test("stream-stream attribution join equals the batch interval join") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
    val batch = c.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"))
      .as[(Long, Long)].collect().toSet
    val stream = graft.streaming.EventsStream
      .attributionToCompletion(spark, dir)
      .select(col("click_id"), col("purchase_id"))
      .as[(Long, Long)].collect().toSeq
    assert(stream.toSet == batch)
    assert(stream.size == stream.toSet.size, "pair emitted twice")
    assert(batch.nonEmpty)
  }

  test("streaming native session_window equals the batch native twin " +
      "across the micro-batch replay") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("session_end"))
      .select(col("user_id"), col("w.start").cast("string"),
        col("session_end").cast("string"), col("n_events"))
      .as[(Long, String, String, Long)].collect().toSet
    val stream = graft.streaming.EventsStream
      .sessionWindowToCompletion(spark, dir)
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"))
      .as[(Long, String, String, Long)].collect().toSeq
    assert(stream.toSet == batch)
    assert(stream.size == stream.toSet.size, "a session emitted twice")
    assert(batch.nonEmpty)
  }

  test("left-outer attribution equals the batch left join") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
    val batch = c.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"), "left")
      .select(col("click_id"), col("purchase_id"))
      .as[(Long, Option[Long])].collect().toSet
    val stream = graft.streaming.EventsStream
      .attributionOuterToCompletion(spark, dir)
      .select(col("click_id"), col("purchase_id"))
      .as[(Long, Option[Long])].collect().toSeq
    assert(stream.toSet == batch)
    assert(stream.size == stream.toSet.size, "row emitted twice")
    // the outer join must add rows over the inner one on this fixture
    assert(batch.exists(_._2.isEmpty), "fixture has no unmatched clicks")
  }

  test("full-outer attribution equals the batch full join and emits " +
      "BOTH null sides") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
    val batch = c.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"), "full")
      .select(col("click_id"), col("purchase_id"))
      .as[(Option[Long], Option[Long])].collect().toSet
    val stream = graft.streaming.EventsStream
      .attributionFullOuterToCompletion(spark, dir)
      .select(col("click_id"), col("purchase_id"))
      .as[(Option[Long], Option[Long])].collect().toSeq
    assert(stream.toSet == batch)
    assert(stream.size == stream.toSet.size, "row emitted twice")
    // the full join must contribute BOTH unmatched sides on this
    // fixture, or the purchase-side eviction path went untested
    assert(batch.exists(_._2.isEmpty), "fixture has no unmatched clicks")
    assert(batch.exists(_._1.isEmpty), "fixture has no unmatched purchases")
  }

  test("outer-attribution null rows flush only after the watermark " +
      "passes the click's eviction point") {
    import spark.implicits._
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // user 1: matched pair; user 2: click that never converts
    val ev = Seq(
      (1L, t(0), 10L, "click", 0.0),
      (1L, t(30), 11L, "purchase", 5.0),
      (2L, t(0), 20L, "click", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    Scratch.withDir("graft-attr-test") { replayDir =>
      def writeChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val stage = new java.io.File(replayDir, s"_stage_$name")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(replayDir, s"$name.parquet").toPath)
        stage.listFiles().foreach(_.delete())
        stage.delete()
      }
      val qname = "graft_attr_outer_timing_test"
      val q = graft.streaming.EventsStream.attributionJoin(
          spark.readStream.schema(ev.schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(replayDir.toString), "leftOuter")
        .writeStream.outputMode("append").format("memory").queryName(qname)
        // `_`-prefixed like the staging dirs, so the file source skips it
        .option("checkpointLocation",
          new java.io.File(replayDir, "_ckpt").toString)
        .start()
      try {
        writeChunk(ev, "chunk1")
        q.processAllAvailable()
        val before = spark.table(qname)
          .select(col("click_id"), col("purchase_id"))
          .as[(Long, Option[Long])].collect().toSet
        // matched pair emits immediately; the unmatched click must NOT —
        // its null row is gated on watermark eviction, which a single
        // batch cannot trigger (watermark = max ts - 1 h < click + 1 h)
        assert(before == Set((10L, Some(11L))))
        // far-future rows on both streams push the global watermark past
        // click_ts + 1 h; the no-data batch then evicts + emits the null
        writeChunk(Seq(
          (-1L, t(600), -1L, "click", 0.0),
          (-2L, t(600), -2L, "purchase", 0.0))
          .toDF("user_id", "ts", "event_id", "event_type", "value"), "sentinel")
        q.processAllAvailable()
        val after = spark.table(qname)
          .filter(col("user_id") > 0)
          .select(col("click_id"), col("purchase_id"))
          .as[(Long, Option[Long])].collect().toSet
        assert(after == Set((10L, Some(11L)), (20L, None)))
      } finally q.stop()
    }
  }

  test("streaming restart from checkpoint: the file sink is " +
      "exactly-once across stop/restart, no loss, no duplicates") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    Scratch.withDir("graft-restart") { root =>
      val replay = new java.io.File(root, "in"); replay.mkdirs()
      val out = new java.io.File(root, "out").toString
      val ckpt = new java.io.File(root, "ckpt").toString
      def writeChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val stage = new java.io.File(root, s"_stage_$name")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(replay, s"$name.parquet").toPath)
        stage.listFiles().foreach(_.delete()); stage.delete()
      }
      // the restarted query must resume from the CHECKPOINT, not rescan:
      // same checkpoint dir across both query instances
      def start() = spark.readStream.schema(ev.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(replay.toString)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      writeChunk(ev.filter(col("event_id") % 2 === 0), "chunk1")
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop() // "crash" after batch 1
      writeChunk(ev.filter(col("event_id") % 2 === 1), "chunk2")
      val q2 = start() // resumes from the same checkpoint
      try q2.processAllAvailable() finally q2.stop()
      // reading through _spark_metadata gives the committed-exactly-once view
      val got = spark.read.schema(ev.schema).parquet(out)
        .select("event_id").as[Long].collect().toSeq
      val want = ev.select("event_id").as[Long].collect().toSeq
      assert(got.sorted == want.sorted,
        s"lost or duplicated rows: got ${got.size}, want ${want.size}")
    }
  }

  test("streaming fingerprint dedup equals the batch distinct-content " +
      "fingerprint set") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // batch truth: fingerprint each distinct normalized content
    val batch = graft.operators.TextStats.fingerprint(
      Tables.load(spark, dir, "events")
        .select(col("event_id").as("doc_id"),
          coalesce(col("props"), lit("")).as("text")))
      .select("fp").distinct().as[Long].collect().toSet
    val stream = graft.streaming.EventsStream
      .fingerprintDedupToCompletion(spark, dir)
      .select("fingerprint").as[Long].collect().toSeq
    assert(stream.toSet == batch)
    // dedup emitted each surviving fingerprint exactly once
    assert(stream.size == stream.toSet.size)
    assert(batch.nonEmpty)
  }

  test("sessionStats: exact median interpolates even-count durations") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // user 1: two sessions of 2 min and 5 min -> median 3.5 min
    val ev = Seq(
      (1L, t(0), 1L), (1L, t(2), 2L),
      (1L, t(50), 3L), (1L, t(55), 4L)).toDF("user_id", "ts", "event_id")
    val got = Events.sessionStats(ev)
      .select("user_id", "n_sessions", "n_events", "median_dur_us",
        "max_dur_us")
      .as[(Long, Long, Long, Double, Long)].collect().head
    assert(got == ((1L, 2L, 4L, 3.5 * 60e6, 5L * 60000000L)))
  }

  test("stateless pipe: streaming quality filter equals the batch run") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.selectExpr("concat_ws('|', doc_id, n_tokens, keep, reason)")
        .as[String].collect().toSet
    val batch = rows(graft.operators.TextStats.qualityFilter(
      Tables.load(spark, dir, "documents")))
    val stream = rows(graft.streaming.StatelessPipe.toCompletion(
      spark, dir, "documents", "graft_test_stateless_quality",
      graft.operators.TextStats.qualityFilter(_)))
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("observed metrics ride the hygiene stream: kept/total counts " +
      "from the micro-batch itself, no second pass") {
    val dir = "/root/testdata/sf0.001"
    val (out, metrics) = graft.streaming.StatelessPipe
      .toCompletionObserved(spark, dir, "documents",
        "graft_test_stateless_observed",
        graft.operators.TextStats.qualityFilter(_),
        Seq(count(lit(1)).as("n_rows"),
          sum(col("keep").cast("long")).as("n_kept")))
    val batch = graft.operators.TextStats.qualityFilter(
      Tables.load(spark, dir, "documents"))
    val wantRows = batch.count()
    val wantKept = batch.filter(col("keep")).count()
    assert(out.count() == wantRows)
    val m = metrics.getOrElse(fail("no observed metrics surfaced"))
    assert(m.getAs[Long]("n_rows") == wantRows)
    assert(m.getAs[Long]("n_kept") == wantKept)
  }

  test("streaming xml twin runs alone: one query, the batch " +
      "formatter's (id, doc) rows, no bundle run for either stateless twin") {
    import graft.streaming.EventsStream
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("id"), col("doc")).collect().map(_.toString).toSeq.sorted
    val batch = rows(graft.operators.XmlPipe.formatDocs(
      Tables.load(spark, dir, "events").select("event_id", "props", "ts"),
      Seq("event_id")))
    val (stream, started) = SparkTestSession.queriesStarted(
      rows(EventsStream.xmlToCompletion(spark, dir)))
    assert(batch.nonEmpty && stream == batch)
    assert(started == 1, "the xml twin must start exactly one query")

    val quality = EventsStream.qualityFilteredToCompletion(spark, dir)
    val want = graft.operators.TextStats.qualityFilter(
      Tables.load(spark, dir, "documents"))
    assert(quality.exceptAll(want).isEmpty && want.exceptAll(quality).isEmpty)
  }

  test("re-running xml_events_stream replaces its memory-sink view; " +
      "the first frame keeps its rows") {
    val dir = "/root/testdata/sf0.001"
    val ss = graft.streaming.EventsStream.streamSession(spark)
    def tempViews: Set[String] =
      ss.catalog.listTables().collect().filter(_.isTemporary)
        .map(_.name).toSet
    val run = SparkEntry.queries("xml_events_stream")
    val first = run(spark, dir)
    val firstRows = first.collect().map(_.toString).toSeq
    val views = tempViews
    assert(views.contains("graft_events_stream_xml"))
    val second = run(spark, dir)
    assert(tempViews == views, "a re-run must not add a sink view")
    assert(first.collect().map(_.toString).toSeq == firstRows)
    assert(second.collect().map(_.toString).toSeq == firstRows)
    assert(firstRows.nonEmpty)
  }

  test("retention: cohorts anchor at first-seen week, offsets count " +
      "distinct returners, basis points truncate") {
    import spark.implicits._
    def ts(day: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-${day}%02d 12:00:00")
    // week index = epoch_us div 1 week; 2024-01-01..07 is one cohort
    // week for u1/u2, u3 first appears the following week
    val ev = Seq(
      (1L, ts(1)), (2L, ts(2)),          // cohort w0: u1, u2
      (1L, ts(10)),                      // u1 returns in w0+1
      (3L, ts(10)),                      // cohort w1: u3
      (1L, ts(17)), (3L, ts(17))         // u1 w0+2, u3 w1+1
    ).toDF("user_id", "ts")
    val got = Events.retention(ev)
      .orderBy("cohort_week", "week_offset")
      .select(col("week_offset"), col("n_users"), col("pct_bp"))
      .as[(Long, Long, Long)].collect().toSeq
    // cohort of 2: offsets 0(2 users), 1(1 user=5000bp), 2(1 user)
    // cohort of 1: offsets 0, 1 (both 1 user = 10000bp)
    assert(got == Seq((0L, 2L, 10000L), (1L, 1L, 5000L), (2L, 1L, 5000L),
      (0L, 1L, 10000L), (1L, 1L, 10000L)))
  }

  test("gapfillDaily: spine covers gap days with n=0 and carries the " +
      "last observed sum forward") {
    import spark.implicits._
    def ts(day: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-${day}%02d 06:00:00")
    val ev = Seq(
      ("click", ts(1), 1.5), ("click", ts(1), 2.5), // day d: sum 4.0
      ("click", ts(4), 7.25),                       // d+3 (2-day gap)
      ("view", ts(2), 1.0)                          // single-day type
    ).toDF("event_type", "ts", "value")
    val got = Events.gapfillDaily(ev)
      .orderBy("event_type", "day")
      .select(col("event_type"), col("n"), col("filled"))
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("click", 2L, 4.0), ("click", 0L, 4.0), ("click", 0L, 4.0),
      ("click", 1L, 7.25),
      ("view", 1L, 1.0)))
  }

  test("ewmaHourly: hand-computed truncated weights at depth 2, " +
      "leading-bucket renormalization at depth 8") {
    import spark.implicits._
    // one event per hour, values 1.0 / 3.0 / 5.0 → q = 1e4/3e4/5e4
    val ev = Seq(
      (1L, ts("2024-01-01 00:10:00"), 1L, "a", 1.0),
      (2L, ts("2024-01-01 01:10:00"), 1L, "a", 3.0),
      (3L, ts("2024-01-01 02:10:00"), 1L, "a", 5.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    // depth 2: weights (2, 1). h0: 2·1e4/2 = 1e4. h1: (2·3e4 + 1e4)/3
    // = 23333 (floor). h2: (2·5e4 + 3e4)/3 = 43333
    val d2 = Events.ewmaHourly(ev, depth = 2).orderBy("hour")
      .select(col("q"), col("ewma_q")).as[(Long, Long)].collect().toSeq
    assert(d2 == Seq((10000L, 10000L), (30000L, 23333L),
      (50000L, 43333L)))
    // depth 8: the first bucket has no history — renormalized EWMA of
    // one point is the point itself; second is (128·3e4 + 64·1e4)/192
    val d8 = Events.ewmaHourly(ev, depth = 8).orderBy("hour")
      .select(col("ewma_q")).as[Long].collect().toSeq
    assert(d8.head == 10000L)
    assert(d8(1) == (128L * 30000 + 64L * 10000) / 192)
  }

  test("transitions: per-user consecutive pairs with basis-point " +
      "probabilities") {
    import spark.implicits._
    // user 1: click→click→view; user 2: click→view. Pairs:
    // (click,click)=1, (click,view)=2 → from click: 3333/6666 bp
    val got = Events.transitions(evts)
      .orderBy("prev_type", "next_type")
      .select(col("prev_type"), col("next_type"), col("n"), col("p_bp"))
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("click", "click", 1L, 3333L),
      ("click", "view", 2L, 6666L)))
  }

  test("anomaliesMad flags by median/MAD and survives a contaminated " +
      "tail that drags the sigma test") {
    import spark.implicits._
    // nine 1.0s and one 100.0 for one user: med=1, MAD=0 → the
    // outlier (adev>0) flags, the 1.0s (adev=0) do not
    val ev = ((1 to 9).map(i =>
        (i.toLong, ts("2024-01-01 00:00:00"), 1L, "t", 1.0)) :+
      (10L, ts("2024-01-01 00:00:00"), 1L, "t", 100.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.anomaliesMad(ev).orderBy("event_id")
      .select(col("is_anomaly")).as[Boolean].collect().toSeq
    assert(got == Seq.fill(9)(false) :+ true)
  }

  test("winsorize clips to the rank-based bounds and reports " +
      "clipped rows") {
    import spark.implicits._
    // 20 values 1..20 of one type: klo = ceil(20/20) = 1 → lo = q at
    // rank 1 = min, hi = q at rank 20 = max → nothing clips; with 40
    // values klo = 2 → bounds are the 2nd/39th values
    val ev40 = (1 to 40).map(i =>
        (i.toLong, ts("2024-01-01 00:00:00"), 1L, "t", i.toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.winsorize(ev40).orderBy("event_id")
      .select(col("q_clip"), col("clipped"))
      .as[(Long, Boolean)].collect().toSeq
    assert(got.head == (20000L, true), "1 clips up to the rank-2 value")
    assert(got(1) == (20000L, false))
    assert(got(38) == (390000L, false))
    assert(got.last == (390000L, true), "40 clips down to rank 39")
    assert(got.count(_._2) == 2)
  }

  test("mannWhitneyU: hand-computed doubled U with ties, plus the " +
      "u2_a + u2_b = 2·n_a·n_b identity; other types ignored") {
    import spark.implicits._
    // clicks [1,3,3], purchases [2,3]: U_a = 2 + 2·(half-tie) = 3,
    // U_b = 2 + 1 = 3 → doubled 6/6; the view row must not count
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 00:00:00"), 1L, "click", 3.0),
      (3L, ts("2024-01-01 00:00:00"), 1L, "click", 3.0),
      (4L, ts("2024-01-01 00:00:00"), 1L, "purchase", 2.0),
      (5L, ts("2024-01-01 00:00:00"), 1L, "purchase", 3.0),
      (6L, ts("2024-01-01 00:00:00"), 1L, "view", 9.9))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.mannWhitneyU(ev)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 2L, 6L, 6L)))
    assert(got.head._3 + got.head._4 == 2 * got.head._1 * got.head._2)
  }

  test("lifeTable: censored vs churned users, at-risk reverse " +
      "cumulative, truncating product-limit survival") {
    import spark.implicits._
    // dmax = day 20, censor horizon 7 → churned iff last day < 13.
    // u1: t=20 censored; u2: t=10 churned; u3: t=2 censored.
    val ev = Seq(
      (1L, ts("2024-01-01 08:00:00"), 1L),
      (2L, ts("2024-01-21 08:00:00"), 1L),
      (3L, ts("2024-01-01 08:00:00"), 2L),
      (4L, ts("2024-01-11 08:00:00"), 2L),
      (5L, ts("2024-01-19 08:00:00"), 3L),
      (6L, ts("2024-01-21 08:00:00"), 3L))
      .toDF("event_id", "ts", "user_id")
    val got = Events.lifeTable(ev, censorDays = 7)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // (t, ended, deaths, at_risk, surv_micro): survival only drops
    // at the churn time t=10 → (1e6·(2−1)) div 2 = 500000, and the
    // censored exit at t=20 leaves it flat
    assert(got == Seq((2L, 1L, 0L, 3L, 1000000L),
      (10L, 1L, 1L, 2L, 500000L), (20L, 1L, 0L, 1L, 500000L)))
  }

  test("kendallDaily: concordant/discordant/tie census on a " +
      "hand-checkable three-day series") {
    import spark.implicits._
    // (x, y) per day: d1 (1,1), d2 (2,3), d3 (2,0) → pairs:
    // (d1,d2) concordant, (d1,d3) discordant, (d2,d3) x-tie
    def rows(day: String, typ: String, n: Int, base: Long) =
      (0 until n).map(i =>
        (base + i, ts(s"$day 10:00:00"), 1L, typ, 1.0))
    val ev = (rows("2024-01-01", "click", 1, 10) ++
      rows("2024-01-01", "purchase", 1, 20) ++
      rows("2024-01-02", "click", 2, 30) ++
      rows("2024-01-02", "purchase", 3, 40) ++
      rows("2024-01-03", "click", 2, 50) ++
      rows("2024-01-03", "view", 1, 60))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.kendallDaily(ev)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got ==
      Seq((3L, 3L, 1L, 1L, 1L, 0L, 0L, 0L)))
  }

  test("theilSenDaily: median pairwise slope floors negative " +
      "non-exact quotients (engine-agnostic floor division)") {
    import spark.implicits._
    // daily totals day0=4, day1=1, day3=3 → slopes −3000000,
    // floor(−1e6/3) = −333334 (NOT −333333), +1000000 → median
    // −333334, doubled −666668
    def rows(day: String, n: Int, base: Long) =
      (0 until n).map(i => (base + i, ts(s"$day 10:00:00")))
    val ev = (rows("2024-01-01", 4, 10) ++ rows("2024-01-02", 1, 20) ++
      rows("2024-01-04", 3, 30)).toDF("event_id", "ts")
    val got = Events.theilSenDaily(ev)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 3L, -666668L)))
  }

  test("ksTest: hand-computed max CDF gap — clicks [1,2] vs " +
      "purchases [2,3] gives D = 1/2") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 00:00:00"), 1L, "click", 2.0),
      (3L, ts("2024-01-01 00:00:00"), 1L, "purchase", 2.0),
      (4L, ts("2024-01-01 00:00:00"), 1L, "purchase", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.ksTest(ev).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 2L, 500000L)))
  }

  test("giniUserActivity: counts [1,1,2] give Gini 1/6 via the " +
      "count-of-counts grain") {
    import spark.implicits._
    val ev = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 3L))
      .map { case (e, u) => (e, ts("2024-01-01 00:00:00"), u) }
      .toDF("event_id", "ts", "user_id")
    val got = Events.giniUserActivity(ev)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 4L, 166666L)))
  }

  test("chiSquareDow: 2×2 contingency with every cell term 1/2 — " +
      "exact micro chi-square, arithmetic weekday") {
    import spark.implicits._
    // 2024-01-01 = epoch day 19723 → dw 4; 01-02 → dw 5. t1: 3 on
    // dw4 + 1 on dw5; t2 mirrored → every χ² cell (o·N−r·c)²/(N·r·c)
    // = 64/128 = 0.5, expected count 2 (milli 2000)
    def rows(day: String, typ: String, n: Int, base: Long) =
      (0 until n).map(i => (base + i, ts(s"$day 10:00:00"), 1L, typ, 1.0))
    val ev = (rows("2024-01-01", "t1", 3, 10) ++
      rows("2024-01-02", "t1", 1, 20) ++
      rows("2024-01-01", "t2", 1, 30) ++
      rows("2024-01-02", "t2", 3, 40))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.chiSquareDow(ev)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("t1", 4L, 3L, 2000L, 500000L), ("t1", 5L, 1L, 2000L, 500000L),
      ("t2", 4L, 1L, 2000L, 500000L), ("t2", 5L, 3L, 2000L, 500000L)))
  }

  test("holtDaily: hand-unrolled level/trend recurrence over a " +
      "gapfilled series (the gap day counts 0 and pulls trend " +
      "negative)") {
    import spark.implicits._
    // daily y = [1, 2, 0(gap), 3] from 2024-01-01 (epoch day 19723)
    def rows(day: String, n: Int, base: Long) =
      (0 until n).map(i => (base + i, ts(s"$day 10:00:00")))
    val ev = (rows("2024-01-01", 1, 10) ++ rows("2024-01-02", 2, 20) ++
      rows("2024-01-04", 3, 30)).toDF("event_id", "ts")
    val got = Events.holtDaily(ev)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (19723L, 1L, 1000000L, 0L), (19724L, 2L, 1200000L, 20000L),
      (19725L, 0L, 976000L, -4400L), (19726L, 3L, 1377280L, 36168L)))
  }

  test("decomposeDaily: a linear daily series is pure trend — " +
      "centered MA reproduces it, seasonal and residual vanish") {
    import spark.implicits._
    // y_i = i over 14 days: Σ_{i−3..i+3} = 7i → trend_milli = 1000i,
    // detrended 0 everywhere → all weekday means and residuals 0
    val ev = (1 to 14).flatMap { i =>
      (0 until i).map(j =>
        ((i * 100 + j).toLong, ts(f"2024-01-$i%02d 10:00:00")))
    }.toDF("event_id", "ts")
    val got = Events.decomposeDaily(ev)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 8, "full 7-day windows only: days 4..11")
    assert(got == (4 to 11).map(i =>
      (19722L + i, i.toLong, 1000L * i, 0L, 0L, 0L)))
    // zero detrended variation → strength shares are NULL (undefined),
    // not zero-seasonal — the divide-by-zero guard
    val strength = Events.decomposeStrength(ev)
      .as[(Long, Option[Long], Option[Long])].collect().toSeq
    assert(strength == Seq((8L, None, None)))
  }

  test("changepointDaily: the level shift [1,1,1,5,5] is found at " +
      "the exact boundary with the hand-computed contrast") {
    import spark.implicits._
    def rows(day: String, n: Int, base: Long) =
      (0 until n).map(i => (base + i, ts(s"$day 10:00:00")))
    val ev = (rows("2024-01-01", 1, 100) ++ rows("2024-01-02", 1, 200) ++
      rows("2024-01-03", 1, 300) ++ rows("2024-01-04", 5, 400) ++
      rows("2024-01-05", 5, 500)).toDF("event_id", "ts")
    val got = Events.changepointDaily(ev)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // split after day 3: |3·2 − 10·3| = 24 beats 8/16/12
    assert(got == Seq((19725L, 3L, 2L, 3L, 10L, 24L)))
  }

  test("rfmSegments: four users on a clean staircase land in the " +
      "four diagonal segments (recency ascending, f/m ascending)") {
    import spark.implicits._
    val ev = (1 to 4).flatMap { u =>
      (0 until u).map(j => ((u * 10 + j).toLong,
        ts(f"2024-01-0$u 10:00:00"), u.toLong, "t", u.toDouble))
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.rfmSegments(ev)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // user 4 is most recent AND most active AND highest spend:
    // (r_q 1, f_q 4, m_q 4); user 1 the mirror (4, 1, 1)
    assert(got == Seq((1L, 4L, 4L, 1L), (2L, 3L, 3L, 1L),
      (3L, 2L, 2L, 1L), (4L, 1L, 1L, 1L)))
  }

  test("funnelLatency: first-purchase-after-first-signup delays, " +
      "pre-signup purchases excluded, exact quartile order stats") {
    import spark.implicits._
    // u1 converts in 30 s (0 min), u2's 09:00 purchase is BEFORE the
    // signup (excluded) and the 11:00 one counts (60 min), u3 150 min,
    // u4 has no signup → delays [0, 60, 150]
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "signup", 1.0),
      (2L, ts("2024-01-01 10:00:30"), 1L, "purchase", 1.0),
      (3L, ts("2024-01-01 10:00:00"), 2L, "signup", 1.0),
      (4L, ts("2024-01-01 09:00:00"), 2L, "purchase", 1.0),
      (5L, ts("2024-01-01 11:00:00"), 2L, "purchase", 1.0),
      (6L, ts("2024-01-01 10:00:00"), 3L, "signup", 1.0),
      (7L, ts("2024-01-01 12:30:00"), 3L, "purchase", 1.0),
      (8L, ts("2024-01-01 10:00:00"), 4L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.funnelLatency(ev)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 0L, 60L, 150L)))
    // same delay frame, CDF view: delays [0, 60, 150] min → 2 of 3
    // inside the 1h horizon, all inside 6h+
    val curve = Events.conversionCurve(ev)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(curve == Seq((60L, 3L, 2L, 6666L), (360L, 3L, 3L, 10000L),
      (1440L, 3L, 3L, 10000L), (4320L, 3L, 3L, 10000L)))
  }

  test("srmCheck: 3-vs-2 parity arms give chi-square 1/5, under the " +
      "critical value") {
    import spark.implicits._
    val ev = Seq(1L, 2L, 3L, 4L, 6L).zipWithIndex
      .map { case (u, i) => (i.toLong, ts("2024-01-01 10:00:00"), u) }
      .toDF("event_id", "ts", "user_id")
    val got = Events.srmCheck(ev)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq((3L, 2L, 200000L, false)))
  }

  test("activityCoverage: overlapping 5-minute windows merge into " +
      "islands; covered time is the union, not count·5min") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (2L, ts("2024-01-01 10:02:00"), 1L), // overlaps → same island
      (3L, ts("2024-01-01 10:20:00"), 1L), // gap > 5m → new island
      (4L, ts("2024-01-01 09:00:00"), 2L))
      .toDF("event_id", "ts", "user_id")
    val got = Events.activityCoverage(ev)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // u1: [10:00,10:07] = 420 s + [10:20,10:25] = 300 s → 720 s
    assert(got == Seq((1L, 3L, 2L, 720L), (2L, 1L, 1L, 300L)))
  }

  test("patternMatch: v+cp counts non-overlapping greedy matches in " +
      "the time-ordered initial string; a click with no view is none") {
    import spark.implicits._
    val seq1 = Seq("view", "view", "click", "purchase", "view",
      "click", "purchase")
    val ev = (seq1.zipWithIndex.map { case (t, i) =>
      ((10 + i).toLong, ts(s"2024-01-01 10:0$i:00"), 1L, t, 1.0) } ++
      Seq((20L, ts("2024-01-01 10:00:00"), 2L, "click", 1.0),
        (21L, ts("2024-01-01 10:01:00"), 2L, "purchase", 1.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.patternMatch(ev)
      .as[(Long, Long, Long)].collect().toSeq
    // u1 = "vvcpvcp" → 2 matches; u2 = "cp" → 0
    assert(got == Seq((1L, 7L, 2L), (2L, 2L, 0L)))
  }

  test("holtForecastEval: hand-summed one-step errors on the holt " +
      "fixture — the smoother beats naive persistence here") {
    import spark.implicits._
    def rows(day: String, n: Int, base: Long) =
      (0 until n).map(i => (base + i, ts(s"$day 10:00:00")))
    val ev = (rows("2024-01-01", 1, 10) ++ rows("2024-01-02", 2, 20) ++
      rows("2024-01-04", 3, 30)).toDF("event_id", "ts")
    val got = Events.holtForecastEval(ev)
      .as[(Long, Long, Long)].collect().toSeq
    // holt: |2e6−1e6| + |0−1.22e6| + |3e6−971600| = 4248400
    // naive: 1e6 + 2e6 + 3e6 = 6e6
    assert(got == Seq((3L, 4248400L, 6000000L)))
    assert(got.head._2 < got.head._3)
  }

  test("burstRate: trailing-60s RANGE frame counts the burst exactly; " +
      "tied timestamps see each other") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (2L, ts("2024-01-01 10:00:30"), 1L),
      (3L, ts("2024-01-01 10:00:50"), 1L),
      (4L, ts("2024-01-01 10:02:00"), 1L),
      (5L, ts("2024-01-01 09:00:00"), 2L),
      (6L, ts("2024-01-01 09:00:00"), 2L)) // tie: both count 2
      .toDF("event_id", "ts", "user_id")
    val got = Events.burstRate(ev)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 3L), (2L, 2L, 2L)))
  }

  test("sequenceGaps: in-span missing ids surface; duplicates do not " +
      "mask holes (distinct count, not row count)") {
    import spark.implicits._
    val ev = (Seq(1L, 2L, 3L, 7L).map(i =>
        (i, ts("2024-01-01 10:00:00"))) ++
      Seq(10L, 11L, 11L).map(i => (i, ts("2024-01-02 10:00:00"))))
      .toDF("event_id", "ts")
    val got = graft.operators.Profile.sequenceGaps(ev, "event_id",
        expr("unix_micros(ts) div 86400000000"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((19723L, 4L, 1L, 7L, 3L),
      (19724L, 2L, 10L, 11L, 0L)))
  }

  test("botScore: a hammering single-type user flags; a slow varied " +
      "user does not") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val events = (
      // user 1: 6 clicks inside 10 seconds -> burst 6, one type
      (1 to 6).map(i => (1L, "click", ts(i.toLong))) ++
      // user 2: 4 events spread over hours, 3 types
      Seq((2L, "view", ts(0)), (2L, "click", ts(3600)),
        (2L, "purchase", ts(7200)), (2L, "view", ts(10800)))
    ).toDF("user_id", "event_type", "ts")
    val r = Events.botScore(events).collect()
      .map(x => x.getAs[Long]("user_id") -> x).toMap
    assert(r(1L).getAs[Boolean]("is_bot"))
    assert(r(1L).getAs[Long]("max_burst") == 6)
    assert(r(1L).getAs[Long]("min_gap_s") == 1)
    assert(!r(2L).getAs[Boolean]("is_bot"))
    assert(r(2L).getAs[Long]("n_types") == 3)
  }

  test("dailyVolumeBands: quartiles of a known daily series") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(day: Int, i: Int) =
      new java.sql.Timestamp(base.getTime + day * 86400000L + i * 1000L)
    // 4 days with 1, 2, 3, 4 events: p25=1 (cum4>=4 at 1), p50=2, p75=3
    val events = (0 until 4).flatMap(d =>
      (0 to d).map(i => ("click", ts(d, i)))).toDF("event_type", "ts")
    val r = Events.dailyVolumeBands(events).head()
    assert(r.getAs[Long]("n_days") == 4 && r.getAs[Long]("min_day") == 1 &&
      r.getAs[Long]("p25_day") == 1 && r.getAs[Long]("p50_day") == 2 &&
      r.getAs[Long]("p75_day") == 3 && r.getAs[Long]("max_day") == 4)
  }

  test("madOutlierDays: a spike day flags against the robust bands " +
      "even when it would drag a mean-based band past itself") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(day: Int, i: Int) =
      new java.sql.Timestamp(base.getTime + day * 86400000L + i * 1000L)
    // type a: 5 days with counts 5,5,5,5,100 -> med 5, devs
    // {0,0,0,0,95}, MAD 0 -> the spike (d=95 > 0) is the 1 outlier,
    // worst_day = day 4. (mean would be 24, sd ~42: a 2-sigma band
    // would NOT flag 100 -> exactly the masking MAD resists.)
    // type b: counts 1,2,3,4,5 -> med 3, devs {2,1,0,1,2}, MAD 1 ->
    // nothing exceeds 3*1, worst dev 2 at the EARLIEST tying day 0.
    val events = (
      (0 until 4).flatMap(d => (1 to 5).map(i => ("a", ts(d, i)))) ++
      (1 to 100).map(i => ("a", ts(4, i))) ++
      (0 until 5).flatMap(d => (0 to d).map(i => ("b", ts(d, i))))
    ).toDF("event_type", "ts")
    val r = Events.madOutlierDays(events).collect()
      .map(x => x.getAs[String]("event_type") -> x).toMap
    val day0 = r("a").getAs[Long]("worst_day") - 4 // epoch day of day 4
    assert(r("a").getAs[Long]("n_days") == 5 &&
      r("a").getAs[Long]("med_x") == 5 &&
      r("a").getAs[Long]("mad_x") == 0 &&
      r("a").getAs[Long]("n_outliers") == 1 &&
      r("a").getAs[Long]("worst_dev") == 95)
    assert(r("b").getAs[Long]("n_days") == 5 &&
      r("b").getAs[Long]("med_x") == 3 &&
      r("b").getAs[Long]("mad_x") == 1 &&
      r("b").getAs[Long]("n_outliers") == 0 &&
      r("b").getAs[Long]("worst_day") == day0 &&
      r("b").getAs[Long]("worst_dev") == 2)
  }

  test("attributionCredit: two touches split a conversion's credit; " +
      "out-of-window touches are excluded") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val events = Seq(
      (1L, 10L, "click", ts(-100)), (1L, 11L, "view", ts(-50)),
      (1L, 12L, "purchase", ts(0)),
      // a touch 8 days before the purchase: outside the 7-day window
      (2L, 20L, "click", ts(-8L * 86400)), (2L, 21L, "purchase", ts(0))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val r = Events.attributionCredit(events).collect()
      .map(x => x.getAs[String]("event_type") -> x).toMap
    // user 1: 2 touches -> 500000 micro each; user 2: none credited
    assert(r("click").getAs[Long]("credit_micro") == 500000L)
    assert(r("view").getAs[Long]("credit_micro") == 500000L)
    assert(r("click").getAs[Long]("n_conversions") == 1L)
  }

  test("abandonRate: clicked-without-purchase days count as abandons " +
      "at the (user, day) grain") {
    import spark.implicits._
    val d0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(day: Int) =
      new java.sql.Timestamp(d0.getTime + day * 86400000L)
    val events = Seq(
      (1L, "click", ts(0)), (1L, "purchase", ts(0)), // converted
      (2L, "click", ts(0)),                          // abandoned
      (3L, "view", ts(0)),                           // never engaged
      (2L, "click", ts(1)), (2L, "purchase", ts(1))  // converted next day
    ).toDF("user_id", "event_type", "ts")
    val r = Events.abandonRate(events).collect()
      .map(x => x.getAs[Long]("day") -> x).toMap
    val day0 = r.keys.min
    assert(r(day0).getAs[Long]("n_engaged") == 2 &&
      r(day0).getAs[Long]("n_converted") == 1 &&
      r(day0).getAs[Long]("abandon_bp") == 5000)
    assert(r(day0 + 1).getAs[Long]("abandon_bp") == 0)
  }

  test("spearmanDaily: perfect monotone series → rho_micro = 1e6; " +
      "perfectly reversed → −1e6, Σd² exact") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(day: Int, i: Int) =
      new java.sql.Timestamp(base.getTime + day * 86400000L + i * 1000L)
    def series(xs: Seq[Int], ys: Seq[Int]) =
      xs.zipWithIndex.flatMap { case (n, d) =>
        (0 until n).map(i => ("click", ts(d, i))) } ++
      ys.zipWithIndex.flatMap { case (n, d) =>
        (0 until n).map(i => ("purchase", ts(d, 500 + i))) }
    val up = series(Seq(1, 2, 3), Seq(1, 2, 3))
      .toDF("event_type", "ts")
    val ru = Events.spearmanDaily(up).head()
    assert(ru.getAs[Long]("n_days") == 3 && ru.getAs[Long]("sd2_4") == 0 &&
      ru.getAs[Long]("rho_micro") == 1000000L &&
      ru.getAs[Long]("ties_x") == 0)
    val down = series(Seq(1, 2, 3), Seq(3, 2, 1))
      .toDF("event_type", "ts")
    val rd = Events.spearmanDaily(down).head()
    // rx2=(2,4,6) vs ry2=(6,4,2): 4·Σd² = 16+0+16 = 32 → rho = −1
    assert(rd.getAs[Long]("sd2_4") == 32 &&
      rd.getAs[Long]("rho_micro") == -1000000L)
  }

  test("crossCorrDaily: hand-computed lag-0/1 sufficient statistics; " +
      "pairless lags emit no rows") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(day: Int, i: Int) =
      new java.sql.Timestamp(base.getTime + day * 86400000L + i * 1000L)
    // x = (1,2,3), y = (2,4,6) over three consecutive days
    val events = ((0 until 1).map(i => ("click", ts(0, i))) ++
      (0 until 2).map(i => ("click", ts(1, i))) ++
      (0 until 3).map(i => ("click", ts(2, i))) ++
      (0 until 2).map(i => ("purchase", ts(0, 500 + i))) ++
      (0 until 4).map(i => ("purchase", ts(1, 500 + i))) ++
      (0 until 6).map(i => ("purchase", ts(2, 500 + i))))
      .toDF("event_type", "ts")
    val r = Events.crossCorrDaily(events).collect()
      .map(x => x.getAs[Long]("lag") -> x).toMap
    assert(r(0L).getAs[Long]("n_pairs") == 3 &&
      r(0L).getAs[Long]("sxy") == 28 &&
      r(0L).getAs[Long]("cov_num") == 3 * 28 - 6 * 12)
    assert(r(1L).getAs[Long]("n_pairs") == 2 &&
      r(1L).getAs[Long]("cov_num") == 2 * 16 - 3 * 10)
    // only 3 days → lags 3..7 have no observed pairs, hence no rows
    assert(!r.contains(3L) && r.size == 3)
  }

  test("upliftCI: constant within-arm outcomes give a zero-width " +
      "interval and an exact diff; identical arms are not significant") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    // even users (arm 0) at 10.0, odd (arm 1) at 30.0 — constant
    // outcomes make every bootstrap replicate mean equal the
    // estimate, so var = 0 and the CI collapses
    val ev = (0L until 100L).map(u =>
      (u, ts, if (u % 2 == 0) 10.0 else 30.0))
      .toDF("user_id", "ts", "value")
    val r = Events.upliftCI(ev).head()
    assert(r.getAs[Long]("n_users_0") == 50L &&
      r.getAs[Long]("n_users_1") == 50L)
    assert(r.getAs[Long]("est0_u4") == 100000L &&
      r.getAs[Long]("est1_u4") == 300000L)
    assert(r.getAs[Long]("diff_u4") == 200000L &&
      r.getAs[Long]("ci_half_u4") == 0L &&
      r.getAs[Boolean]("significant"))
    // identical arms: zero diff can never clear the interval
    val flat = (0L until 100L).map(u => (u, ts, 10.0))
      .toDF("user_id", "ts", "value")
    val f = Events.upliftCI(flat).head()
    assert(f.getAs[Long]("diff_u4") == 0L &&
      !f.getAs[Boolean]("significant"))
  }

  test("lagFeatures: calendar-true lags over the gapfilled spine, " +
      "warm-up means average over the rows present, leading lags NULL") {
    import spark.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // type a: days 1,2,4 (day 3 is a gap) — spine must emit day 3
    val ev = Seq(
      (1L, "a", ts(1), 10.0), (2L, "a", ts(1), 10.0),
      (3L, "a", ts(2), 5.0), (4L, "a", ts(4), 1.0))
      .toDF("event_id", "event_type", "ts", "value")
    val got = Events.lagFeatures(ev).orderBy("day").collect()
    assert(got.length == 4, "gap day missing from the spine")
    val byDay = got.map(r => r.getAs[Long]("day") -> r).toMap
    val days = got.map(_.getAs[Long]("day")).sorted
    val (d1, d2, d3, d4) = (days(0), days(1), days(2), days(3))
    assert(byDay(d1).getAs[Long]("n") == 2 &&
      byDay(d1).isNullAt(byDay(d1).fieldIndex("n_lag1")))
    assert(byDay(d2).getAs[Long]("n_lag1") == 2)
    assert(byDay(d3).getAs[Long]("n") == 0 &&
      byDay(d3).getAs[Long]("n_lag1") == 1, "gap day must read lag from day 2")
    assert(byDay(d4).getAs[Long]("n_lag1") == 0, "lag over the gap is 0")
    // trailing mean over the rows PRESENT: day 2 = (2+1)*1000/2 = 1500
    assert(byDay(d2).getAs[Long]("n_ma7_milli") == 1500L)
    assert(byDay(d4).getAs[Long]("n_sum_7d") == 4L)
    assert(byDay(d1).getAs[Double]("v_sum") == 20.0)
  }

  test("mdeByType: p=1/2 at four users gives the closed-form MDE; " +
      "a universal event detects nothing (MDE 0 at p=1)") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val ev = Seq(
      (1L, "buy"), (2L, "buy"), (2L, "buy"), // dup event: users distinct
      (1L, "view"), (2L, "view"), (3L, "view"), (4L, "view"))
      .map { case (u, t) => (u, t, ts) }
      .toDF("user_id", "event_type", "ts")
    val r = Events.mdeByType(ev).collect()
      .map(x => x.getAs[String]("event_type") -> x).toMap
    // buy: p = 2/4 = 500000 ppm, arm n = 2,
    // rad = 2*5e5*5e5/2 = 2.5e11, isqrt = 500000,
    // mde = 2802*500000/1000 = 1401000 ppm (underpowered — as it
    // should read at 4 users)
    assert(r("buy").getAs[Long]("n_users") == 4L &&
      r("buy").getAs[Long]("n_conv") == 2L &&
      r("buy").getAs[Long]("p_ppm") == 500000L &&
      r("buy").getAs[Long]("mde_ppm") == 1401000L)
    // view: everyone converts -> p(1-p) = 0 -> nothing detectable
    assert(r("view").getAs[Long]("p_ppm") == 1000000L &&
      r("view").getAs[Long]("mde_ppm") == 0L)
  }

  test("ebShrinkage: exact MoM prior and per-day pull toward the " +
      "grand mean; a flat spectrum collapses every day onto it") {
    import spark.implicits._
    // three days at 2500/5000/7500 bp (4 events each): m = 5000,
    // v = (2500^2*2)//3 = 4166666, s = 25000000//4166666 - 1 = 5 ->
    // shrunk = (1e4*x + 5*5000)//(4+5) = 3888 / 5000 / 6111
    def day(d: Int, h: Int, t: String) =
      (ts(f"2024-01-0$d $h%02d:00:00"), t)
    val ev = (
      Seq(day(1, 10, "click"), day(1, 11, "view"), day(1, 12, "view"),
        day(1, 13, "view"),
        day(2, 10, "click"), day(2, 11, "click"), day(2, 12, "view"),
        day(2, 13, "view"),
        day(3, 10, "click"), day(3, 11, "click"), day(3, 12, "click"),
        day(3, 13, "view"))
    ).toDF("ts", "event_type")
    val got = Events.ebShrinkage(ev)
      .select("n", "x", "raw_bp", "shrunk_bp", "k", "m_bp", "v_bp2",
        "prior_s")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      (4L, 1L, 2500L, 3888L, 3L, 5000L, 4166666L, 5L),
      (4L, 2L, 5000L, 5000L, 3L, 5000L, 4166666L, 5L),
      (4L, 3L, 7500L, 6111L, 3L, 5000L, 4166666L, 5L)),
      got.mkString(","))
    // flat spectrum: v = 0 -> prior strength explodes -> shrunk = m
    val flat = Seq(day(1, 10, "click"), day(1, 11, "view"),
      day(2, 10, "click"), day(2, 11, "view"))
      .toDF("ts", "event_type")
    val g2 = Events.ebShrinkage(flat)
      .select("raw_bp", "shrunk_bp", "m_bp", "v_bp2")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(g2.forall { case (r, s2, m, v) =>
      r == 5000L && s2 == m && v == 0L }, g2.mkString(","))
  }
}
