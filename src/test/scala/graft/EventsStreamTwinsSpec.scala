package graft

import graft.operators.Events
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** The streaming twins that share an event stream shape — the three
  * sessionizers, the Misra–Gries pair and the attribution join — each
  * run as one query of their own and equal their batch oracles on a
  * hand-built fixture with known sessions, a known type skew and
  * known click→purchase pairs.
  *
  * Each test runs on a fresh scratch copy of the fixture.
  */
class EventsStreamTwinsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The fixture dir of the running test: 3 users x 2 sessions x 4
    * events (plus a type skew for the MG sketch) as events.parquet.
    */
  private var dir: String = _

  override def withFixture(test: NoArgTest): Outcome =
    Scratch.withDir("graft-twins-fixture") { d =>
      writeFixture(d.toString)
      dir = d.toString
      super.withFixture(test)
    }

  private def writeFixture(d: String): Unit = {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2026-01-05 08:00:00").getTime
    val rows = for {
      u <- 10L to 12L
      s <- 0 until 2 // two sessions, 3 h apart (> the 30 min gap)
      k <- 0 until 4 // 5-min strides inside a session
    } yield {
      val ts = new java.sql.Timestamp(
        base + u * 977L + s * 3L * 3600 * 1000L + k * 5L * 60 * 1000L)
      val id = u * 1000 + s * 10 + k
      val tpe = if (k == 0) "click" else if (k == 1) "purchase" else "view"
      (id, u, ts, tpe, k * 1.5)
    }
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
  }

  private def sessionSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  test("sessionizer trio: each twin records only its own state sample " +
      "and all three equal the batch sessionizer") {
    EventsStream.drainStateMetrics()
    val tws = EventsStream.sessionizeTwsToCompletion(spark, dir)
    assert(EventsStream.drainStateMetrics().keySet ==
      Set("graft_events_sessions_tws"))
    val fmgws = EventsStream.sessionizeToCompletion(spark, dir)
    assert(EventsStream.drainStateMetrics().keySet ==
      Set("graft_events_sessions"))
    val warm = EventsStream.sessionizeWarmStartToCompletion(spark, dir)
    assert(EventsStream.drainStateMetrics().keySet ==
      Set("graft_events_sessions_warm"))

    // all three twins equal the batch sessionizer
    val batch = sessionSet(Events.sessionize(
      Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))))
    assert(batch.nonEmpty && batch.size == 6) // 3 users x 2 sessions
    assert(sessionSet(tws) == batch)
    assert(sessionSet(fmgws) == batch)
    assert(sessionSet(warm) == batch)
  }

  test("heavy-hitters pair: capacity 8 equals batch truth, capacity 2 " +
      "honors the Misra-Gries bound") {
    val truth = Tables.load(spark, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum

    val exact = EventsStream.heavyHittersToCompletion(spark, dir)
    // capacity 8 > 3 distinct types: every counter exact
    val got = exact.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == truth)

    val est = EventsStream.heavyHittersToCompletion(spark, dir,
      capacity = 2)
    val estMap = est.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // Misra-Gries guarantee per type: 0 <= true - est <= N/(cap+1)
    truth.foreach { case (t, cnt) =>
      val e = estMap.getOrElse(t, 0L)
      assert(e <= cnt && cnt - e <= n / 3,
        s"type $t: est $e vs true $cnt (N=$n)")
    }
  }

  test("attribution equals the batch interval join") {
    val inner = EventsStream.attributionToCompletion(spark, dir)
    val got = inner.select(col("user_id"), col("click_id"),
        col("purchase_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val truth = clicks.join(buys,
        col("cu") === col("pu") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("cu"), col("click_id"), col("purchase_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(truth.nonEmpty && got == truth)
  }

  test("a non-registered heavy-hitters parameterization (shards = 1) " +
      "runs exactly one query of its own") {
    val (solo, started) = SparkTestSession.queriesStarted(
      EventsStream.heavyHittersToCompletion(spark, dir,
        capacity = 8, shards = 1).collect())
    assert(solo.nonEmpty)
    assert(started == 1, s"$started queries started")
  }

  test("scale-probe partition override: setStreamShufflePartitions " +
      "retargets the stream session and is results-invariant") {
    val ss = EventsStream.streamSession(spark)
    val before = ss.conf.get("spark.sql.shuffle.partitions")
    val base = EventsStream.heavyHittersToCompletion(spark, dir,
      capacity = 8, shards = 1)
      .collect().map(_.toString).sorted.toSeq
    try {
      EventsStream.setStreamShufflePartitions(spark, 3)
      assert(ss.conf.get("spark.sql.shuffle.partitions") == "3",
        "override must land on the SHARED stream-session clone " +
          "(streaming queries read it at start)")
      val at3 = EventsStream.heavyHittersToCompletion(spark, dir,
        capacity = 8, shards = 1)
        .collect().map(_.toString).sorted.toSeq
      assert(at3 == base,
        "state partitioning is a physical knob — results must not " +
          "change under the probe's per-regime override")
    } finally EventsStream.setStreamShufflePartitions(spark,
      before.toInt)
    assert(ss.conf.get("spark.sql.shuffle.partitions") == before)
  }
}
