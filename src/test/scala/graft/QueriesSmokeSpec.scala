package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must evaluate at sf0.001; every oracle entry
  * must point at a registered query. Guards the driver contract.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("entry returns formatted documents") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("doc"))
  }

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  /** Every registered streaming entry that reads the events stream →
    * the memory sink whose state sample a call records; None marks a
    * stateless entry, which records no state sample at all. Each call
    * must start exactly one streaming query, record only its own
    * sink's state and return rows.
    */
  private val streamSinks: Map[String, Option[String]] = Map(
    "events_stream_tumbling" -> Some("graft_events_stream"),
    "events_stream_tumbling_append" -> Some("graft_events_stream_append"),
    "events_stream_sliding" -> Some("graft_events_stream_sliding"),
    "events_stream_session_window" ->
      Some("graft_events_stream_session_window"),
    "events_stream_attribution" -> Some("graft_events_stream_attribution"),
    "events_stream_attribution_outer" ->
      Some("graft_events_stream_attribution_outer"),
    "events_stream_attribution_full" ->
      Some("graft_events_stream_attribution_full"),
    "events_stream_sessionize" -> Some("graft_events_sessions"),
    "events_stream_sessionize_tws" -> Some("graft_events_sessions_tws"),
    "events_stream_sessionize_warm" -> Some("graft_events_sessions_warm"),
    "events_stream_type_profile" -> Some("graft_events_type_profile"),
    "events_stream_heavy_hitters" -> Some("graft_events_heavy_hitters_c8"),
    "events_stream_heavy_hitters_bounds" ->
      Some("graft_events_heavy_hitters_c2"),
    "events_stream_dedup" -> Some("graft_events_dedup"),
    "events_stream_fingerprint_dedup" -> Some("graft_events_fp_dedup"),
    "events_stream_enrich" -> None,
    "events_stream_enrich_outer" -> None)

  test("every streaming entry checked below is a registered query") {
    val unknown = streamSinks.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"not registered: $unknown")
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"query $name evaluates at sf0.001") {
      streamSinks.get(name) match {
        case None =>
          val df = fn(spark, dir)
          assert(df.columns.nonEmpty)
          assert(df.count() >= 0)
        case Some(sink) =>
          graft.streaming.EventsStream.drainStateMetrics()
          val (rows, started) = SparkTestSession.queriesStarted {
            val df = fn(spark, dir)
            assert(df.columns.nonEmpty)
            df.count()
          }
          assert(started == 1, s"$name started $started streaming queries")
          assert(graft.streaming.EventsStream.drainStateMetrics().keySet ==
            sink.toSet, s"$name recorded state for other sinks")
          assert(rows > 0, s"$name returned no rows")
      }
    }
  }
}
