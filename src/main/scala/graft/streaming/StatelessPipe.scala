package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Run a stateless batch transform as a Structured Streaming query —
  * the zero-cost half of the batch/stream duality: any narrow
  * projection/filter operator (scrub, quality filter, rendering,
  * fingerprinting) composes with `readStream` unchanged, no watermark
  * or state store involved, and produces row-identical output to its
  * batch run. This pipe proves that property per operator through the
  * same DuckDB oracle as the batch query.
  *
  * At scale this is the shape of a continuous ingest hygiene stage:
  * files land, each micro-batch maps through the operator, output
  * appends — state stays O(1) regardless of corpus size.
  */
object StatelessPipe {

  /** Stream `<table>.parquet` under `dir` (read through
    * [[EventsStream.source]], so timestamps are normalized as in
    * `Tables.load`) through `transform` (which must be stateless: no
    * aggregation, no dedup, no watermark) and return the
    * fully-materialized append output. `name` is the memory sink's
    * query name and temp view on the shared stream session: a re-run
    * under the same name replaces the view instead of adding one, and
    * a frame returned earlier keeps reading its own sink.
    */
  def toCompletion(spark0: SparkSession, dir: String, table: String,
      name: String, transform: DataFrame => DataFrame): DataFrame =
    run(spark0, dir, table, name, transform)._1

  /** As [[toCompletion]], additionally collecting aggregate metrics
    * through `Dataset.observe` — observability piggybacked on the
    * stream itself: the metrics ride the micro-batch (CollectMetrics
    * in-plan), costing no second pass and no extra action. This is
    * how a production hygiene stage reports kept/dropped/PII counts
    * per batch without re-reading what it just processed. Returns the
    * materialized output plus the metrics row of the last data
    * micro-batch (single-file sources run one data batch, so it
    * covers the whole input; a multi-batch deployment reads each
    * progress event's observedMetrics instead).
    */
  def toCompletionObserved(spark0: SparkSession, dir: String,
      table: String, name: String, transform: DataFrame => DataFrame,
      metrics: Seq[Column]): (DataFrame, Option[Row]) = {
    require(metrics.nonEmpty, "observe needs at least one metric column")
    val (out, q) = run(spark0, dir, table, name,
      src => transform(src).observe("hygiene", metrics.head, metrics.tail: _*))
    val row = q.recentProgress.reverseIterator
      .flatMap(p => Option(p.observedMetrics.get("hygiene")))
      .take(1).toSeq.headOption
    (out, row)
  }

  /** Start the one append query on a scratch checkpoint, drain it and
    * stop it ([[EventsStream.drained]]: a failed drain rethrows the
    * query's own failure, with any stop failure attached as
    * suppressed).
    */
  private def run(spark0: SparkSession, dir: String, table: String,
      name: String, transform: DataFrame => DataFrame)
      : (DataFrame, StreamingQuery) = {
    val spark = EventsStream.streamSession(spark0)
    val q = EventsStream.drained(
      transform(EventsStream.source(spark, dir, table)).writeStream
        .outputMode("append").format("memory").queryName(name))
    (spark.table(name), q)
  }
}
