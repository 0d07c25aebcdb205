package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Opt-in capture of query plans that are invisible to after-the-fact
  * `explain` — operators like [[operators.Dedup.minhashPairs]] and
  * [[operators.Dedup.clusters]] materialize through `localCheckpoint`,
  * so the plan a caller sees afterwards is just `Scan ExistingRDD`.
  * They record the interesting pre-checkpoint plan (and wall-clock
  * breadcrumbs for the checkpoint materialization itself) here;
  * [[Bench]] enables capture and appends the drained entries to the
  * per-query plan dump.
  *
  * Disabled by default so production pipelines never pay the extra
  * analyze/optimize pass that `explainString` costs.
  */
object PlanCapture {
  @volatile var enabled = false

  private val buf =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  /** Record a DataFrame's formatted plan (no-op unless enabled). */
  def record(label: String, df: DataFrame): Unit = if (enabled) {
    try
      buf.add(label -> df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    catch { case NonFatal(e) => buf.add(label -> s"<explain failed: $e>") }
  }

  /** Record a free-text breadcrumb, e.g. a stage timing (no-op unless
    * enabled).
    */
  def note(label: String, text: String): Unit =
    if (enabled) buf.add(label -> text)

  /** Return and clear everything captured since the last drain. */
  def drain(): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var e = buf.poll()
    while (e != null) { out += e; e = buf.poll() }
    out.result()
  }
}
