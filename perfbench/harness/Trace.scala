package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a benchmark call into a layer, or a Spark job,
  * stage or streaming batch attributed to the call that caused it.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-call engine counters, summed over the tasks of every job the
  * call launched.
  */
final class Counters {
  var jobs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var resultBytesMax = 0L
  var planMs = 0L
  var batches = 0L
  val batchMs = mutable.ArrayBuffer.empty[Long]

  def add(o: Counters): Unit = {
    jobs += o.jobs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    peakExecBytes = math.max(peakExecBytes, o.peakExecBytes)
    resultBytesMax = math.max(resultBytesMax, o.resultBytesMax)
    planMs += o.planMs; batches += o.batches; batchMs ++= o.batchMs
  }
}

/** Spans and counters of a traced run, kept in memory and written out
  * when the run ends. Calls are traced only while `on`; untraced runs
  * register no listeners at all.
  *
  * Attribution: each traced call sets a Spark job group naming its
  * span, so the listener can hang jobs (and their stages) under the
  * call. Streaming batches run on the stream's own thread, so they are
  * attributed to the call that is active when their progress arrives.
  */
object Trace {
  val runId: String = java.util.UUID.randomUUID().toString
  @volatile var on = false
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[Long, Counters]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile private var active: Long = 0L
  private var spark: SparkSession = _
  private val listener = new EngineListener

  def counterOf(spanId: Long): Counters =
    counters.computeIfAbsent(spanId, _ => new Counters)

  def activeSpan: Long = active

  def record(s: Span): Unit = spans.add(s): Unit

  def newId(): Long = nextId.getAndIncrement()

  def attach(s: SparkSession): Unit = {
    if (spark != null) spark.sparkContext.removeSparkListener(listener)
    spark = s
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(new PlanListener)
  }

  def drain(): Unit = if (spark != null) PerfbenchBus.drain(spark.sparkContext)

  /** Run `body` as a span named `name`; returns its value and span id
    * (0 when tracing is off).
    */
  def span[T](name: String, kind: String = "call")(body: => T): (T, Long) = {
    if (!on) return (body, 0L)
    val id = newId()
    val parents = stack.get
    val sc = spark.sparkContext
    stack.set(id :: parents)
    val prevActive = active
    active = id
    sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try (body, id)
    finally {
      val t1 = System.nanoTime()
      // deliver this call's listener events while it is still active
      drain()
      stack.set(parents)
      active = prevActive
      parents.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      record(Span(id, parents.headOption.getOrElse(0L), name, kind, t0, t1))
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Counters of a span and everything under it. */
  def subtree(id: Long): Counters = {
    val kids = allSpans.groupBy(_.parent)
    val acc = new Counters
    def walk(s: Long): Unit = {
      Option(counters.get(s)).foreach(acc.add)
      kids.getOrElse(s, Nil).foreach(k => walk(k.id))
    }
    walk(id)
    acc
  }

  /** Self time of a call span: its duration minus the part of it that
    * its child call spans cover (engine spans overlap their caller and
    * are not subtracted).
    */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val kids = children.filter(_.kind == "call").map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  private def groupSpan(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.drop(3).toLong).getOrElse(0L)

  private class EngineListener extends SparkListener {
    // job id -> (job span, start, owning call span)
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val owner = groupSpan(e.properties)
      if (owner != 0L) {
        val jobSpan = newId()
        jobStart.put(e.jobId, (jobSpan, System.nanoTime(), owner))
        e.stageIds.foreach(s => stageOwner.put(s, (owner, jobSpan)))
        val c = counterOf(owner)
        c.synchronized { c.jobs += 1 }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val js = jobStart.remove(e.jobId)
      if (js != null)
        record(Span(js._1, js._3, s"job ${e.jobId}", "job", js._2, System.nanoTime()))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val own = stageOwner.get(e.stageInfo.stageId)
      if (own != null) {
        val i = e.stageInfo
        val start = i.submissionTime.getOrElse(0L)
        val end = i.completionTime.getOrElse(start)
        // wall-clock ms mapped onto the nanoTime axis of the other spans
        val now = System.nanoTime(); val wall = System.currentTimeMillis()
        record(Span(newId(), own._2, s"stage ${i.stageId}", "stage",
          now - (wall - start) * 1000000L, now - (wall - end) * 1000000L))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val own = stageOwner.get(e.stageId)
      val m = e.taskMetrics
      if (own != null && m != null) {
        val c = counterOf(own._1)
        c.synchronized {
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
          c.resultBytesMax = math.max(c.resultBytesMax, m.resultSize)
        }
      }
    }
  }

  /** Planning time of every query execution that finishes while a
    * traced call is active (drained right after each call).
    */
  private class PlanListener extends QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = if (on && active != 0L) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      val c = counterOf(active)
      c.synchronized { c.planMs += ms }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }
}

/** Streaming batch counters, registered through
  * `spark.sql.streaming.streamingQueryListeners` so that it also sees
  * queries started on sessions cloned from the benchmark's session.
  */
class StreamSpans extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val owner = Trace.activeSpan
    if (Trace.on && owner != 0L) {
      val p = e.progress
      val ms: Long = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val end = System.nanoTime()
      Trace.record(Span(Trace.newId(), owner, s"batch ${p.batchId}", "batch",
        end - ms * 1000000L, end))
      val c = Trace.counterOf(owner)
      c.synchronized { c.batches += 1; c.batchMs += ms }
    }
  }
}
