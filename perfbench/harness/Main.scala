package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload: set up and warm up, time a closed
  * loop of operations (one client, one operation at a time), trace when
  * asked, check the outputs, and write the raw record as JSON.
  *
  *   perfbench.Main --workload <name> --in <inputs> --work <dir>
  *     --seconds <s> --trace <0|1> --cores <n> --queries <q1,q2,..> --out <file>
  *
  * `--queries` lists the registered queries of an `operator_mix` pass.
  *
  * Untraced: the record carries `setup_s` (the process's one cold
  * set-up) and the timings of every timed operation. Traced: the same
  * set-up, then operations run alternately untraced and traced, so the
  * record also carries the tracing overhead; then the layer cuts run and
  * the record carries the per-layer metrics.
  */
object Main {
  final class Tally { var attempted = 0L; var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String] }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work"))
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val budget = a("seconds").toDouble
    val tally = new Tally
    val wl = Workload(a("workload"), a("in"), work, cores,
      a("queries").split(',').filter(_.nonEmpty).toSeq, tally)

    def session(): SparkSession = {
      val b = graft.Sessions.builder("perfbench", s"local[$cores]", cores.toString)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      if (traced) b.config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamSpans].getName)
      b.getOrCreate()
    }

    // Set-up: the session plus the untimed warm-up operations, which
    // absorb the JIT and codegen cost of first use.
    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = seconds(t0)
    wl.firstOp(spark)
    for (_ <- 2 to wl.warmups) wl.op(spark)
    val setupS = seconds(t0)

    // Runs operations for `span` seconds: another one starts only if
    // it should end within the span (judged by the last one), so the
    // number of operations does not flip between runs on a borderline
    // duration. Alternating runs end on a traced operation.
    def loop(span: Double, alternate: Boolean = false): Seq[Map[String, Double]] = {
      val end = System.nanoTime() + (span * 1e9).toLong
      val out = mutable.ArrayBuffer.empty[Map[String, Double]]
      var last = 0L
      do {
        Trace.on = alternate && out.size % 2 == 1
        val t0 = System.nanoTime()
        out += wl.op(spark)
        last = System.nanoTime() - t0
      } while (System.nanoTime() + last <= end || alternate && out.size % 2 == 1)
      Trace.on = false
      out.toSeq
    }

    heapPools.foreach(_.resetPeakUsage())
    // traced runs alternate untraced and traced operations, so that
    // the difference between the two is the tracing overhead
    if (traced) Trace.attach(spark)
    val (ops, tracedOps) = if (!traced) (loop(budget), Nil) else {
      val all = loop(budget, alternate = true)
      (all.indices.filter(_ % 2 == 0).map(all), all.indices.filter(_ % 2 == 1).map(all))
    }
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "trace" -> traced,
      "setup_s" -> setupS, "setup_session_s" -> sessionS,
      "heap_peak_mb" -> heapPeak,
      "ops" -> ops.filter(_.nonEmpty), "out_bytes" -> wl.outBytes, "source_rows" -> wl.sourceRows,
      "input_bytes" -> wl.inputBytes)

    if (traced) {
      Trace.on = true
      val layers = wl.layers(spark, tracedOps.filter(_.nonEmpty))
      Trace.on = false
      record("traced_ops") = tracedOps
      record("layers") = layers ++ Map("trace.overhead_s" ->
        (median(tracedOps.flatMap(_.get("op_s"))) - median(ops.flatMap(_.get("op_s")))))
      record("extra") = wl.extra
      writeSpans(new File(work, "spans.jsonl"))
    }

    val checks = try wl.check(spark) catch {
      case NonFatal(e) => Seq(("check", false, s"checker failed: $e"))
    }
    record("checks") = checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    record("attempted") = tally.attempted
    record("failed") = tally.failed
    record("errors") = tally.errors.take(20).toSeq
    spark.stop()
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new File(a("out")), toJava(record))
  }

  private def writeSpans(f: File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    val m = new ObjectMapper()
    val spans = Trace.allSpans
    val children = spans.groupBy(_.parent).withDefaultValue(Nil)
    try spans.foreach { s =>
      w.println(m.writeValueAsString(toJava(Map("run" -> Trace.runId,
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> (if (s.kind == "call") Trace.selfSeconds(s, children(s.id))
                     else s.seconds)))))
    } finally w.close()
  }

  def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
}
