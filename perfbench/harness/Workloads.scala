package perfbench

import java.io.{File, FileOutputStream, FilterOutputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.functions.{MemMarkup, Render}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

/** One benchmark workload. `op` runs one timed operation to a complete
  * output and returns its timings (`op_s`, `head_s`, ...), or an empty
  * map if it failed; `layers` runs the traced cuts; `check` verifies
  * the last output, untimed.
  */
trait Workload {
  def op(spark: SparkSession): Map[String, Double]
  /** The set-up's first untimed warm-up operation. */
  def firstOp(spark: SparkSession): Unit = op(spark)
  /** Untimed warm-up operations in the set-up, `firstOp` included. */
  def warmups: Int = 1
  def layers(spark: SparkSession, traced: Seq[Map[String, Double]]): Map[String, Double]
  def check(spark: SparkSession): Seq[(String, Boolean, String)]
  def extra: Map[String, Any] = Map.empty
  def sourceRows: Long
  def inputBytes: Long
  def outBytes: Long
}

object Workload {
  def apply(name: String, in: String, work: File, cores: Int,
      queries: Seq[String], tally: Main.Tally): Workload = name match {
    case "pages_stream" => new ExportWorkload(in, work, cores, tally, sharded = false)
    case "typed_sharded" => new ExportWorkload(in, work, cores, tally, sharded = true)
    case "operator_mix" => new OperatorMix(in, work, queries, tally)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
      .map(dirBytes).sum

  /** Run `body`, counting it as one attempted operation; a throw counts
    * as failed and yields None.
    */
  def attempt[T](tally: Main.Tally, what: String)(body: => T): Option[T] = {
    tally.attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        tally.failed += 1
        tally.errors += s"$what: ${e.getClass.getName}: ${e.getMessage}".take(500)
        None
    }
  }
}

/** Records when the first byte past the docset header reaches the
  * stream handed to the sink.
  */
final class FirstBytes(out: java.io.OutputStream, header: Int)
    extends FilterOutputStream(out) {
  var written = 0L
  var firstAt = 0L
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    written += len
    if (firstAt == 0L && written > header) firstAt = System.nanoTime()
    out.write(b, off, len)
  }
  override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
}

/** `pages_stream` (single docset through the driver-serial stream sink,
  * composite-key ids) and `typed_sharded` (parallel shards of typed
  * columns with a joined dimension, then read back through the
  * `xmlpipe2` source).
  */
final class ExportWorkload(in: String, work: File, cores: Int,
    tally: Main.Tally, sharded: Boolean) extends Workload {
  import Workload._

  private val table = if (sharded) "typed" else "pages"
  private val keys = if (sharded) Seq("id") else Seq("url", "pos")
  private val joins =
    if (sharded) Seq(JoinSpec(ParquetSource(in, "dim"), "dim_key", "dim_key")) else Nil
  private val cfg = ExportConfig(ParquetSource(in, table), keys, joins = joins)
  private val expect = DocsetCheck.load(s"$in/expect.json")
  private val out = new File(work, if (sharded) "shards" else "docset.xml")
  private val headerBytes = XmlPipe.Header.getBytes(StandardCharsets.UTF_8).length
  private val name = if (sharded) "typed_sharded" else "pages_stream"
  private val spans = mutable.ArrayBuffer.empty[Long]

  // measured: after the cold first export, the next three still run
  // 1.2-2x slower than the fifth and later ones (JIT), at these sizes
  override def warmups: Int = 4

  def sourceRows: Long = expect.sourceRows
  def inputBytes: Long = dirBytes(new File(in, s"$table.parquet")) +
    (if (sharded) dirBytes(new File(in, "dim.parquet")) else 0L)
  def outBytes: Long = dirBytes(out)

  // the reader's own `id` column carries the document id
  private val readFields = expect.fields.filterNot(_ == "id")

  private def readBack(spark: SparkSession): DataFrame =
    spark.read.format("xmlpipe2").option("fields", readFields.mkString(","))
      .load(out.toString)

  def op(spark: SparkSession): Map[String, Double] =
    attempt(tally, s"$name export") {
      val (res, id) = Trace.span(s"$name.op") {
        val t0 = System.nanoTime()
        if (sharded) {
          Trace.span("Pipeline.exportSharded")(Pipeline.exportSharded(spark, cfg, out.toString))
          val export = Main.seconds(t0)
          tally.attempted += 1 // the read-back is an operation of its own
          Trace.span("DocsetSource.read")(noop(readBack(spark)))
          Map("op_s" -> Main.seconds(t0), "head_s" -> export,
            "export_s" -> export, "readback_s" -> (Main.seconds(t0) - export))
        } else {
          val (docs, _) = Trace.span("Pipeline.docs")(Pipeline.docs(spark, cfg))
          val stream = new FirstBytes(new FileOutputStream(out), headerBytes)
          Trace.span("XmlPipe.writeDocset") {
            try XmlPipe.writeDocset(docs, stream) finally stream.close()
          }
          val export = Main.seconds(t0)
          Map("op_s" -> export, "export_s" -> export,
            "head_s" -> (stream.firstAt - t0) / 1e9)
        }
      }
      if (id != 0L) spans += id
      res
    }.getOrElse(Map.empty)

  /** Prefix cuts, each a `noop` materialization: scan, (+join), +DocId,
    * +Render, +format; MemMarkup as a side cut over the string columns.
    * A layer's self time is its cut minus the cut before it.
    */
  def layers(spark: SparkSession, traced: Seq[Map[String, Double]]): Map[String, Double] = {
    val src = ParquetSource(in, table).load(spark)
    val base = if (sharded)
      src.join(ParquetSource(in, "dim").load(spark), Seq("dim_key"), "left") else src
    val all = base.columns.toSeq.map(col)
    val id = DocId.docId(base.schema, keys).as("__id")
    val strings = base.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    val cuts: Seq[(String, () => DataFrame)] = Seq(
      "Tables.scan" -> (() => ParquetSource(in, table).load(spark))) ++
      (if (sharded) Seq("Pipeline.join" -> (() => base)) else Nil) ++ Seq(
      "DocId.docId" -> (() => base.select(id +: all: _*)),
      "Render.renderAll" -> (() => base.select(
        id +: Render.renderAll(base.schema).map { case (n, c) => c.as(n) }: _*)),
      "MemMarkup.isMem" -> (() => base.select(
        all ++ strings.map(s => MemMarkup.isMem(col(s)).as(s"__mem_$s")): _*)),
      "XmlPipe.formatDocs" -> (() => XmlPipe.formatDocs(base, keys))) ++
      (if (sharded) Seq("XmlPipe.readDocset" ->
        (() => XmlPipe.readDocset(spark, out.toString, readFields))) else Nil)
    // one untraced warm-up round, then two traced rounds; each cut's
    // time is the median of its traced rounds
    val rounds = (0 to 2).map { r =>
      Trace.on = r > 0
      cuts.map { case (label, df) =>
        label -> Trace.span(s"cut.$label") {
          val t0 = System.nanoTime(); noop(df()); Main.seconds(t0) }._1
      }
    }.drop(1)
    def cut(label: String) = Main.median(rounds.flatMap(_.collect { case (`label`, t) => t }))
    val scan = cut("Tables.scan")
    val joined = if (sharded) cut("Pipeline.join") else scan
    val docId = cut("DocId.docId")
    val render = cut("Render.renderAll")
    val mem = cut("MemMarkup.isMem")
    val format = cut("XmlPipe.formatDocs")
    val memRows = base.filter(strings.map(s => MemMarkup.isMem(col(s))).reduce(_ || _)).count()
    val export = Main.median(traced.map(_("export_s")))
    val sinkName = if (sharded) "Pipeline.exportSharded" else "XmlPipe.writeDocset"
    val sinks = Trace.allSpans.filter(s => s.name == sinkName && spans.contains(s.parent))
    val sinkCounters = sinks.map(s => Trace.subtree(s.id))
    val opCounters = spans.toSeq.map(Trace.subtree)
    def med(f: Counters => Double, cs: Seq[Counters]) = Main.median(cs.map(f))
    // only the layers this workload has; the benchmark's run script
    // knows which those are and reports the others as 0
    val own = if (sharded) Map(
      "Pipeline.join_s" -> (joined - scan),
      "XmlPipe.shards" -> Option(out.listFiles()).toSeq.flatten
        .count(f => f.getName.startsWith("part-")).toDouble,
      "DocsetSource.read_s" -> Main.median(traced.map(_("readback_s"))),
      "XmlPipe.readDocset_s" -> cut("XmlPipe.readDocset"))
    else Map(
      "XmlPipe.driver_fetch_mb_max" -> med(_.resultBytesMax / 1e6, sinkCounters))
    own ++ Map(
      "Tables.scan_s" -> scan,
      "Tables.input_mb" -> inputBytes / 1e6,
      "DocId.self_s" -> (docId - joined),
      "Render.self_s" -> (render - docId),
      "MemMarkup.self_s" -> (mem - joined),
      "MemMarkup.mem_rows" -> memRows.toDouble,
      "XmlPipe.format_self_s" -> (format - render),
      "XmlPipe.doc_mb" -> outBytes / 1e6,
      "XmlPipe.sink_self_s" -> (export - format),
      "XmlPipe.sink_jobs" -> med(_.jobs.toDouble, sinkCounters),
      "XmlPipe.sink_core_util" -> Main.median(sinks.zip(sinkCounters).map {
        case (s, c) => c.runMs / 1e3 / (s.seconds * cores) }),
      "spark.task_s" -> med(_.runMs / 1e3, opCounters),
      "spark.gc_ms" -> med(_.gcMs.toDouble, opCounters),
      "spark.shuffle_write_mb" -> med(_.shuffleWriteBytes / 1e6, opCounters),
      "spark.spill_mb" -> med(_.spillBytes / 1e6, opCounters),
      "spark.peak_exec_mb" -> med(_.peakExecBytes / 1e6, opCounters))
  }

  def check(spark: SparkSession): Seq[(String, Boolean, String)] = {
    val (docs, problems) = DocsetCheck.check(expect, out.toString)
    val docset = (s"$name.docset", problems.isEmpty,
      if (problems.isEmpty) s"$docs documents parse and match the sample"
      else problems.mkString("; "))
    if (!sharded) Seq(docset)
    else {
      // the read-back must return every document, and the sampled
      // rows' fields must parse back to the source values
      val back = readBack(spark)
      val n = back.count()
      val ids = expect.sample.map(_.id)
      val rows = back.filter(col("id").isin(ids: _*)).collect()
      val bad = rows.flatMap { r =>
        val fields = readFields.map(f => f -> r.getAs[String](f)).toMap +
          ("id" -> r.getLong(0).toString)
        expect.sample.find(_.id == r.getLong(0)).flatMap(DocsetCheck.mismatch(_, fields))
      }
      val ok = n == expect.sourceRows && rows.length == ids.size && bad.isEmpty
      Seq(docset, ("typed_sharded.readback", ok,
        s"$n rows read back for ${expect.sourceRows}; ${rows.length}/${ids.size} sampled ids" +
          bad.headOption.fold("")(b => s"; $b")))
    }
  }
}

/** `operator_mix`: one pass runs the given registered queries in
  * order, each materialized in full through `noop`, with the
  * cross-query memos evicted at the start of the pass so that every
  * memo build is charged to the first query that needs it.
  */
final class OperatorMix(in: String, work: File, queries: Seq[String],
    tally: Main.Tally) extends Workload {
  import Workload._

  private val registry = SparkEntry.queries
  private val tables = Seq("documents", "embeddings", "events")
  private val tracedPasses = mutable.ArrayBuffer.empty[Map[String, Map[String, Double]]]
  private val passSpans = mutable.ArrayBuffer.empty[Long]
  private val memoProblems = mutable.ArrayBuffer.empty[String]
  private val outputs = new File(work, "mix_out")
  private var countRecord = Map.empty[String, Any]

  def sourceRows: Long = 0L
  def inputBytes: Long = tables.map(t => dirBytes(new File(in, s"$t.parquet"))).sum
  def outBytes: Long = 0L

  /** The first warm-up pass writes every query's output as parquet
    * (instead of `noop`) for the DuckDB parity check, so the check
    * costs no pass of its own.
    */
  override def firstOp(spark: SparkSession): Unit = pass(spark, dump = true)

  def op(spark: SparkSession): Map[String, Double] = pass(spark, dump = false)

  private def pass(spark: SparkSession, dump: Boolean): Map[String, Double] = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val perQuery = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    var ok = true
    val (_, passSpan) = Trace.span("operator_mix.pass") {
      SparkEntry.evictMemos(spark)
      queries.foreach { q =>
        val memos0 = SparkEntry.memoizedRddIds(spark)
        val persisted0 = sc.getPersistentRDDs.keySet
        val r = attempt(tally, q) {
          val b0 = System.nanoTime()
          val (df, bId) = Trace.span(s"$q.build")(registry(q)(spark, in))
          val build = Main.seconds(b0)
          val memosBuilt = SparkEntry.memoizedRddIds(spark)
          val a0 = System.nanoTime()
          val (_, aId) = Trace.span(s"$q.action") {
            if (dump) df.write.mode("overwrite").parquet(new File(outputs, q).toString)
            else noop(df)
          }
          if (SparkEntry.memoizedRddIds(spark) != memosBuilt)
            memoProblems += s"$q built a memo in its action, not its build"
          (build, Main.seconds(a0), bId, aId)
        }
        r match {
          case Some((build, action, bId, aId)) =>
            System.err.println(f"perfbench: $q%s build $build%.3f s, action $action%.3f s")
            val m = mutable.LinkedHashMap("build_s" -> build, "action_s" -> action)
            if (Trace.on) {
              val bc = Trace.subtree(bId); val ac = Trace.subtree(aId)
              val both = new Counters; both.add(bc); both.add(ac)
              m ++= Seq(
                "plan_ms" -> both.planMs.toDouble,
                "prejobs" -> bc.jobs.toDouble,
                "barriers" -> (sc.getPersistentRDDs.keySet -- persisted0).size.toDouble,
                "memo_builds" ->
                  (SparkEntry.memoizedRddIds(spark) -- memos0).size.toDouble,
                "shuffle_mb" -> both.shuffleWriteBytes / 1e6)
              // a query that ran micro-batches is a streaming one
              if (both.batches > 0) m ++= Seq("batches" -> both.batches.toDouble,
                "batch_p50_ms" -> Main.median(both.batchMs.map(_.toDouble).toSeq))
            }
            perQuery(q) = m.toMap
          case None => ok = false
        }
      }
    }
    if (Trace.on) {
      passSpans += passSpan
      val built = perQuery.values.map(_.getOrElse("memo_builds", 0.0)).sum
      val distinct = SparkEntry.memoizedRddIds(spark).size
      if (built != distinct)
        memoProblems += s"pass ${passSpans.size}: query memo_builds sum to $built, $distinct memos exist"
    }
    if (Trace.on) tracedPasses += perQuery.toMap
    if (!ok) Map.empty
    else Map("op_s" -> Main.seconds(t0),
      "head_s" -> perQuery.values.map(_("build_s")).sum)
  }

  def layers(spark: SparkSession, traced: Seq[Map[String, Double]]): Map[String, Double] = {
    val perQuery = for {
      q <- queries
      k <- tracedPasses.flatMap(_.get(q)).flatMap(_.keys).distinct
    } yield s"$q.$k" -> Main.median(tracedPasses.toSeq.flatMap(_.get(q)).flatMap(_.get(k)))
    val counters = passSpans.toSeq.map(Trace.subtree)
    def med(f: Counters => Double) = Main.median(counters.map(f))
    // the count() action beside the noop one: memos stay warm, as in
    // a harness that times `fn(spark, dir).count()` after a first run
    val lastNoop = tracedPasses.lastOption.getOrElse(Map.empty)
    Trace.on = false
    countRecord = queries.map { q =>
      val t0 = System.nanoTime()
      val counted = attempt(tally, s"$q count")(registry(q)(spark, in).count())
      q -> Map("count_s" -> (if (counted.isDefined) Main.seconds(t0) else Double.NaN),
        "noop_s" -> lastNoop.get(q).map(m => m("build_s") + m("action_s")).getOrElse(Double.NaN))
    }.toMap
    perQuery.toMap ++ Map(
      "spark.task_s" -> med(_.runMs / 1e3),
      "spark.gc_ms" -> med(_.gcMs.toDouble),
      "spark.shuffle_write_mb" -> med(_.shuffleWriteBytes / 1e6),
      "spark.spill_mb" -> med(_.spillBytes / 1e6),
      "spark.peak_exec_mb" -> med(_.peakExecBytes / 1e6))
  }

  override def extra: Map[String, Any] = Map("count_vs_noop" -> countRecord,
    "memo_problems" -> memoProblems.toSeq)

  /** Write each query's oracle SQL for the DuckDB parity check over
    * the outputs of the first warm-up pass; the memo accounting of
    * traced passes is checked here too.
    */
  def check(spark: SparkSession): Seq[(String, Boolean, String)] = {
    val oracle = SparkEntry.oracleSql
    val sqls = new java.util.LinkedHashMap[String, String]()
    queries.foreach { q =>
      oracle.get(q).foreach(sql => sqls.put(q,
        sql.replace(SparkEntry.RecallDirToken, SparkEntry.recallDumpDir(in))))
    }
    val unchecked = queries.filterNot(oracle.contains)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new File(work, "oracle_sql.json"), sqls)
    Seq(("operator_mix.memo_accounting", memoProblems.isEmpty,
      if (memoProblems.isEmpty) "each pass's memo_builds sum to its distinct memos"
      else memoProblems.mkString("; ")),
      ("operator_mix.oracles", unchecked.isEmpty,
        if (unchecked.isEmpty) "every query has an oracle twin"
        else s"no oracle twin for ${unchecked.mkString(", ")}"))
  }
}
