package graft.sources

import java.nio.charset.StandardCharsets
import java.util

import graft.operators.XmlPipe
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the xmlpipe2 docset format, and the
  * engine's only docset codec ([[XmlPipe.writeShardedDocsets]] and
  * [[XmlPipe.readDocset]] are this connector):
  *
  *   spark.read.format("xmlpipe2").option("fields", "text,source")
  *     .load(shardDir)
  *
  * It is the same `TableProvider`/`Scan`/`PartitionReader` seam a
  * Cassandra source (F1/F2, Query.java:127-143) plugs into in a
  * connected deployment. One input partition per shard file, and
  * column pruning pushes into the scan: `select(one field)` parses only
  * that field per fragment, visible as the BatchScan's readSchema.
  *
  * Schema: `id` (long, from the document attribute) plus one string
  * column per requested field (absent field → empty string, the
  * xmlpipe2 convention; entities unescaped by [[DocsetSource.unescape]]).
  * Each reader streams its shard and holds one fragment at a time.
  * Local filesystem only, like all other I/O in the engine.
  */
class DocsetSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xmlpipe2"
  // writes carry the dataframe's own schema (the (id, doc) contract);
  // reads without one fall back to inferSchema from the fields option
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DocsetSource.schemaFor(DocsetSource.fields(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DocsetTable(schema, new CaseInsensitiveStringMap(properties))
}

object DocsetSource {
  private[sources] def fields(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("fields")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  private[sources] def schemaFor(fields: Seq[String]): StructType =
    StructType(StructField("id", LongType, nullable = false) +:
      fields.map(f => StructField(f, StringType, nullable = false)))

  /** The one xmlpipe2 unescape, inverse of [[XmlPipe.escapeText]]:
    * amp-last, so escape∘unescape is the identity even for text that
    * literally contains entities. */
  private[sources] def unescape(raw: String): String =
    raw.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")

  /** List shard files under `path` (skips hidden/_SUCCESS entries). */
  private[sources] def shardFiles(path: String): Seq[String] = {
    val f = new java.io.File(path)
    if (f.isFile) Seq(f.toString)
    else Option(f.listFiles()).fold(Seq.empty[String])(_.toSeq
      .filter(c => c.isFile && !c.getName.startsWith("_") &&
        !c.getName.startsWith("."))
      .map(_.toString).sorted)
  }
}

private[sources] class DocsetTable(tableSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"xmlpipe2 ${options.get("path")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  private def path: String = Option(options.get("path"))
    .getOrElse(throw new IllegalArgumentException(
      "xmlpipe2 source requires a path"))
  override def newScanBuilder(
      caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new DocsetScanBuilder(tableSchema, path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DocsetWriteBuilder(info.schema(), path)
}

/** Write side of the connector: the input contract is the formatted
  * `(id, doc)` frame [[graft.operators.XmlPipe.formatDocs]] produces;
  * each task writes one individually-well-formed docset shard
  * ([[XmlPipe.Header]] + its partition's `doc` bytes +
  * [[XmlPipe.Footer]], byte for byte what [[XmlPipe.writeDocset]]
  * emits for that partition) to a temp file in the job's HIDDEN
  * staging dir, and the JOB commit performs the swap — move every
  * temp onto its final name `part-NNNNN.xml`, then delete the stale
  * `part-*` files an earlier write left — so a job that dies with
  * some tasks committed leaves the OLD docset fully intact (task
  * failures never touch visible files; job abort deletes the staging
  * dir).
  * Only `mode("overwrite")` is supported: shard names derive from
  * partition ids, so an append would collide with the prior write's
  * names — rejected loudly rather than silently replacing data.
  */
private[sources] class DocsetWriteBuilder(schema: StructType, path: String)
    extends WriteBuilder with SupportsTruncate {
  require(schema.fieldNames.contains("doc"),
    s"xmlpipe2 write expects the formatted (id, doc) frame, " +
      s"got ${schema.fieldNames.mkString(", ")}")
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    if (!doTruncate)
      throw new IllegalArgumentException(
        "xmlpipe2 write supports mode(\"overwrite\") only: shard names " +
          "derive from partition ids, so append would silently replace " +
          "the prior write's shards")
    new Write {
      override def toBatch: BatchWrite = new DocsetBatchWrite(schema, path)
    }
  }
}

private[sources] class DocsetBatchWrite(schema: StructType, path: String)
    extends BatchWrite {
  // the job's temps live in one hidden dir that abort deletes whole: a
  // task still running when the job fails, or one whose commit Spark
  // no longer reports, leaves nothing beside the shards
  private val staging =
    new java.io.File(path, s"_staging-${java.util.UUID.randomUUID()}")
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    staging.mkdirs()
    new DocsetWriterFactory(schema.fieldIndex("doc"), staging.toString)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // the swap runs only once EVERY task has succeeded, and its order
    // matters for crash atomicity: move each temp into its final name
    // FIRST (same-filesystem move, so each individual swap is atomic),
    // THEN delete only the stale shards a previous wider write left
    // behind. A driver crash mid-commit thus leaves every shard name
    // with a complete file (old or new) — delete-first left a window
    // where neither generation existed.
    val fresh = messages.map { case DocsetCommit(tmpPath, partitionId) =>
      val name = f"part-$partitionId%05d.xml"
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmpPath),
        new java.io.File(path, name).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      name
    }.toSet
    Option(new java.io.File(path).listFiles()).foreach(_.foreach { f =>
      if (f.isFile && f.getName.startsWith("part-") &&
          !fresh.contains(f.getName)) f.delete()
    })
    dropStaging()
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    dropStaging()
  private def dropStaging(): Unit = {
    Option(staging.listFiles()).foreach(_.foreach(_.delete()))
    staging.delete()
  }
}

private[sources] class DocsetWriterFactory(docIdx: Int, staging: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DocsetShardWriter(docIdx, staging, partitionId)
}

private[sources] case class DocsetCommit(tmpPath: String, partitionId: Int)
    extends WriterCommitMessage

private[sources] class DocsetShardWriter(docIdx: Int, staging: String,
    partitionId: Int) extends DataWriter[InternalRow] {
  private val tmp = java.io.File.createTempFile(
    s"_shard_$partitionId-", ".tmp", new java.io.File(staging))
  // the `doc` values' own UTF-8 bytes, as XmlPipe.writeDocset emits them
  private val out = new java.io.BufferedOutputStream(
    new java.io.FileOutputStream(tmp), 1 << 16)
  out.write(XmlPipe.Header.getBytes(StandardCharsets.UTF_8))

  override def write(record: InternalRow): Unit =
    record.getUTF8String(docIdx).writeTo(out)
  override def commit(): WriterCommitMessage = {
    out.write(XmlPipe.Footer.getBytes(StandardCharsets.UTF_8))
    out.close()
    // no rename here: visibility is the JOB commit's decision
    DocsetCommit(tmp.toString, partitionId)
  }
  override def abort(): Unit = { out.close(); tmp.delete() }
  override def close(): Unit = ()
}

/** Conjunctive bound on the document id, compiled from the pushed
  * filters. The id is the cheapest field in a fragment — it is parsed
  * from the fragment PREFIX before any element extraction or entity
  * unescaping — so a pushed id predicate lets the reader skip
  * non-matching documents at ~zero cost (the text-format analog of
  * parquet row-group skipping). Pushdown is advisory, parquet-style:
  * Spark re-evaluates every filter post-scan, so a bound here can
  * only skip rows the filter would drop anyway.
  */
private[graft] case class DocsetIdBound(lo: Long = Long.MinValue,
    hi: Long = Long.MaxValue, in: Option[Set[Long]] = None) {
  def matches(id: Long): Boolean =
    id >= lo && id <= hi && in.forall(_.contains(id))
  def isTrivial: Boolean =
    lo == Long.MinValue && hi == Long.MaxValue && in.isEmpty
  override def toString: String = {
    val parts =
      (if (lo != Long.MinValue) Seq(s"id >= $lo") else Nil) ++
      (if (hi != Long.MaxValue) Seq(s"id <= $hi") else Nil) ++
      in.map(s => s"id IN {${s.toSeq.sorted.mkString(",")}}").toSeq
    parts.mkString(" AND ")
  }
}

private[graft] object DocsetIdBound {
  import org.apache.spark.sql.sources._

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None // non-integral comparands stay post-scan only
  }

  /** (bound, accepted) — filters not on `id` or not representable
    * stay unaccepted and are evaluated by Spark alone.
    */
  def compile(filters: Array[Filter]): (DocsetIdBound, Array[Filter]) =
    filters.foldLeft((DocsetIdBound(), Array.empty[Filter])) {
      case ((b, acc), f) =>
        val next = f match {
          case EqualTo("id", v) =>
            asLong(v).map(l => b.copy(lo = b.lo max l, hi = b.hi min l))
          case GreaterThan("id", v) =>
            // l+1 would wrap at MaxValue: id > MaxValue matches nothing
            asLong(v).map(l =>
              if (l == Long.MaxValue) b.copy(lo = Long.MaxValue, hi = Long.MinValue)
              else b.copy(lo = b.lo max (l + 1)))
          case GreaterThanOrEqual("id", v) =>
            asLong(v).map(l => b.copy(lo = b.lo max l))
          case LessThan("id", v) =>
            // l-1 would wrap at MinValue: id < MinValue matches nothing
            asLong(v).map(l =>
              if (l == Long.MinValue) b.copy(lo = Long.MaxValue, hi = Long.MinValue)
              else b.copy(hi = b.hi min (l - 1)))
          case LessThanOrEqual("id", v) =>
            asLong(v).map(l => b.copy(hi = b.hi min l))
          case In("id", vs) =>
            val ls = vs.flatMap(asLong)
            if (ls.length == vs.length)
              Some(b.copy(in = Some(b.in.fold(ls.toSet)(_ intersect ls.toSet))))
            else None
          case _ => None
        }
        next.fold((b, acc))(nb => (nb, acc :+ f))
    }
}

private[sources] class DocsetScanBuilder(full: StructType, path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {
  private var required: StructType = full
  private var bound: DocsetIdBound = DocsetIdBound()
  private var accepted: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var countPushed = false
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val (b, acc) = DocsetIdBound.compile(filters)
    bound = b
    accepted = acc
    // return ALL filters as residual: the bound only skips rows the
    // filters would drop, so Spark's re-evaluation keeps every
    // non-representable predicate (and the accepted ones) exact
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    accepted
  /** Ungrouped COUNT(*) answered by counting fragment delimiters —
    * no per-field parse, no unescape, no UTF8String per row. PARTIAL
    * pushdown (one pre-counted row per shard, Spark sums them), so
    * the final aggregate stays engine-side and AQE-visible. Spark
    * only attempts this when every filter was fully consumed; this
    * builder keeps all filters residual (see pushFilters), so a scan
    * with any predicate never reaches here — belt and braces, the
    * trivial-bound check below would refuse it anyway.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean = false
  override def pushAggregation(agg: Aggregation): Boolean = {
    val ok = bound.isTrivial && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar]
    if (ok) countPushed = true
    ok
  }
  override def build(): Scan = new DocsetScan(required, path, bound, countPushed)
}

/** Batch scan: one input partition per shard file. Under COUNT(*)
  * pushdown (`countOnly`) each shard yields one pre-counted row, summed
  * by Spark's final aggregate. A path that does not exist fails naming
  * it, so a mistyped path cannot read as an empty docset (an existing
  * empty directory still reads as no shards).
  */
private[sources] class DocsetScan(required: StructType, path: String,
    bound: DocsetIdBound = DocsetIdBound(), countOnly: Boolean = false)
    extends Scan with Batch {
  override def readSchema(): StructType =
    if (countOnly)
      StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    else required
  override def toBatch: Batch = this
  override def description(): String =
    if (countOnly) s"xmlpipe2 $path PushedAggregation: [COUNT(*)]"
    else s"xmlpipe2 $path ${required.fieldNames.mkString("[", ",", "]")}" +
      (if (bound.isTrivial) "" else s" PushedIdBound: [$bound]")
  override def planInputPartitions(): Array[InputPartition] = {
    if (!new java.io.File(path).exists())
      throw new java.io.FileNotFoundException(
        s"xmlpipe2: path does not exist: $path")
    DocsetSource.shardFiles(path).map(DocsetPartition.apply).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new DocsetReaderFactory(required, bound, countOnly)
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new DocsetMicroBatchStream(required, path)
}

/** Streaming read — continuous docset ingestion (`readStream.format
  * ("xmlpipe2")`): each micro-batch picks up the shard files that
  * landed since the last one. The offset is the lexicographically
  * LARGEST file name processed so far; correctness therefore requires
  * producers to land files under lexicographically increasing names —
  * exactly what [[graft.operators.XmlPipe.writeStreamingDocsets]]'
  * `batch_<id>` naming and any timestamped landing convention give —
  * and files must be immutable once visible (land-then-rename, the
  * convention every writer in this engine follows). A file sorting
  * BELOW the watermark is never read; producers that cannot promise
  * ordered names should land through the batch connector instead.
  * The offset serializes as the plain name string, so checkpoints
  * are human-readable and restarts resume after the watermark.
  */
private[sources] case class DocsetNameOffset(name: String) extends Offset {
  override def json(): String = name
}

private[sources] class DocsetMicroBatchStream(required: StructType,
    path: String) extends MicroBatchStream {
  private def fileName(f: String): String = new java.io.File(f).getName

  override def initialOffset(): Offset = DocsetNameOffset("")
  override def latestOffset(): Offset = {
    val fs = DocsetSource.shardFiles(path)
    DocsetNameOffset(if (fs.isEmpty) "" else fs.map(fileName).max)
  }
  override def deserializeOffset(json: String): Offset =
    DocsetNameOffset(json)
  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[DocsetNameOffset].name
    val hi = end.asInstanceOf[DocsetNameOffset].name
    val files = DocsetSource.shardFiles(path)
      .filter(f => fileName(f) > lo && fileName(f) <= hi)
    // Recovery guard: an UNCOMMITTED batch replays through this exact
    // (lo, hi] range after a crash between sink commit and checkpoint
    // commit-log write. The offset is only the boundary NAME, so the
    // one deletion this source can detect — the shard that DEFINED
    // the end offset having vanished — must fail loud rather than
    // silently replay a smaller batch (the fail-loud discipline of
    // the batch reader's malformed-id path). Shards at or below `lo`
    // are committed and safe to retire (retention/TTL); interior
    // deletions inside an in-flight range are covered by the
    // land-then-rename immutability contract in the class scaladoc.
    if (hi.nonEmpty && hi > lo && !files.exists(f => fileName(f) == hi))
      throw new IllegalStateException(
        s"xmlpipe2 streaming recovery: offset shard '$hi' is missing " +
          s"from $path — it was deleted before its micro-batch " +
          "committed; shards may only be retired once their batch is " +
          "in the commit log")
    files.map(DocsetPartition.apply).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new DocsetReaderFactory(required)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class DocsetPartition(file: String)
    extends InputPartition

private[sources] class DocsetReaderFactory(required: StructType,
    bound: DocsetIdBound = DocsetIdBound(), countOnly: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[DocsetPartition].file
    if (countOnly) new DocsetCountReader(file)
    else new DocsetPartitionReader(file, required, bound)
  }
}

/** COUNT(*) pushdown: one row, the shard's fragment delimiters as
  * counted by [[DocsetScanner]], with no fragment kept or parsed. */
private[sources] class DocsetCountReader(file: String)
    extends PartitionReader[InternalRow] {
  private var count = -1L
  override def next(): Boolean = count < 0 && {
    val scanner = new DocsetScanner(new java.io.FileInputStream(file))
    count = 0
    try while (scanner.advance(null)) count += 1 finally scanner.close()
    true
  }
  override def get(): InternalRow = new GenericInternalRow(Array[Any](count))
  override def close(): Unit = ()
}

/** Streams one shard, one row per [[DocsetScanner]] fragment (one
  * held at a time, never the shard), parsing only the pruned columns.
  */
private[sources] class DocsetPartitionReader(file: String,
    required: StructType, bound: DocsetIdBound = DocsetIdBound())
    extends PartitionReader[InternalRow] {
  private val scanner = new DocsetScanner(new java.io.FileInputStream(file))
  // the bytes before the first delimiter are the docset header
  private var more = scanner.advance(null)
  private val bytes = new java.io.ByteArrayOutputStream(1 << 12)
  private var current: InternalRow = _

  // no bound pushed → don't even parse the id prefix per fragment
  private val trivialBound = bound.isTrivial

  override def next(): Boolean = {
    // pushed id bound: decide on the fragment PREFIX (the id
    // attribute) before paying element extraction + unescape for a
    // document the filter would drop anyway. The parsed id is handed
    // to parse() so accepted fragments never pay the prefix scan twice.
    while (more) {
      bytes.reset()
      more = scanner.advance(bytes)
      val frag = bytes.toString(StandardCharsets.UTF_8)
      val id: java.lang.Long =
        if (trivialBound) null else parseId(frag)
      if (trivialBound || bound.matches(id)) {
        current = parse(frag, id)
        return true
      }
    }
    false
  }

  private def parseId(frag: String): java.lang.Long = {
    // a non-numeric id fails naming the file: a data error, not a
    // bare NumberFormatException from a nameless task
    val prefix = frag.takeWhile(_ != '"')
    try java.lang.Long.valueOf(prefix)
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$file: malformed sphinx:document id attribute " +
            s"'${prefix.take(32)}' (expected a decimal long)")
    }
  }
  override def get(): InternalRow = current
  override def close(): Unit = scanner.close()

  private def parse(frag: String, preParsedId: java.lang.Long): InternalRow =
    new GenericInternalRow(required.fields.map[Any] { f =>
      if (f.name == "id") {
        if (preParsedId ne null) preParsedId else parseId(frag)
      } else {
        // an absent or unclosed element reads as ""
        val open = frag.indexOf(s"<${f.name}>")
        val from = open + f.name.length + 2
        val end = if (open < 0) -1 else frag.indexOf(s"</${f.name}>", from)
        UTF8String.fromString(
          if (end < 0) "" else DocsetSource.unescape(frag.substring(from, end)))
      }
    })
}

/** The one fragment-delimiter scanner of the xmlpipe2 format: finds
  * each newline + document open tag in a byte stream through one
  * reused buffer (ASCII, so a byte match is safe on UTF-8). The scan
  * always has a whole delimiter's length of buffer ahead of it — the
  * tail moves to the front before each refill — so a delimiter that
  * straddles two reads is matched in place.
  */
private[graft] final class DocsetScanner(in: java.io.InputStream,
    bufferBytes: Int = DocsetScanner.BufferBytes) extends java.io.Closeable {
  import DocsetScanner.Delimiter
  private val buf = new Array[Byte](bufferBytes max Delimiter.length)
  private var pos = 0
  private var lim = 0
  private var eof = false

  /** Consumes the input through the next delimiter, appending the
    * bytes before it to `sink` (null discards them). False when the
    * input ends first; `sink` then holds everything up to the end.
    */
  def advance(sink: java.io.ByteArrayOutputStream): Boolean = {
    def emit(to: Int): Unit = {
      if (sink != null) sink.write(buf, pos, to - pos)
      pos = to
    }
    while (true) {
      if (lim - pos < Delimiter.length && !eof) {
        System.arraycopy(buf, pos, buf, 0, lim - pos)
        lim -= pos
        pos = 0
        val n = in.read(buf, lim, buf.length - lim)
        if (n < 0) eof = true else lim += n
      } else {
        val last = lim - Delimiter.length // last start of a whole delimiter
        var i = pos
        while (i <= last && !(buf(i) == Delimiter(0) && java.util.Arrays.equals(
            buf, i, i + Delimiter.length, Delimiter, 0, Delimiter.length))) i += 1
        if (i <= last) {
          emit(i)
          pos += Delimiter.length
          return true
        }
        if (eof) { emit(lim); return false }
        emit(last + 1)
      }
    }
    false
  }

  override def close(): Unit = in.close()
}

private[graft] object DocsetScanner {
  val BufferBytes: Int = 1 << 16
  private val Delimiter =
    "\n<sphinx:document id=\"".getBytes(StandardCharsets.UTF_8)
}
