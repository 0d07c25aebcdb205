package graft.operators

import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter,
  SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV source/sink pair — the third interchange format beside parquet
  * and JSONL (SURVEY.md §2b sources/sinks): the format spreadsheets,
  * warehouses, and legacy exports still speak.
  *
  * CSV has no universal dialect, so this pair PINS one (RFC 4180
  * flavored) and uses it on both halves, making the sink
  * round-trippable through the source byte-for-value:
  *
  *   - header line, `,` delimiter, `"` quote, `""` quote-escape
  *     (escape char = quote char — RFC 4180, not backslash);
  *   - nulls as unquoted `\N` (Hive/MySQL convention), empty STRINGS
  *     quoted-empty (`""`) — the one place the dialect must take a
  *     stance, since vanilla CSV cannot distinguish the two;
  *   - timestamps at microsecond precision in UTC
  *     (`yyyy-MM-dd HH:mm:ss.SSSSSS`).
  *
  * Both halves are Spark's built-in distributed csv scan/sink (one
  * task per shard, no driver funnel); the wrapper only pins the
  * contract. Reads take an EXPLICIT schema — csv inference samples
  * the corpus and can flip types between runs — and fail loud by
  * default, with a quarantine variant for untrusted input.
  */
object CsvIO {

  // null vs empty string: Spark's reader folds BOTH the unquoted-empty
  // and quoted-empty (`""`) fields into nullValue (the read-side
  // emptyValue option is a replacement VALUE, not a matcher — there is
  // no setting that yields a true empty string), so the RFC-default
  // convention cannot round-trip the distinction. The dialect instead
  // adopts the Hive/MySQL `\N` null token: nulls write as unquoted \N,
  // empty strings as `""` → both re-read exactly. The literal 2-char
  // string "\N" is thereby reserved (it would be written unquoted and
  // re-read as null) — acceptable for a corpus interchange dialect,
  // and documented here.
  // timestampFormat carries microseconds: a second-precision pin
  // would silently truncate sub-second timestamps on write and break
  // the round-trip contract for any event-time column
  private val dialect: Map[String, String] = Map(
    "header" -> "true",
    "quote" -> "\"",
    "escape" -> "\"",
    "nullValue" -> "\\N",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")

  private val readOnlyOpts: Map[String, String] = Map(
    "multiLine" -> "true")

  private def pin[T](w: DataFrameWriter[T]): DataFrameWriter[T] =
    dialect.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
  // multiLine: quoted text columns may embed newlines (RFC 4180
  // allows it; this corpus is document text, so they WILL occur).
  // Cost at scale: a multiLine csv file is parsed whole, not split at
  // line boundaries — shard size, not the splitter, bounds read
  // parallelism. writeShards emits one shard per partition, so
  // round-trip parallelism is preserved; cap shard size upstream via
  // repartition when producing for other readers.
  private def pin(r: DataFrameReader): DataFrameReader =
    (dialect ++ readOnlyOpts).foldLeft(r) {
      case (acc, (k, v)) => acc.option(k, v)
    }

  /** Write one CSV shard per partition under `dir` (use
    * `df.repartition(n)` upstream to control shard count).
    */
  def writeShards(df: DataFrame, cols: Seq[String], dir: String): Unit =
    pin(df.select(cols.map(df.col): _*).write.mode("overwrite")).csv(dir)

  /** Read CSV shards with an explicit schema; any malformed line
    * fails the job.
    */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    pin(spark.read.option("mode", "FAILFAST").schema(schema)).csv(dir)

  /** Permissive read with a `_corrupt` quarantine column (raw line
    * where parsing failed, null for good lines). The parse is CACHED
    * before returning: Spark refuses queries that reference only the
    * corrupt column of a raw csv scan (the quarantine flow's first
    * move — `filter($"_corrupt".isNotNull)`), and the documented
    * workaround is materializing the parse first. Ingest batches are
    * the bounded input here; call `.unpersist()` when done.
    */
  def readWithCorrupt(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt"),
      "schema already has a _corrupt column")
    pin(spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(StructType(schema.fields :+
        org.apache.spark.sql.types.StructField("_corrupt",
          org.apache.spark.sql.types.StringType))))
      .csv(dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }
}
