package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType,
  TimestampNTZType}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  * In a deployment the Cassandra-connector source would sit behind the
  * same signature (SURVEY.md §2 F1/F2); parquet is the offline stand-in
  * mandated by the driver contract.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp normalization for fixture columns — the generator has
    * shipped two flavors across rounds, and the engine accepts both:
    *
    *  - TIMESTAMP(NANOS): Spark has no nanosecond timestamp; with the
    *    nanosAsLong conf the column surfaces as LongType, truncated
    *    here to micros (exactly DuckDB's implicit ns→µs cast).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ, which event-time watermarks and unix_micros
    *    reject. The session time zone is pinned UTC (Sessions), so
    *    casting to TIMESTAMP preserves the wall clock AND gives epoch
    *    arithmetic identical to DuckDB's naive-timestamp epoch_us.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val fixes: Seq[(String, Column)] = df.schema.fields.collect {
      case StructField(n, LongType, _, _) if n == "ts" =>
        n -> expr(s"timestamp_micros($n div 1000)")
      case StructField(n, TimestampNTZType, _, _) =>
        n -> col(n).cast("timestamp")
    }.toSeq
    fixes.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
  }

  /** The reference's Cassandra connection surface (Query.java:44-79
    * CLI options + Query.java:127-143 Cluster.builder), as data. The
    * CLI options map one-for-one; the four builder tuning constants
    * are the reference's hard-wired values, surfaced as defaults so a
    * migration can keep or change them.
    *
    * `host` holds the comma-separated contact points exactly as the
    * reference's `--host` takes them (Query.java:89-91 splits on
    * comma; the connector key accepts the same comma form). Defaults
    * mirror the reference: localhost, 9042, no auth.
    */
  final case class CassandraConf(
      host: String = "localhost",              // --host (Query.java:90)
      port: Int = 9042,                        // --port (Query.java:96)
      user: Option[String] = None,             // --user (Query.java:100)
      pass: String = "",                       // --pass (Query.java:102)
      readTimeoutMs: Int = 40000,              // SocketOptions (Q:133)
      reconnectMinMs: Long = 500L,             // ExponentialReconnection
      reconnectMaxMs: Long = 300000L,          //   Policy(500, 300000) (Q:134)
      fetchSize: Int = 1000)                   // _batchSize (Q:31,152)

  /** The option-for-option mapping from [[CassandraConf]] to the
    * public spark-cassandra-connector keys — the F2 wiring a
    * connected deployment passes to `spark.read.format(
    * "org.apache.spark.sql.cassandra")`. The reference builds TWO
    * distinct clusters (Query.java:127-143): the credentialed branch
    * sets credentials + the ExponentialReconnectionPolicy + the retry
    * policy, while the unauthenticated branch sets ONLY contact
    * points, port, and the 40 s read timeout — so the reconnection
    * delays and the consistency floor here follow the auth keys into
    * the credentialed branch and are absent without credentials,
    * exactly like the reference (the connector's own defaults apply
    * then, as the bare driver's did for the reference's no-auth
    * cluster). The fetch size rides both branches: the reference sets
    * it per Statement (Q:31,152), independent of the builder.
    *
    * One documented divergence: the reference's
    * DowngradingConsistencyRetryPolicy (Q:136) has no driver-4.x
    * equivalent (the policy was removed upstream); the public
    * migration guidance is to pin the lowest consistency level the
    * app accepts up front, which for this read-only export is the
    * LOCAL_ONE floor that policy would downgrade to.
    */
  def cassandraOptions(c: CassandraConf): Map[String, String] = {
    val base = Map(
      "spark.cassandra.connection.host" -> c.host,
      "spark.cassandra.connection.port" -> c.port.toString,
      "spark.cassandra.read.timeoutMS" -> c.readTimeoutMs.toString,
      "spark.cassandra.input.fetch.sizeInRows" -> c.fetchSize.toString)
    c.user.fold(base)(u => base ++ Map(
      "spark.cassandra.auth.username" -> u,
      "spark.cassandra.auth.password" -> c.pass,
      "spark.cassandra.connection.reconnectionDelayMS.min" ->
        c.reconnectMinMs.toString,
      "spark.cassandra.connection.reconnectionDelayMS.max" ->
        c.reconnectMaxMs.toString,
      "spark.cassandra.input.consistency.level" -> "LOCAL_ONE"))
  }

  /** The live F2 leg: read one Cassandra table through the public
    * connector, with the reference's whole connection surface applied.
    * Compiles against the stable DataFrameReader API alone; invoking
    * it requires the spark-cassandra-connector jar on the classpath
    * (absent in this offline environment — the call then fails loudly
    * in `format` resolution, the F13 fail-loud convention, rather
    * than silently reading nothing). The offline stand-in with the
    * same signature shape is [[load]]; both sit behind
    * [[graft.operators.DocSource]].
    */
  def loadCassandra(spark: SparkSession, conf: CassandraConf,
      keyspace: String, table: String): DataFrame =
    spark.read.format("org.apache.spark.sql.cassandra")
      .options(cassandraOptions(conf))
      .option("keyspace", keyspace)
      .option("table", table)
      .load()

  /** Hash-spread `df` on `key` over `defaultParallelism` partitions.
    * A parquet file written as a single row group reads as ONE task
    * however large it is, and every narrow step above the scan (an
    * explode, a per-row hash) inherits that one task: a gram
    * self-join over such a scan runs its explode, join side and
    * partial aggregate on one core. Spreading the cheap input rows
    * first puts that work on every core for the price of one small
    * shuffle. This is the only place the workaround lives; call it
    * right before the expensive per-row step. [[load]] deliberately
    * does not spread: most queries start with a cheap filter or
    * aggregate, where the extra exchange would only add cost.
    */
  def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col(key))

  /** The schema Spark's parquet inference gives `path`, read from ONE
    * parquet footer on the driver, so no Spark job runs. The file is the one
    * Spark's inference reads with `mergeSchema` off: `path` itself when
    * it is a file, else the first data file under it in sorted path
    * order (a name starting with `_` or `.` is not data, except a
    * `k=v` partition directory). Files that disagree with it are not
    * merged, exactly as in Spark. A missing path, or a directory with
    * no data file, fails here and names the path.
    *
    * Spark has no nanosecond timestamp: a TIMESTAMP(NANOS) column
    * converts only on a session built with `nanosAsLong`
    * ([[Sessions.builder]] sets it at construction — flipping it here
    * would leak a session-global conf change as a read side effect),
    * and fails with that guidance otherwise.
    */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = Bridge.hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root))
      throw new java.io.FileNotFoundException(s"parquet table $path does not exist")
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isFile) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    val file = leaves(fs.getFileStatus(root)).minByOption(_.getPath.toString)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"parquet table $path holds no data file"))
    try Bridge.parquetSchema(spark, conf, file)
    catch {
      case e: AnalysisException if e.getMessage.contains("TIMESTAMP(NANOS") =>
        throw new IllegalStateException(s"$path has a TIMESTAMP(NANOS) " +
          "column: build the session with graft.Sessions.builder (or set " +
          "spark.sql.legacy.parquet.nanosAsLong=true at construction)", e)
    }
  }

  /** The parquet table at `path`, opened under [[schemaOf]]: no job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(parquet(spark, s"$dir/$name.parquet"))
}
