package org.apache.spark.sql.graftshim

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Compile-time bridge into Spark's `private[sql]` and `private[spark]`
  * internals. Spark 4 removed the public `Column(expr)` constructor
  * (Column is now backed by a `ColumnNode`); the supported internal
  * path is `org.apache.spark.sql.classic.ExpressionUtils`. This object
  * lives under `org.apache.spark.sql` purely to satisfy those access
  * qualifiers — it contains no Spark code.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function backed by a Catalyst expression
    * builder (the SQL-surface twin of the Column API — lets
    * `spark.sql("SELECT sdbm_hash(...)")` resolve without a UDF).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** The JSON factory `from_json` builds under its default options. */
  def jsonFactory(): JsonFactory =
    new JSONOptions(Map.empty[String, String], "UTC", "_corrupt_record")
      .buildJsonFactory()

  /** The parser `from_json` opens over a string value. */
  def jsonParser(factory: JsonFactory, s: UTF8String): JsonParser =
    CreateJacksonParser.utf8String(factory, s)

  /** Whether `rdd` is marked for a local checkpoint, materialized or
    * not (`RDD.isCheckpointed` turns true only once it is computed).
    */
  def isLocallyCheckpointed(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])

  /** Block until every listener event posted so far is delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The session's Hadoop conf, as its file sources build it. */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** The schema Spark's parquet inference reads from `file`: its footer
    * without row groups, through the Spark row-metadata schema when the
    * file carries one, else Spark's converter under the session's conf.
    * Nullable throughout, as a file source's relation makes it.
    */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession,
      conf: Configuration, file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }
}
