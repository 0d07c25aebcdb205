package org.apache.spark.sql.graftshim

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.spark.SparkContext
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions}
import org.apache.spark.sql.classic.ExpressionUtils
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
}
