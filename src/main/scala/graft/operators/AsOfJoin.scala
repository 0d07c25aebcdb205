package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join: for each left row, attach the latest
  * right row with the same key and `rightTime <= leftTime` — the
  * operator the prompt's custom-op ladder names first. Built by
  * COMPOSITION (preference (a)): tag both sides, union, and take
  * `last(non-null right, ignoreNulls)` over a key-partitioned window
  * ordered by (time, side). One shuffle on the key, no range
  * cross-product, works at any skewless scale; a custom
  * LogicalPlan/Strategy is not needed because the built-ins express
  * the semantics exactly (SURVEY.md §4 verdict).
  *
  * Ties: a right row at exactly leftTime matches (inclusive), because
  * the side tag sorts right(0) before left(1) at equal times. Callers
  * should dedupe the right side to unique (key, time) first if
  * multiple right rows can share a timestamp — as-of semantics are
  * otherwise ambiguous on every engine.
  */
object AsOfJoin {

  /** Left as-of join. Output: all left columns plus `rightCols` from
    * the matched right row (null when no right row precedes).
    */
  def asofJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTime: String, rightTime: String,
      rightCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val leftCols = left.columns.toSeq
    val lvType = StructType(leftCols.map(c => left.schema(c)))
    val rvType = StructType(rightCols.map(c => right.schema(c)))
    val l = left.select(
      col(leftKey).as("__k"), col(leftTime).as("__t"), lit(1).as("__side"),
      struct(leftCols.map(col): _*).as("__lv"),
      lit(null).cast(rvType).as("__rv"))
    val r = right.select(
      col(rightKey).as("__k"), col(rightTime).as("__t"), lit(0).as("__side"),
      lit(null).cast(lvType).as("__lv"),
      struct(rightCols.map(col): _*).as("__rv"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r)
      .withColumn("__match", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val projected = leftCols.map(c => col("__lv").getField(c).as(c)) ++
      rightCols.map(c => col("__match").getField(c).as(c))
    matched.select(projected: _*)
  }

  /** Nearest-within-tolerance join — [[asofJoin]]'s bidirectional
    * sibling (sensor/event alignment: match each left row to the
    * CLOSEST right row in time, either direction, but only within
    * `toleranceUs`). Same composition, two window passes instead of
    * one: the backward candidate is `last(right, ignoreNulls)` over
    * the running frame, the forward candidate `first(right,
    * ignoreNulls)` over the frame from the current row on; candidates
    * are tolerance-filtered FIRST, then the nearer wins (ties to the
    * backward side — deterministic). Still ONE shuffle on the key, no
    * range cross-product.
    *
    * Contract: time columns are LONG (epoch micros — exact gap
    * arithmetic); right side must be unique per (key, time) like
    * [[asofJoin]]. Output: left columns + `rightCols` (null when no
    * right row within tolerance) + `gap_us` (null likewise).
    */
  def nearestJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTime: String, rightTime: String,
      rightCols: Seq[String], toleranceUs: Long): DataFrame = {
    import org.apache.spark.sql.types.StructType
    require(toleranceUs >= 0)
    val leftCols = left.columns.toSeq
    val lvType = StructType(leftCols.map(c => left.schema(c)))
    val rvType = StructType(rightCols.map(c => right.schema(c)))
    val l = left.select(
      col(leftKey).as("__k"), col(leftTime).as("__t"),
      lit(1).as("__side"),
      struct(leftCols.map(col): _*).as("__lv"),
      lit(null).cast(rvType).as("__rv"),
      lit(null).cast("long").as("__rt"))
    val r = right.select(
      col(rightKey).as("__k"), col(rightTime).as("__t"),
      lit(0).as("__side"),
      lit(null).cast(lvType).as("__lv"),
      struct(rightCols.map(col): _*).as("__rv"),
      col(rightTime).cast("long").as("__rt"))
    val base = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
    val wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val m = l.unionByName(r)
      .withColumn("__bv", last(col("__rv"), ignoreNulls = true).over(wb))
      .withColumn("__bt", last(col("__rt"), ignoreNulls = true).over(wb))
      .withColumn("__fv", first(col("__rv"), ignoreNulls = true).over(wf))
      .withColumn("__ft", first(col("__rt"), ignoreNulls = true).over(wf))
      .filter(col("__side") === 1)
      .withColumn("__bg", col("__t") - col("__bt"))
      .withColumn("__fg", col("__ft") - col("__t"))
      .withColumn("__bok",
        col("__bt").isNotNull && col("__bg") <= toleranceUs)
      .withColumn("__fok",
        col("__ft").isNotNull && col("__fg") <= toleranceUs)
      .withColumn("__pick",
        when(col("__bok") && (!col("__fok") || col("__bg") <= col("__fg")),
          struct(col("__bv").as("v"), col("__bg").as("g")))
          .when(col("__fok"),
            struct(col("__fv").as("v"), col("__fg").as("g"))))
    val projected = leftCols.map(c => col("__lv").getField(c).as(c)) ++
      rightCols.map(c => col("__pick.v").getField(c).as(c)) :+
      col("__pick.g").as("gap_us")
    m.select(projected: _*)
  }
}
