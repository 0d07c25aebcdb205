package graft.functions

import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.coalesce
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JSON-int-matrix → `<mem>` markup — reference `parseString`
  * (Query.java:279-301). A string value that parses as a list of
  * integer arrays renders each inner array as `<mem>i1 i2 …</mem>`,
  * concatenated; anything else falls back to the raw text. The
  * CDATA-vs-text decision this feeds lives in the XML formatter
  * (XmlPipe).
  *
  * One codegen'd kernel ([[MemMarkupExpr]], `mem_markup`) tokenizes the
  * value once with the JSON factory and parser `from_json` uses, so it
  * accepts exactly what `from_json(v, 'array<array<string>>')` followed
  * by a strict per-cell int check accepted (that formulation is the
  * parity oracle in `MemMarkupSpec`):
  *  - only a value whose first byte is `[` and last byte is `]` can be
  *    markup — a `{…}` object can never be a `List<Integer[]>`;
  *  - every element of the root array is an array, and every cell is
  *    either a JSON integer that fits an int or a string matching
  *    `^[+-]?\d+$` (ASCII digits) whose value fits an int — Jackson's
  *    `List<Integer[]>` mapper coerces `"1"` → 1 via
  *    `Integer.parseInt`, so `[["01","+5"]]` IS markup in the
  *    reference;
  *  - a null, float, boolean, nested or out-of-range cell makes the
  *    whole value fall back (a null cell made the reference NPE inside
  *    its own try/catch → fallback);
  *  - the token grammar is `from_json`'s: single quotes and `\u`
  *    escapes are accepted, leading zeros are not, and content after
  *    the root array is ignored (`[[1]] [[2]]` → `<mem>1</mem>`);
  *  - `[]` renders as `""` (still markup), `[[]]` as `<mem></mem>`.
  * Remaining documented divergence: Jackson's ACCEPT_FLOAT_AS_INT
  * truncation (`[[1.5]]` → `<mem>1</mem>`) is not replicated — float
  * cells fall back to raw text here.
  */
object MemMarkup {
  /** The `<mem>` markup of a matrix value; null for anything else. */
  def markup(c: Column): Column =
    Bridge.column(MemMarkupExpr(Bridge.expression(c)))

  /** True when the value will be emitted as parsed `<mem>` markup. */
  def isMem(c: Column): Column = markup(c).isNotNull

  /** The markup-or-original value: `<mem>…</mem>` concatenation when
    * the strict parse succeeds, the raw text otherwise (never null for
    * non-null input).
    */
  def memMarkup(c: Column): Column = coalesce(markup(c), c)

  private lazy val factory: JsonFactory = Bridge.jsonFactory()
  private val IntCell = java.util.regex.Pattern.compile("^[+-]?\\d+$")

  /** The kernel behind [[MemMarkupExpr]]: markup, or null. */
  def render(s: UTF8String): UTF8String = {
    val n = s.numBytes
    if (n < 2 || s.getByte(0) != '[' || s.getByte(n - 1) != ']') return null
    val p = Bridge.jsonParser(factory, s)
    try {
      p.nextToken() // the root START_ARRAY
      val out = new java.lang.StringBuilder
      val w = new UTF8String.IntWrapper
      var row = p.nextToken()
      while (row != JsonToken.END_ARRAY) {
        if (row != JsonToken.START_ARRAY) return null
        out.append("<mem>")
        var cell = p.nextToken()
        var first = true
        while (cell != JsonToken.END_ARRAY) {
          if (!intCell(p, cell, w)) return null
          if (!first) out.append(' ')
          out.append(w.value)
          first = false
          cell = p.nextToken()
        }
        out.append("</mem>")
        row = p.nextToken()
      }
      UTF8String.fromString(out.toString)
    } catch {
      case NonFatal(_) => null // malformed JSON: from_json's null
    } finally p.close()
  }

  /** Whether the current token is an int cell, its value into `w`. */
  private def intCell(p: JsonParser, t: JsonToken,
      w: UTF8String.IntWrapper): Boolean = t match {
    case JsonToken.VALUE_NUMBER_INT =>
      p.getNumberType == JsonParser.NumberType.INT && {
        w.value = p.getIntValue; true
      }
    case JsonToken.VALUE_STRING =>
      val text = p.getText
      IntCell.matcher(text).find() && UTF8String.fromString(text).toInt(w)
    case _ => false
  }
}

/** `mem_markup(string) → string` — the `<mem>` markup of a JSON int
  * matrix, null otherwise (see [[MemMarkup]]); one codegen'd pass.
  */
case class MemMarkupExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mem_markup expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "mem_markup"
  protected override def nullSafeEval(input: Any): Any =
    MemMarkup.render(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MemMarkup.render($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(c: Expression): MemMarkupExpr =
    copy(child = c)
}
