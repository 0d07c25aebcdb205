package graft

import graft.functions.MemMarkup
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** F7 (reference Query.java:279-301): JSON int-matrix → <mem> markup,
  * everything else falls back to the raw text. The codegen'd kernel is
  * checked against [[MemMarkupSpec.Hof]], the `from_json` + higher-order
  * formulation it replaced.
  */
class MemMarkupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def run(values: Seq[String]): Seq[(String, Boolean)] = {
    import spark.implicits._
    values.toDF("v")
      .select(MemMarkup.memMarkup(col("v")).as("m"),
        MemMarkup.isMem(col("v")).as("f"))
      .as[(String, Boolean)].collect().toSeq
  }

  test("valid matrices render as <mem> blocks") {
    assert(run(Seq("[[1,2],[3]]")) == Seq(("<mem>1 2</mem><mem>3</mem>", true)))
    assert(run(Seq("[[10,20,30]]")) == Seq(("<mem>10 20 30</mem>", true)))
    assert(run(Seq("[]")) == Seq(("", true)))
    assert(run(Seq("[[1, 2] , [3]]")) == Seq(("<mem>1 2</mem><mem>3</mem>", true)))
  }

  test("quoted-int cells coerce like Jackson's Integer.parseInt") {
    assert(run(Seq("""[["1","2"],["3"]]""")) ==
      Seq(("<mem>1 2</mem><mem>3</mem>", true)))
    assert(run(Seq("""[["01","+5"]]""")) == Seq(("<mem>1 5</mem>", true)))
    // overflow throws in parseInt → reference fallback
    assert(run(Seq("""[[2147483648]]""")) == Seq(("[[2147483648]]", false)))
    // floats are a documented divergence: fallback here
    assert(run(Seq("[[1.5]]")) == Seq(("[[1.5]]", false)))
  }

  test("json objects fall back to raw text (List<Integer[]> can't parse them)") {
    assert(run(Seq("""{"k": 87}""")) == Seq(("""{"k": 87}""", false)))
  }

  test("malformed or mistyped json falls back to raw text") {
    assert(run(Seq("[[1,2]")) == Seq(("[[1,2]", false)))       // not bracketed-pair
    assert(run(Seq("[1,2]")) == Seq(("[1,2]", false)))         // flat ints
    assert(run(Seq("""[["a"]]""")) == Seq(("""[["a"]]""", false))) // non-int cell
    assert(run(Seq("[[1],null]")) == Seq(("[[1],null]", false)))   // null row
    assert(run(Seq("plain text")) == Seq(("plain text", false)))
  }

  test("empty and whitespace strings are not triggers") {
    assert(run(Seq("", "  ")) == Seq(("", false), ("  ", false)))
  }

  test("edge cases: quoting, empty rows, signed zero, nested and " +
      "non-int cells") {
    assert(run(Seq("[['1']]", """[["1"]]""")) ==
      Seq(("<mem>1</mem>", true), ("<mem>1</mem>", true)))
    assert(run(Seq("[[-0]]", "[[]]")) ==
      Seq(("<mem>0</mem>", true), ("<mem></mem>", true)))
    Seq("[[[1]]]", "[[true]]", "[[NaN]]", "[[01]]").foreach { v =>
      assert(run(Seq(v)) == Seq((v, false)), v)
    }
  }

  test("edge cases: int bounds and ASCII-only digits in quoted cells") {
    assert(run(Seq("""[["2147483648"]]""")) ==
      Seq(("""[["2147483648"]]""", false)))
    assert(run(Seq("""[["-2147483648",2147483647]]""")) ==
      Seq(("<mem>-2147483648 2147483647</mem>", true)))
    // U+0661 ARABIC-INDIC DIGIT ONE is a digit, but not an ASCII one
    assert(run(Seq("[[\"\u0661\"]]")) == Seq(("[[\"\u0661\"]]", false)))
  }

  test("edge cases: content after the root array is ignored; null stays " +
      "null") {
    assert(run(Seq("[[1]] [[2]]", "[[1]]]")) ==
      Seq(("<mem>1</mem>", true), ("<mem>1</mem>", true)))
    assert(run(Seq(null)) == Seq((null, false)))
  }

  test("kernel matches the from_json + HOF formulation " +
      "(ScalaCheck, 100k generated values)") {
    import spark.implicits._
    val batch = 20000
    var mismatches = Seq.empty[String]
    var matrices = Long.MaxValue
    val prop = Prop.forAllNoShrink(Gen.listOfN(batch, MemMarkupSpec.value)) {
      vs =>
        // an RDD-backed frame, so the kernel runs codegen'd (a local
        // relation would be folded by interpreted eval)
        val v = col("v")
        val df = spark.sparkContext.parallelize(vs, 4).toDF("v").select(v,
          MemMarkup.memMarkup(v).as("m"), MemMarkup.isMem(v).as("f"),
          MemMarkupSpec.Hof.memMarkup(v).as("hm"),
          MemMarkupSpec.Hof.isMem(v).as("hf")).cache()
        try {
          mismatches = df.where(!(col("m") <=> col("hm")) ||
              !(col("f") <=> col("hf")))
            .limit(5).collect().map(_.toString).toSeq
          matrices = math.min(matrices, df.where(col("hf")).count())
        } finally df.unpersist(): Unit
        mismatches.isEmpty
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(5).withWorkers(1)
      .withInitialSeed(Seed(20261019L)), prop)
    assert(result.passed, s"kernel != oracle: ${mismatches.mkString("\n")}")
    // the generator must keep both branches well populated
    assert(matrices >= batch / 20 && matrices <= batch / 2, matrices)
  }
}

object MemMarkupSpec {
  /** The formulation the kernel replaced: `from_json` into string
    * cells, validated and rendered with interpreted `exists` /
    * `transform` lambdas. The parity oracle for the kernel.
    */
  object Hof {
    private val MatrixSchema = ArrayType(ArrayType(StringType))
    private val IntPattern = "^[+-]?\\d+$"

    private def looksBracketed(c: Column): Column =
      (startswith(c, lit("[")) && endswith(c, lit("]"))) ||
        (startswith(c, lit("{")) && endswith(c, lit("}")))

    private def parsedMatrix(c: Column): Column = {
      val p = from_json(c, MatrixSchema)
      val anyBad = exists(p, a => a.isNull || exists(a,
        x => x.isNull || !x.rlike(IntPattern) || x.try_cast("int").isNull))
      when(looksBracketed(c) && p.isNotNull && !anyBad,
        transform(p, a => transform(a, x => x.try_cast("int"))))
    }

    def isMem(c: Column): Column = parsedMatrix(c).isNotNull

    def memMarkup(c: Column): Column = coalesce(array_join(transform(
      parsedMatrix(c),
      a => concat(lit("<mem>"), array_join(a.cast("array<string>"), " "),
        lit("</mem>"))), ""), c)
  }

  private val ints: Gen[String] = Gen.frequency(
    8 -> Gen.choose(-1000, 1000).map(_.toString),
    3 -> Gen.oneOf("0", "-0", "2147483647", "-2147483648", "2147483648",
      "-2147483649", "9999999999", "99999999999999999999"))

  /** One matrix cell: mostly ints, plain or quoted, with the near
    * misses of every rule mixed in.
    */
  private val cell: Gen[String] = Gen.frequency(
    12 -> ints,
    4 -> ints.map(i => s"\"$i\""),
    1 -> ints.map(i => s"'$i'"),
    1 -> Gen.oneOf("\"01\"", "\"+5\"", "'+5'", "\" 1\"", "\"1 \"",
      "\"1\\n\"", "\"1\\r\\n\"", "\"\\u0031\"", "\"\u0661\"", "\"\"",
      "\"a\"", "\"0x1\"", "\"1.0\""),
    2 -> Gen.oneOf("1.5", "-0.0", "1e2", "1E+2", "NaN", "Infinity",
      "-Infinity", "null", "true", "false", "01", "+1", "[1]", "[]", "{}",
      "{\"a\":1}", "1 2"))

  private val space: Gen[String] =
    Gen.frequency(10 -> "", 3 -> " ", 1 -> "\n", 1 -> "\t", 1 -> "\r\n")

  private def list(elem: Gen[String], open: String, close: String) =
    for {
      n <- Gen.choose(0, 4)
      xs <- Gen.listOfN(n, for (s1 <- space; e <- elem; s2 <- space)
        yield s1 + e + s2)
    } yield open + xs.mkString(",") + close

  private val matrix: Gen[String] = list(list(cell, "[", "]"), "[", "]")

  /** An object whose values are int rows — a root the kernel must
    * never accept.
    */
  private val objectRoot: Gen[String] = for {
    n <- Gen.choose(0, 3)
    rows <- Gen.listOfN(n, list(ints, "[", "]"))
  } yield rows.zipWithIndex
    .map { case (r, i) => s"\"k$i\":$r" }.mkString("{", ",", "}")

  private val token: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("[", "]"), 2 -> Gen.oneOf("[[", "]]", "],["),
    3 -> Gen.const(","), 2 -> Gen.oneOf("\"", "'"), 1 -> Gen.oneOf("+", "-"),
    4 -> ints, 1 -> Gen.oneOf("1.5", "1e2", "null", "true", "NaN"),
    1 -> Gen.oneOf("{", "}", ":", "\"a\""),
    1 -> Gen.oneOf("\\u0031", "\\n", "\\", "\u0661"), 2 -> space)

  /** Random token soup, usually bracketed so it reaches the parser. */
  private val soup: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ts <- Gen.listOfN(n, token)
    wrap <- Gen.frequency(3 -> true, 1 -> false)
  } yield if (wrap) ts.mkString("[", "", "]") else ts.mkString

  /** A matrix with a flaw: trailing content, a dropped or doubled
    * character, or surrounding whitespace.
    */
  private val mutated: Gen[String] = for {
    m <- matrix
    i <- Gen.choose(0, m.length - 1)
    kind <- Gen.choose(0, 4)
    tail <- Gen.oneOf(" [[2]]", "]", " x]", ",[1]]")
  } yield kind match {
    case 0 => m + tail
    case 1 => m.patch(i, Nil, 1)
    case 2 => m.patch(i, m.substring(i, i + 1), 0)
    case 3 => " " + m
    case _ => m + "\n"
  }

  /** The values the parity property draws from. */
  val value: Gen[String] = Gen.frequency(
    40 -> matrix, 8 -> objectRoot, 35 -> soup, 15 -> mutated,
    2 -> Gen.const(null))
}
