package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One xmlpipe2 codec: the docset entity escape lives only in
  * `operators/XmlPipe.scala` ([[graft.operators.XmlPipe.escapeText]]),
  * and the unescape and the fragment-delimiter scanner only in
  * `sources/DocsetSource.scala`. A second writer and a second reader
  * once drifted in beside them (a text-source writer and a regex
  * reader, each with its own copy of the escaping contract) — scan the
  * sources so a new copy fails the build instead of a later review.
  */
class CodecGuardSpec extends AnyFunSuite {
  /** The two files that make up the codec. */
  private val codec = Set("XmlPipe.scala", "DocsetSource.scala")

  /** Files that spell the same literals for another job:
    *   - `Scrub.scala` decodes HTML entities in scraped text, which is
    *     input cleaning, not the docset format;
    *   - `SparkEntry.scala` holds the DuckDB oracle SQL (`escSql`),
    *     the independent reference the oracle compares against — it
    *     must not call into the codec it checks.
    */
  private val exempt = Set("Scrub.scala", "SparkEntry.scala")

  private val shapes: Seq[(String, scala.util.matching.Regex)] = Seq(
    // `&` → `&amp;`, as Column DSL, a Scala replace or SQL
    "entity escape" ->
      """['"]&['"]\s*\)?\s*(?:,|->)\s*(?:lit\(\s*)?['"]&amp;['"]""".r,
    // `&lt;` → `<`
    "entity unescape" ->
      """['"]&lt;['"]\s*\)?\s*(?:,|->)\s*(?:lit\(\s*)?['"]<['"]""".r,
    // the delimiter, except as the oracle SQL's literal ending `id="'`
    // (the registries' DuckDB twins build the documents they expect)
    "fragment delimiter" -> """<sphinx:document id=(?!"')""".r)

  /** The codec shapes `src` contains, one entry per occurrence. */
  private def codecCopies(src: String): Seq[String] =
    shapes.flatMap { case (what, re) => re.findAllIn(src).map(_ => what) }

  test("the scanner finds a planted copy of each shape and ignores " +
      "near misses") {
    val planted =
      """replace(replace(c, lit("&"), lit("&amp;")), lit("<"), lit("&lt;"))
        |raw.replace("&lt;", "<").replace("&amp;", "&")
        |spark.read.option("lineSep", "\n<sphinx:document id=\"").text(p)
        |""".stripMargin
    assert(codecCopies(planted).sorted ==
      Seq("entity escape", "entity unescape", "fragment delimiter"))
    assert(codecCopies(
      """"&nbsp;" -> " ", "<[^>]+>" -> " ", "&gt;" -> ">"
        |chr(10) || '<sphinx:document id="' || CAST(id AS VARCHAR)
        |""".stripMargin).isEmpty)
  }

  test("no file in src/main outside XmlPipe.scala and DocsetSource.scala " +
      "escapes, unescapes or splits docsets — one codec") {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def read(p: java.nio.file.Path): String =
      new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
    val byName = files.map(p => p.getFileName.toString -> p).toMap
    assert(codec.forall(byName.contains),
      s"scanned the wrong tree: ${root.toAbsolutePath}")
    val offenders = files
      .filterNot(p => (codec ++ exempt).contains(p.getFileName.toString))
      .flatMap(p => codecCopies(read(p)).map(w => s"$p: $w"))
    assert(offenders.isEmpty,
      "use XmlPipe.escapeText / the xmlpipe2 connector instead of a " +
        "copy:\n" + offenders.mkString("\n"))
    // inside the codec: one escape, one unescape, one delimiter scanner
    assert(codecCopies(read(byName("XmlPipe.scala"))).sorted ==
      Seq("entity escape", "fragment delimiter"))
    val source = read(byName("DocsetSource.scala"))
    assert(codecCopies(source).sorted ==
      Seq("entity unescape", "fragment delimiter"))
    // the reader streams shards; it never loads one whole
    assert(!source.contains("readAllBytes") && !source.contains("readString"))
  }
}
