package perfbench

import java.io.{File, FileInputStream}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Output checks for docsets, independent of the code under test: the
  * JDK's own StAX reader (namespace processing off, as Sphinx's expat
  * reads xmlpipe2), the document count, and a seeded sample of source
  * rows whose ids and field values come from the generator
  * (perfbench/gen.py), not from the program.
  *
  *   java -cp <classes> perfbench.DocsetCheck <expect.json> <docset file or dir>
  */
object DocsetCheck {

  /** One sampled source row: its expected id and, per field, a value
    * kind and the expected value.
    */
  final case class Expected(id: Long, fields: Map[String, (String, String)])

  final case class Expectations(sourceRows: Long, fields: Seq[String],
      sample: Seq[Expected])

  def load(path: String): Expectations = {
    val root = new ObjectMapper().readTree(new File(path))
    val sample = root.get("sample").elements().asScala.map { s =>
      val f = s.get("fields").fields().asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asText(), e.getValue.get(1).asText())
      }.toMap
      Expected(s.get("id").asLong(), f)
    }.toSeq
    Expectations(root.get("source_rows").asLong(),
      root.get("fields").elements().asScala.map(_.asText()).toSeq, sample)
  }

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Does `text` read back as the expected value of this kind? */
  def sameValue(kind: String, expected: String, text: String): Boolean =
    try kind match {
      case "text" | "bool" => text == expected
      case "int" => BigInt(text) == BigInt(expected)
      case "double" => java.lang.Double.parseDouble(text) ==
        java.lang.Double.parseDouble(expected)
      case "float" => java.lang.Float.parseFloat(text) ==
        java.lang.Float.parseFloat(expected)
      case "decimal" => BigDecimal(text).compare(BigDecimal(expected)) == 0
      case "ts" => LocalDateTime.parse(text, TsFormat) ==
        LocalDateTime.parse(expected, TsFormat)
      case "date" => LocalDate.parse(text) == LocalDate.parse(expected)
      case "ints" =>
        text.split(" ").filter(_.nonEmpty).map(_.toLong).toSeq ==
          expected.split(" ").filter(_.nonEmpty).map(_.toLong).toSeq
      case other => throw new IllegalArgumentException(s"unknown kind $other")
    } catch { case _: NumberFormatException | _: java.time.DateTimeException => false }

  /** Compare one document's fields against its sampled source row;
    * returns the first mismatch, if any.
    */
  def mismatch(e: Expected, got: collection.Map[String, String]): Option[String] =
    e.fields.collectFirst {
      case (name, (kind, want)) if !got.get(name).exists(sameValue(kind, want, _)) =>
        s"id ${e.id} field $name: expected $kind '$want', got '${got.getOrElse(name, "<absent>")}'"
    }

  private def docsetFiles(path: String): Seq[File] = {
    val f = new File(path)
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).toSeq.flatten
      .filter(c => c.isFile && !c.getName.startsWith("_") && !c.getName.startsWith("."))
      .sortBy(_.getName)
  }

  private def factory: XMLInputFactory = {
    val f = XMLInputFactory.newDefaultFactory()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }

  private def nextTag(r: XMLStreamReader): Int = {
    var ev = r.next()
    while (ev == XMLStreamConstants.CHARACTERS && r.isWhiteSpace ||
        ev == XMLStreamConstants.COMMENT || ev == XMLStreamConstants.SPACE)
      ev = r.next()
    ev
  }

  private def fail(msg: String) = throw new IllegalStateException(msg)

  /** Parse one docset file, calling `onDoc(id, fields)` per document. */
  private def parse(file: File, onDoc: (Long, Map[String, String]) => Unit): Unit = {
    val in = new FileInputStream(file)
    try {
      val r = factory.createXMLStreamReader(in, "UTF-8")
      if (nextTag(r) != XMLStreamConstants.START_ELEMENT || r.getLocalName != "sphinx:docset")
        fail(s"${file.getName}: root is not <sphinx:docset>")
      var ev = nextTag(r)
      while (ev == XMLStreamConstants.START_ELEMENT) {
        if (r.getLocalName != "sphinx:document")
          fail(s"${file.getName}: unexpected <${r.getLocalName}> in docset")
        val id = Option(r.getAttributeValue(null, "id"))
          .getOrElse(fail(s"${file.getName}: document without id")).toLong
        val fields = mutable.LinkedHashMap.empty[String, String]
        ev = nextTag(r)
        while (ev == XMLStreamConstants.START_ELEMENT) {
          val name = r.getLocalName
          if (fields.contains(name)) fail(s"document $id: field $name twice")
          fields(name) = r.getElementText
          ev = nextTag(r)
        }
        if (ev != XMLStreamConstants.END_ELEMENT) fail(s"document $id is not closed")
        onDoc(id, fields.toMap)
        ev = nextTag(r)
      }
      if (ev != XMLStreamConstants.END_ELEMENT || r.getLocalName != "sphinx:docset")
        fail(s"${file.getName}: docset is not closed")
      if (nextTag(r) != XMLStreamConstants.END_DOCUMENT)
        fail(s"${file.getName}: content after the docset")
      r.close()
    } finally in.close()
  }

  /** Check a docset (one file, or a directory of shards) against the
    * expectations. Returns (documents seen, problems).
    */
  def check(exp: Expectations, path: String): (Long, Seq[String]) = {
    val problems = mutable.ArrayBuffer.empty[String]
    val byId = exp.sample.map(e => e.id -> e).toMap
    val seen = mutable.Map.empty[Long, Int]
    val fieldSet = exp.fields.toSet
    var docs = 0L
    val files = docsetFiles(path)
    if (files.isEmpty) problems += s"no docset files at $path"
    files.foreach { f =>
      try parse(f, (id, fields) => {
        docs += 1
        if (fields.keySet != fieldSet && problems.size < 20)
          problems += s"document $id has fields ${fields.keys.mkString(",")}"
        byId.get(id).foreach { e =>
          seen(id) = seen.getOrElse(id, 0) + 1
          mismatch(e, fields).foreach(m => if (problems.size < 20) problems += m)
        }
      })
      catch {
        case e: Exception => problems += s"${f.getName} is not a well-formed docset: $e"
      }
    }
    if (docs != exp.sourceRows)
      problems += s"$docs documents for ${exp.sourceRows} source rows"
    val missing = byId.keys.filterNot(seen.contains)
    if (missing.nonEmpty)
      problems += s"${missing.size} sampled ids not found, e.g. ${missing.head}"
    seen.collectFirst { case (id, n) if n > 1 => problems += s"id $id appears $n times" }
    (docs, problems.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val (docs, problems) = check(load(args(0)), args(1))
    problems.foreach(p => System.err.println(s"FAIL $p"))
    println(s"documents=$docs problems=${problems.size}")
    sys.exit(if (problems.isEmpty) 0 else 1)
  }
}
