package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One lifecycle for scratch data: [[Scratch.landed]] and
  * [[Scratch.withDir]] create, materialize and delete every scratch
  * directory, so `Scratch.scala` is the only file in `src/main` that
  * creates a temp directory or deletes a tree. Sixteen hand-written
  * create / try / finally-delete blocks and three copies of the
  * recursive delete once sat beside it — scan the sources so a new
  * copy fails the build instead of a later review.
  */
class ScratchGuardSpec extends AnyFunSuite {
  private val owner = "Scratch.scala"

  private val shapes: Seq[(String, scala.util.matching.Regex)] = Seq(
    "temp directory" -> """createTempDirectory""".r,
    // a `def` over a File that calls itself on the file's children
    "recursive delete" ->
      """(?s)def\s+(\w+)\b[^\n]*File.{0,300}?listFiles.{0,120}?\b\1\b""".r,
    "tree-walk delete" -> """(?s)Files\.walk\(.{0,300}?delete""".r,
    "library delete" ->
      """\b(?:Utils\.deleteRecursively|FileUtils\.delete(?:Directory|Quietly))\b""".r)

  /** The scratch shapes `src` contains, one entry per occurrence. */
  private def scratchCopies(src: String): Seq[String] =
    shapes.flatMap { case (what, re) => re.findAllIn(src).map(_ => what) }

  test("the scanner finds a planted copy of each shape and ignores " +
      "near misses") {
    val planted =
      """val tmp = java.nio.file.Files.createTempDirectory("x").toFile
        |private def rm(f: java.io.File): Unit = {
        |  Option(f.listFiles()).foreach(_.foreach(rm))
        |  f.delete()
        |}
        |Files.walk(root).sorted(Comparator.reverseOrder()).forEach(Files.delete)
        |org.apache.spark.util.Utils.deleteRecursively(tmp)
        |""".stripMargin
    assert(scratchCopies(planted).sorted == Seq("library delete",
      "recursive delete", "temp directory", "tree-walk delete"))
    assert(scratchCopies(
      """Option(staging.listFiles()).foreach(_.foreach(_.delete()))
        |def shards(f: java.io.File): Seq[String] =
        |  Option(f.listFiles()).fold(Seq.empty[String])(_.map(_.getName).toSeq)
        |Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
        |Files.createTempFile("x", ".xml")
        |""".stripMargin).isEmpty)
  }

  test("no file in src/main outside Scratch.scala creates a temp " +
      "directory or deletes a tree — one scratch lifecycle") {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def read(p: java.nio.file.Path): String =
      new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
    val scratch = files.find(_.getFileName.toString == owner)
    assert(scratch.nonEmpty, s"scanned the wrong tree: ${root.toAbsolutePath}")
    val offenders = files
      .filterNot(_.getFileName.toString == owner)
      .flatMap(p => scratchCopies(read(p)).map(w => s"$p: $w"))
    assert(offenders.isEmpty,
      "use Scratch.landed / Scratch.withDir instead of a hand-written " +
        "scratch block:\n" + offenders.mkString("\n"))
    // inside Scratch: one recursive delete, behind the private allocator
    // and the disk-backed lifecycle
    assert(scratchCopies(read(scratch.get)).sorted ==
      Seq("recursive delete", "temp directory", "temp directory"))
  }
}
