package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One lifecycle for scratch data: [[Scratch.landed]] and
  * [[Scratch.withDir]] create, materialize and delete every scratch
  * directory, so `Scratch.scala` is the only file in `src/main` or
  * `src/test` that creates a temp directory or deletes a tree. Sixteen
  * hand-written create / try / finally-delete blocks in `src/main`,
  * fifty temp directories in `src/test`, and nine copies of the
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

  private def scalaFiles(root: String): Seq[java.nio.file.Path] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq

  private def read(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)

  private def assertNoCopies(files: Seq[java.nio.file.Path]): Unit = {
    val offenders =
      files.flatMap(p => scratchCopies(read(p)).map(w => s"$p: $w"))
    assert(offenders.isEmpty,
      "use Scratch.landed / Scratch.withDir instead of a hand-written " +
        "scratch block:\n" + offenders.mkString("\n"))
  }

  test("no file in src/main outside Scratch.scala creates a temp " +
      "directory or deletes a tree — one scratch lifecycle") {
    val files = scalaFiles("src/main")
    val scratch = files.find(_.getFileName.toString == owner)
    assert(scratch.nonEmpty, "scanned the wrong tree: " +
      java.nio.file.Paths.get("src/main").toAbsolutePath)
    assertNoCopies(files.filterNot(_ == scratch.get))
    // inside Scratch: one recursive delete, behind the private allocator
    // and the disk-backed lifecycle
    assert(scratchCopies(read(scratch.get)).sorted ==
      Seq("recursive delete", "temp directory", "temp directory"))
  }

  test("no file in src/test creates a temp directory or deletes a " +
      "tree — the tests use the same scratch lifecycle") {
    val self = "ScratchGuardSpec.scala"
    val files = scalaFiles("src/test")
    assert(files.exists(_.getFileName.toString == self),
      "scanned the wrong tree: " +
        java.nio.file.Paths.get("src/test").toAbsolutePath)
    // this spec's own planted copies are the scanner's fixture
    assertNoCopies(files.filterNot(_.getFileName.toString == self))
  }
}
