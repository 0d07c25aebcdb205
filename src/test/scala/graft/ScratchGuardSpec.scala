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
  *
  * One materialization barrier: [[Scratch.pin]] is the only
  * `localCheckpoint` call and [[Scratch.pinnedRdds]] the only match on
  * a `LogicalRDD` in `src/main`. Sixty-one hand-written
  * `localCheckpoint` calls in thirteen files and four separate "is it
  * pinned already" walks once sat beside them. The tests may pin by
  * hand, so this half of the scan covers `src/main` only.
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

  private val barrierShapes: Seq[(String, scala.util.matching.Regex)] = Seq(
    "localCheckpoint" -> """\blocalCheckpoint\s*\(""".r,
    "LogicalRDD match" ->
      """\bcase\s+[^=\n]*?:\s*(?:[\w.]+\.)?LogicalRDD\b""".r)

  /** `src` without its comments (a quote holding `//` or a comment
    * opener ends the line early: a miss, never a false find).
    */
  private def code(src: String): String =
    src.replaceAll("""(?s)/\*.*?\*/""", " ").replaceAll("//[^\n]*", "")

  private def found(shapes: Seq[(String, scala.util.matching.Regex)],
      src: String): Seq[String] = {
    val c = code(src)
    shapes.flatMap { case (what, re) => re.findAllIn(c).map(_ => what) }
  }

  /** The scratch shapes `src` contains, one entry per occurrence. */
  private def scratchCopies(src: String): Seq[String] = found(shapes, src)

  /** The scratch and barrier shapes `src` contains. */
  private def mainCopies(src: String): Seq[String] =
    found(shapes ++ barrierShapes, src)

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
    val barriers =
      """val pinned = next.localCheckpoint()
        |val lazyPin = next.localCheckpoint (eager = false)
        |df.queryExecution.logical match {
        |  case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
        |  case _: LogicalRDD if eager => df
        |}
        |""".stripMargin
    assert(mainCopies(barriers).sorted == Seq("LogicalRDD match",
      "LogicalRDD match", "localCheckpoint", "localCheckpoint"))
    assert(scratchCopies(barriers).isEmpty)
    assert(mainCopies(
      """// an eager localCheckpoint() of the gram frame measured a wash
        |/** a `case lr: LogicalRDD` walk, and
        |  * rounds are localCheckpoint(eager = false)ed */
        |val pinnedAlready = isLocallyCheckpointed(rdd)
        |import org.apache.spark.sql.execution.LogicalRDD
        |val leaf: LogicalRDD = null
        |""".stripMargin).isEmpty)
  }

  private def scalaFiles(root: String): Seq[java.nio.file.Path] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq

  private def read(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)

  private def assertNoCopies(files: Seq[java.nio.file.Path],
      copies: String => Seq[String]): Unit = {
    val offenders =
      files.flatMap(p => copies(read(p)).map(w => s"$p: $w"))
    assert(offenders.isEmpty,
      "use Scratch.landed / Scratch.withDir / Scratch.pin instead of a " +
        "hand-written scratch block or barrier:\n" + offenders.mkString("\n"))
  }

  test("no file in src/main outside Scratch.scala creates a temp " +
      "directory or deletes a tree — one scratch lifecycle") {
    val files = scalaFiles("src/main")
    val scratch = files.find(_.getFileName.toString == owner)
    assert(scratch.nonEmpty, "scanned the wrong tree: " +
      java.nio.file.Paths.get("src/main").toAbsolutePath)
    assertNoCopies(files.filterNot(_ == scratch.get), mainCopies)
    // inside Scratch: one recursive delete, behind the private allocator
    // and the disk-backed lifecycle, and the one barrier
    assert(mainCopies(read(scratch.get)).sorted ==
      Seq("LogicalRDD match", "localCheckpoint", "recursive delete",
        "temp directory", "temp directory"))
  }

  test("no file in src/test creates a temp directory or deletes a " +
      "tree — the tests use the same scratch lifecycle") {
    val self = "ScratchGuardSpec.scala"
    val files = scalaFiles("src/test")
    assert(files.exists(_.getFileName.toString == self),
      "scanned the wrong tree: " +
        java.nio.file.Paths.get("src/test").toAbsolutePath)
    // this spec's own planted copies are the scanner's fixture
    assertNoCopies(files.filterNot(_.getFileName.toString == self),
      scratchCopies)
  }
}
