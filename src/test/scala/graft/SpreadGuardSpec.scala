package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One way to spread a scan: [[Tables.spread]] is the only place in
  * `src/main` that repartitions by `defaultParallelism`. Hand-placed
  * copies of it drifted in once (eight of them, each with its own
  * comment about single-row-group scans) — scan the sources so a new
  * copy fails the build instead of a later review.
  */
class SpreadGuardSpec extends AnyFunSuite {
  /** The one file allowed to repartition by `defaultParallelism`: the
    * primitive itself.
    */
  private val exempt = Set("Tables.scala")

  /** `repartition(` calls whose partition count is `defaultParallelism`,
    * directly or through a `val` bound to it in the same file.
    */
  private def spreadCopies(src: String): Seq[String] = {
    val bound = """val\s+(\w+)\s*=[^\n]*defaultParallelism""".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    """repartition\(\s*([^,)]*)""".r.findAllMatchIn(src)
      .map(_.group(1).trim)
      .filter(a => a.contains("defaultParallelism") || bound.contains(a))
      .toSeq
  }

  test("the scanner sees both copy shapes and ignores other counts") {
    assert(spreadCopies(
      "df.repartition(s.sparkContext.defaultParallelism,\n col(\"k\"))")
      .size == 1)
    assert(spreadCopies(
      "val par = s.sparkContext.defaultParallelism\n" +
        "df.repartition(par, col(\"k\"))").size == 1)
    assert(spreadCopies("df.repartition(8, col(\"k\")); " +
      "val w = sc.defaultParallelism; df.repartition(col(\"k\"))").isEmpty)
  }

  test("no file in src/main outside Tables.scala repartitions by " +
      "defaultParallelism — Tables.spread is the one way to spread") {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "Tables.scala"),
      s"scanned the wrong tree: ${root.toAbsolutePath}")
    val offenders = files
      .filterNot(p => exempt.contains(p.getFileName.toString))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        spreadCopies(src).map(a => s"$p: repartition($a, …)")
      }
    assert(offenders.isEmpty,
      "use Tables.spread instead of a hand-placed copy:\n" +
        offenders.mkString("\n"))
  }
}
