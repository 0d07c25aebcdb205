package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** No `Throwable` is swallowed in `src/main`: a catch takes
  * `NonFatal(e)` (an `InterruptedException` restores the interrupt flag
  * and ends the run), so a fatal error or an interrupt is never turned
  * into a logged line. Eleven `case …: Throwable` catches once sat
  * across `Bench`, `PlanCapture` and `ScaleProbe` — scan the sources so
  * a new one fails the build instead of a later review.
  */
class CatchGuardSpec extends AnyFunSuite {
  private val catchAll =
    """\bcase\s[^=\n]*:\s*(?:java\.lang\.)?Throwable\b""".r

  test("the scanner finds a planted catch-all and ignores near misses") {
    val planted =
      """try f() catch { case _: Throwable => () }
        |catch {
        |  case e: java.lang.Throwable =>
        |    log(e)
        |}
        |""".stripMargin
    assert(catchAll.findAllIn(planted).size == 2)
    assert(catchAll.findAllIn(
      """try f() catch { case NonFatal(e) => log(e) }
        |catch { case e: InterruptedException => throw e }
        |def describe(t: Throwable): String = t.getMessage
        |var error: Option[Throwable] = None
        |case Some(e) => failed.put(name, e: Throwable)
        |""".stripMargin).isEmpty)
  }

  test("no file in src/main catches Throwable") {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "Bench.scala"),
      s"scanned the wrong tree: ${root.toAbsolutePath}")
    val offenders = files.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if catchAll.findFirstIn(line).nonEmpty =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      "catch NonFatal(e) (and restore the interrupt flag on " +
        "InterruptedException) instead of Throwable:\n" +
        offenders.mkString("\n"))
  }
}
