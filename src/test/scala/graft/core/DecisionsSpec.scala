package graft.core

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Size-adaptive paths are chosen by constants and recorded in one place,
  * [[Decisions]]. */
class DecisionsSpec extends AnyFunSuite {

  /** `(file, code)` of every Scala file under `dir`, comments stripped. */
  private def sources(dir: String): Seq[(Path, String)] =
    Using.resource(Files.walk(Paths.get(dir)))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f -> Files.readString(f)
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")))

  private def holding(files: Seq[(Path, String)], what: String): Seq[Path] =
    files.collect { case (f, code) if code.contains(what) => f }

  test("no conf, path note or vocabulary parameter selects or reports a path") {
    val main = sources("src/main/scala")
    assert(holding(main, "spark.graft.").isEmpty)
    val ext = sources("src/main/scala/graft/ext")
    for (what <- Seq("AtomicReference[String]", "System.err"))
      assert(holding(ext, what).isEmpty, what)
    val self = Paths.get("src/test/scala/graft/core/DecisionsSpec.scala")
    assert(holding(main ++ sources("src/test/scala").filter(_._1 != self),
      "smallVocabWords").isEmpty)
  }

  test("forcing restores the previous pins when its body throws") {
    val op = "DecisionsSpec.pinned"
    def pick() = Decisions.decide(op)("a")
    Decisions.forcing(op -> "b") {
      intercept[IllegalStateException] {
        Decisions.forcing(op -> "c") {
          assert(pick() == "c")
          throw new IllegalStateException("body failed")
        }
      }
      assert(pick() == "b")
    }
    assert(pick() == "a")
    // a two-way choice refuses a pin that is neither way
    intercept[IllegalArgumentException](
      Decisions.forcing(op -> "z")(Decisions.choose(op, "a", "b")(true)))
    assert(pick() == "a")
  }

  test("recording one op 10^4 times leaves one latest entry and a bounded buffer") {
    val op = "DecisionsSpec.repeated"
    Decisions.drain()
    val before = Decisions.latest - op
    for (i <- 1 to 10000)
      Decisions.choose(op, "even", "odd", "i" -> i)(i % 2 == 0)
    assert(Decisions.latest == before + (op -> "even"))
    val kept = Decisions.drain()
    assert(kept.size == Decisions.Capacity)
    assert(kept.last == Decisions.Decision(op, "even", Seq("i" -> 10000)))
    assert(kept.last.json ==
      """{"op":"DecisionsSpec.repeated","choice":"even","inputs":{"i":10000}}""")
    assert(Decisions.drain().isEmpty)
  }
}
