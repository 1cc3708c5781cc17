package graft.ext

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The self and delta-vs-corpus forms in [[Dedup]] and [[TextAnalysis]]
  * share one definition per stage. */
class DedupSpec extends AnyFunSuite {

  test("Dedup.scala and TextAnalysis.scala write each shared span stage once and no broadcast switch") {
    val code = Seq("Dedup.scala", "TextAnalysis.scala")
      .map(f => Files.readString(Paths.get("src/main/scala/graft/ext", f)))
      .mkString("\n")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    def times(form: String) = form.r.findAllIn(code).size
    for ((what, form) <- Seq(
        "positional word grams" -> """posexplode\(graft\.functions\.TextShingles\.wordGramSeq\(""",
        "covered token positions" -> """explode\(sequence\(col\("p"\), col\("p"\) \+ \(n - 1\)\)\)""",
        "content split bucket" -> """hash60\(.*?\),\s*lit\(100L\)\)"""))
      assert(times(form) == 1, s"$what written ${times(form)} times")
    for ((what, form) <- Seq(
        "broadcastBench switch" -> """broadcastBench""",
        "broadcastDelta switch" -> """broadcastDelta""",
        "across posting list" -> """collect_list\(struct\(col\("id"\), col\("gsize"\)\)\)"""))
      assert(times(form) == 0, s"$what written ${times(form)} times")
  }
}
