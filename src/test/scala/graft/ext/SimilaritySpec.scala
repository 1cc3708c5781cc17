package graft.ext

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The ANN family in [[Similarity]] has one definition per stage. */
class SimilaritySpec extends AnyFunSuite {

  test("Similarity.scala writes the cell probe, the fixed-point cosine and the broadcast envelope once each") {
    val code = Files.readString(Paths.get("src/main/scala/graft/ext/Similarity.scala"))
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    for ((what, form) <- Seq(
        "top-m cell probe" -> """slice\(reverse\(array_sort\(cellScores\(""",
        "fixed-point cosine" -> """sqrt\([^\n]*\)\s*\*\s*sqrt\(""",
        "broadcast envelope" -> """256L\s*<<\s*20"""))
      assert(form.r.findAllIn(code).size == 1, s"$what written ${form.r.findAllIn(code).size} times")
  }
}
