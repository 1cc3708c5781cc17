package graft.core

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Every main builds its session through [[Session]], so the plan confs
  * exist once. */
class SessionSpec extends AnyFunSuite {

  test("src/main/scala has exactly one SparkSession builder, in core/Session.scala") {
    val root = Paths.get("src/main/scala")
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val found = Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(f => builder.findAllIn(Files.readString(f)).map(_ => root.relativize(f))))
    assert(found == Seq(Paths.get("graft/core/Session.scala")), found)
  }
}
