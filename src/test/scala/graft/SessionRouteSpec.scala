package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every session in the repo comes from [[GraftSession]]: hand-built
  * copies drifted apart on core count, AQE and extensions. */
class SessionRouteSpec extends AnyFunSuite {

  test("no session builder outside GraftSession in src/main and src/test") {
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)), "expected to run from the repository root")
    val callers = roots
      .flatMap(r => Using.resource(Files.walk(r))(_.iterator.asScala.toList))
      .filter(p => p.toString.endsWith(".scala") &&
        call.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString)
    assert(callers == Seq("src/main/scala/graft/GraftExtensions.scala"))
  }
}
