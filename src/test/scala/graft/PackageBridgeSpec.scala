package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Package-private Spark API is reached from one bridge file in `src/main`,
  * so a Spark upgrade that moves it breaks one place. The test-only
  * `GraftTestBus` under `src/test` is out of scope. */
class PackageBridgeSpec extends AnyFunSuite {

  test("no Spark-internal package in src/main outside the column bridge") {
    val internal = """(?m)org\.apache\.spark\.sql\.classic|^\s*package\s+org\.apache\.spark""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), "expected to run from the repository root")
    val users = Using.resource(Files.walk(root))(_.iterator.asScala.toList)
      .filter(p => p.toString.endsWith(".scala") &&
        internal.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString)
    assert(users == Seq("src/main/scala/org/apache/spark/sql/graftbridge/ColumnBridge.scala"))
  }
}
