package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Table files are replaced only by `graft.sources`: the one rewrite
  * commit (`Maintenance.rewrite`) and the exactly-once append. Hand-made
  * move-aside swaps elsewhere lost appends and ignored failed renames. */
class RenameRouteSpec extends AnyFunSuite {

  test("no rename in src/main outside graft/sources") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), "expected to run from the repository root")
    val callers = Using.resource(Files.walk(root))(_.iterator.asScala.toList)
      .filter(p => p.toString.endsWith(".scala") &&
        !p.startsWith(root.resolve("graft/sources")) &&
        Files.readString(p).contains(".rename("))
      .map(_.toString)
    assert(callers.isEmpty, callers.mkString(", "))
  }
}
