package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Table files are replaced only by `graft.sources`: the one rewrite
  * commit (`Maintenance.rewrite`) and the exactly-once append. Hand-made
  * move-aside swaps elsewhere lost appends and ignored failed renames, and
  * hand-run marker protocols spelled the marker layout in every sink. */
class RenameRouteSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** The `src/main` Scala files under `dir` whose text contains any of `needles`. */
  private def mentioning(dir: String, needles: String*): List[String] = {
    assert(Files.isDirectory(root), "expected to run from the repository root")
    Using.resource(Files.walk(root.resolve(dir)))(_.iterator.asScala.toList)
      .filter(p => p.toString.endsWith(".scala") &&
        needles.exists(Files.readString(p).contains(_)))
      .map(p => root.relativize(p).toString)
  }

  test("no rename in src/main outside graft/sources") {
    val callers = mentioning("", ".rename(").filterNot(_.startsWith("graft/sources/"))
    assert(callers.isEmpty, callers.mkString(", "))
  }

  test("the marker protocol runs only inside IdempotentAppend") {
    val spelled = mentioning("", "_graft_batches")
    assert(spelled == List("graft/sources/IdempotentAppend.scala"), spelled.mkString(", "))
    val handRun = mentioning("graft/streaming", "committed(", "finish(")
    assert(handRun.isEmpty, handRun.mkString(", "))
  }
}
