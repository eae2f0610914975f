package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable `src/main` reads, by name: adding a knob (or
  * dropping one) means editing this list in the same change. */
class EnvVarSpec extends AnyFunSuite {

  private val Read = """sys\.env|getenv|envOrElse|envOrNone""".r
  private val NamedRead = ("""(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv""" +
    """|envOrElse|envOrNone)\s*\(\s*"([^"]+)"""").r

  test("src/main reads exactly the listed environment variables") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), "expected to run from the repository root")
    val sources = Using.resource(Files.walk(root))(_.iterator.asScala.toList)
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> Files.readString(p))
    // a read whose name is not a string literal (`sys.env(name)`, the whole
    // `sys.env` map) could read anything: name it here or rewrite it
    val unnamed = sources.flatMap { case (p, text) =>
      val named = NamedRead.findAllMatchIn(text).map(m => m.start until m.end).toSeq
      Read.findAllMatchIn(text).map(_.start)
        .filterNot(at => named.exists(_.contains(at))).map(at => s"$p@$at")
    }
    assert(unnamed.isEmpty, s"environment reads without a literal name: $unnamed")
    val names = sources.flatMap { case (_, text) =>
      NamedRead.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(names == Set(
      "GRAFT_LOG_TZ",
      "SPARK_GRAFT_BENCH_ONLY",
      "SPARK_GRAFT_BENCH_OUT",
      "SPARK_GRAFT_BENCH_REPS",
      "SPARK_GRAFT_BENCH_WARMUP",
      "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_PLAN_OUT",
      "SPARK_GRAFT_PLAN_SUFFIX",
      "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS",
      "SPARK_GRAFT_VERIFY_ONLY",
      "SPARK_GRAFT_VERIFY_PAR"))
  }
}
