package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs for a suite: every tree [[tempDir]] makes is deleted after
  * the suite's last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  /** Delete `base` and everything under it; a missing tree is no error. */
  def deleteTree(base: Path): Unit =
    if (Files.exists(base)) {
      val walk = Files.walk(base)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => try Files.deleteIfExists(p) catch { case _: java.io.IOException => })
      finally walk.close()
    }

  override protected def afterAll(): Unit =
    try made.asScala.foreach(deleteTree) finally super.afterAll()
}
