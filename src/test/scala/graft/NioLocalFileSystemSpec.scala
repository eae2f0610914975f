package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** Differential check of [[NioLocalFileSystem]] and [[NioLocalFs]]
  * against Hadoop's stock `LocalFileSystem` and `LocalFs`: each case runs
  * the same operations through both, each in its own temp dir, and
  * requires the same statuses and the same files, modes and owners on
  * disk. The filesystems are built directly, never through Hadoop's
  * `FileSystem` cache, so this suite leaves no `file:` instance behind. */
class NioLocalFileSystemSpec extends AnyFunSuite with TempDirs {

  private final case class Side(fs: FileSystem, fc: FileContext, root: JPath) {
    def path(rel: String): Path = new Path(root.resolve(rel).toString)
  }

  private def side(nio: Boolean): Side = {
    val conf = new Configuration()
    val fs = if (nio) new NioLocalFileSystem else new LocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    if (nio) conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.getClass == (if (nio) classOf[NioLocalFs] else classOf[LocalFs]))
    Side(fs, fc, tempDir("graft_niofs").toRealPath())
  }

  /** `body`'s result on the stock side and on the java.nio side, with each
    * side's temp dir written as `<root>` so the two compare equal. */
  private def both[A](body: Side => A): (String, String) = {
    val Seq(stock, nio) = Seq(false, true).map { n =>
      val s = side(n)
      body(s).toString.replace(s.root.toUri.getPath.stripSuffix("/"), "<root>")
    }
    (stock, nio)
  }

  /** Every path under the root: type, size, full mode (special bits
    * included), owner and group, without following links. */
  private def disk(s: Side): Seq[String] =
    Using.resource(Files.walk(s.root))(_.iterator.asScala.toList).sorted.map { p =>
      val a = Files.readAttributes(p, "unix:mode,size,owner,group", LinkOption.NOFOLLOW_LINKS)
      f"${s.root.relativize(p)} ${a.get("mode").asInstanceOf[Int] & 0xfff}%o ${
        if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) "-" else a.get("size")} ${
        a.get("owner")}:${a.get("group")}"
    }

  private def view(st: FileStatus): String =
    Seq(st.getPath, st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else "", st.getPermission, st.getOwner, st.getGroup,
      st.getReplication, st.getBlockSize).mkString(" ")

  private def write(s: Side, rel: String, text: String): Unit =
    Using.resource(s.fs.create(s.path(rel)))(_.write(text.getBytes(StandardCharsets.UTF_8)))

  private def assertSame(r: (String, String)): Unit = {
    assert(r._1 == r._2)
    info(r._2)
  }

  test("create under the default umask and mkdirs at 0750 write the same modes") {
    assertSame(both { s =>
      write(s, "a/b.txt", "x")
      assert(s.fs.mkdirs(s.path("d/e"), new FsPermission("750")))
      Using.resource(s.fc.create(s.path("c.txt"),
        java.util.EnumSet.of(CreateFlag.CREATE)))(_.write(1))
      s.fc.mkdir(s.path("f"), new FsPermission("750"), true)
      disk(s)
    })
  }

  test("setPermission 0640, and 1777 and a set-group-ID directory through chmod") {
    assertSame(both { s =>
      write(s, "a.txt", "x")
      s.fs.setPermission(s.path("a.txt"), new FsPermission("640"))
      assert(s.fs.mkdirs(s.path("t")))
      s.fs.setPermission(s.path("t"), new FsPermission("1777"))
      assert(s.fs.mkdirs(s.path("g")))
      assert(new ProcessBuilder("chmod", "g+s", s.root.resolve("g").toString).start().waitFor() == 0)
      s.fs.setPermission(s.path("g"), new FsPermission("750"))
      val onDisk = disk(s)
      assert(onDisk.exists(_.startsWith("t 1777")) && onDisk.exists(_.startsWith("g 2750")), onDisk)
      onDisk :+ s.fs.getFileStatus(s.path("t")).getPermission
    })
  }

  test("FileContext rename with OVERWRITE moves the file and its .crc sidecar") {
    assertSame(both { s =>
      def fcWrite(rel: String, text: String): Unit =
        Using.resource(s.fc.create(s.path(rel), java.util.EnumSet.of(
          CreateFlag.CREATE, CreateFlag.OVERWRITE)))(
          _.write(text.getBytes(StandardCharsets.UTF_8)))
      fcWrite("src.txt", "new!")
      fcWrite("dst.txt", "old")
      val before = disk(s)
      assert(before.exists(_.startsWith(".src.txt.crc")) && before.exists(_.startsWith(".dst.txt.crc")))
      s.fc.rename(s.path("src.txt"), s.path("dst.txt"), Options.Rename.OVERWRITE)
      val after = disk(s)
      assert(!after.exists(_.contains("src.txt")), after)
      val text = Using.resource(s.fc.open(s.path("dst.txt")))(in =>
        new String(in.readAllBytes(), StandardCharsets.UTF_8))
      assert(text == "new!")
      after
    })
  }

  test("getFileLinkStatus on a symlink, a plain file and a qualified file:/ path") {
    assertSame(both { s =>
      write(s, "t.txt", "target")
      val link = Files.createSymbolicLink(s.root.resolve("ln"), s.root.resolve("t.txt"))
      val paths = Seq(new Path(link.toString), s.path("t.txt"), new Path(link.toUri))
      val viaFs = paths.map(p => view(s.fs.getFileLinkStatus(p)))
      val viaFc = paths.map(p => view(s.fc.getFileLinkStatus(p)))
      assert(s.fs.getFileLinkStatus(paths.head).isSymlink)
      viaFs ++ viaFc
    })
  }

  test("a missing path and a path under a plain file are FileNotFoundException") {
    assertSame(both { s =>
      write(s, "a.txt", "x")
      Seq("missing", "a.txt/child", "missing/child").map { rel =>
        val fs = scala.util.Try(s.fs.getFileStatus(s.path(rel))).failed.map(_.getClass.getName)
        val fc = scala.util.Try(s.fc.getFileLinkStatus(s.path(rel))).failed.map(_.getClass.getName)
        s"$rel ${fs.getOrElse("found")} ${fc.getOrElse("found")} ${s.fs.exists(s.path(rel))}"
      }
    })
  }

  test("listFiles and listStatus read the same permission, owner and group") {
    assertSame(both { s =>
      Seq("a.txt" -> "rw-------", "sub/b.txt" -> "rw-r--r--", "sub/c.sh" -> "rwxr-x---")
        .foreach { case (rel, mode) =>
          write(s, rel, rel)
          Files.setPosixFilePermissions(s.root.resolve(rel), PosixFilePermissions.fromString(mode))
        }
      Files.setPosixFilePermissions(s.root.resolve("sub"), PosixFilePermissions.fromString("rwx--x--x"))
      val it = s.fs.listFiles(s.path(""), true)
      val listed = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      listed.foreach { st =>
        val local = new java.io.File(st.getPath.toUri)
        assert(st.getModificationTime == local.lastModified)
        assert(st.getOwner == Files.getOwner(local.toPath).getName)
      }
      (listed ++ s.fs.listStatus(s.path("sub")) ++ s.fs.listStatus(s.path("a.txt")))
        .map(view).sorted
    })
  }
}
