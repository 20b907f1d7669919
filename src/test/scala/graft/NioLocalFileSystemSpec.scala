package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]]'s raw layer against Hadoop's stock
  * `RawLocalFileSystem`: each sets the mode on its own twin of a path, and
  * both must leave the same permission bits.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val nio = init(new NioLocalFileSystem.Raw)
  private val stock = init(new RawLocalFileSystem)

  private def oct(digits: String): Int = Integer.parseInt(digits, 8)

  // the whole mode, sticky and setuid bits included
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Twin paths `nio-<name>` / `stock-<name>` under a fresh directory. */
  private def twins(name: String, dir: Boolean): (JPath, JPath) = {
    val root = Files.createTempDirectory("graft-nio-perm")
    def make(side: String) = {
      val p = root.resolve(s"$side-$name")
      if (dir) Files.createDirectory(p) else Files.writeString(p, "x")
    }
    (make("nio"), make("stock"))
  }

  private def setBoth(mode: Int, dir: Boolean): (JPath, JPath) = {
    val (a, b) = twins(f"$mode%04o", dir)
    nio.setPermission(new Path(a.toUri), new FsPermission(mode.toShort))
    stock.setPermission(new Path(b.toUri), new FsPermission(mode.toShort))
    (a, b)
  }

  test("java.nio setPermission leaves the bits Hadoop's chmod leaves, on files and directories") {
    for (m <- Seq("644", "755", "600", "700", "777", "000").map(oct); dir <- Seq(false, true)) {
      val (a, b) = setBoth(m, dir)
      val what = f"${if (dir) "directory" else "file"} at $m%04o"
      assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b), what)
      assert(mode(a) == m && mode(b) == m, f"$what: ${mode(a)}%04o vs ${mode(b)}%04o")
    }
  }

  test("a mode with the sticky bit takes Hadoop's own path and gives its result") {
    // java.nio cannot set the sticky bit: only the stock chmod leaves it set
    for (dir <- Seq(false, true)) {
      val (a, b) = setBoth(oct("1755"), dir)
      assert(mode(a) == oct("1755") && mode(b) == oct("1755"), f"${mode(a)}%04o vs ${mode(b)}%04o")
      assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b))
    }
  }

  test("a missing path throws an IOException on both") {
    val root = Files.createTempDirectory("graft-nio-perm")
    for (fs <- Seq(nio, stock))
      intercept[IOException](fs.setPermission(new Path(root.resolve("missing").toUri),
        new FsPermission(oct("644").toShort)))
  }

  test("NioLocalFileSystem writes the files, checksums and modes Hadoop's LocalFileSystem writes") {
    import scala.jdk.CollectionConverters._
    def tree(fs: org.apache.hadoop.fs.LocalFileSystem): Map[String, Int] = {
      fs.initialize(URI.create("file:///"), new Configuration())
      val root = Files.createTempDirectory("graft-nio-fs")
      fs.mkdirs(new Path(root.resolve("d/e").toUri))
      val out = fs.create(new Path(root.resolve("d/e/a.bin").toUri))
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      val walk = Files.walk(root)
      try walk.iterator().asScala.map(p => root.relativize(p).toString -> mode(p)).toMap
      finally walk.close()
    }
    val nioFs = new NioLocalFileSystem
    assert(nioFs.getRaw.isInstanceOf[NioLocalFileSystem.Raw])
    val written = tree(nioFs)
    assert(written.contains("d/e/.a.bin.crc"), s"no checksum file: $written")
    assert(written == tree(new org.apache.hadoop.fs.LocalFileSystem))
  }
}
