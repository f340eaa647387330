package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[ForkFreeLocalFileSystem]] must answer exactly as Hadoop's
  * `RawLocalFileSystem` on the two calls it overrides.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val forkFree = init(new ForkFreeLocalFileSystem)

  private def withDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("graft_fs_parity")
    try body(dir)
    finally graft.operators.StreamQueries.deleteRecursively(dir.toFile)
  }

  private def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory,
    s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen,
    s.getModificationTime, s.getPermission, s.getOwner)

  test("getFileLinkStatus agrees with Hadoop's on a file, a directory and a " +
      "symlink, and both throw FileNotFoundException on a missing path") {
    withDir { dir =>
      val file = Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
      val sub = Files.createDirectory(dir.resolve("d"))
      val link = Files.createSymbolicLink(dir.resolve("l"), file)
      // a bare path and a file: URI: Hadoop's readlink sees a symlink
      // only through the bare one
      for (p <- Seq(file, sub, link); hp <- Seq(new Path(p.toString),
          new Path(p.toUri))) {
        assert(fields(forkFree.getFileLinkStatus(hp)) ===
          fields(stock.getFileLinkStatus(hp)), hp)
      }
      assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
      val missing = new Path(dir.resolve("missing").toString)
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](forkFree.getFileLinkStatus(missing))
    }
  }

  test("setPermission gives the mode Hadoop's gives for 0644, 0755 and " +
      "0600, and a sticky bit takes Hadoop's path") {
    def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
    def octal(m: String): FsPermission = new FsPermission(Integer.parseInt(m, 8).toShort)
    withDir { dir =>
      for (m <- Seq("644", "755", "600")) {
        val perm = octal(m)
        val a = Files.createFile(dir.resolve(s"stock_$m"))
        val b = Files.createFile(dir.resolve(s"fork_free_$m"))
        stock.setPermission(new Path(a.toString), perm)
        forkFree.setPermission(new Path(b.toUri), perm)
        assert(mode(b) === mode(a), perm)
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(b)) ===
          perm.toString)
      }
      // java.nio cannot set the sticky bit; Hadoop's chmod can
      val sticky = octal("1755")
      val a = Files.createDirectory(dir.resolve("stock_sticky"))
      val b = Files.createDirectory(dir.resolve("fork_free_sticky"))
      stock.setPermission(new Path(a.toString), sticky)
      forkFree.setPermission(new Path(b.toString), sticky)
      assert((mode(a) & 0xfff) === sticky.toShort)
      assert(mode(b) === mode(a))
    }
  }
}
