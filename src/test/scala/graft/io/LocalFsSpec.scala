package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[ForklessRawLocalFileSystem]] gives stock `RawLocalFileSystem`'s
  * answers: the same modes after `setPermission`, the same
  * `getFileLinkStatus` on files, directories, links and missing paths.
  * Built directly, not through `FileSystem.get`, so the JVM-wide
  * filesystem cache is left alone.
  */
class LocalFsSpec extends AnyFunSuite {

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val forkless = init(new ForklessRawLocalFileSystem)

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-localfs")
    def rm(f: java.io.File): Unit = {
      if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    try body(dir) finally rm(dir.toFile)
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def octal(m: Int): Short = Integer.parseInt(m.toString, 8).toShort

  test("setPermission leaves the modes stock chmod leaves, on files and directories") {
    withDir { dir =>
      for (m <- Seq(0, 600, 644, 700, 755, 777); kind <- Seq("file", "dir")) {
        val (a, b) = (dir.resolve(s"stock-$kind-$m"), dir.resolve(s"forkless-$kind-$m"))
        Seq(a, b).foreach(p => if (kind == "dir") Files.createDirectory(p) else Files.createFile(p))
        stock.setPermission(new Path(a.toUri), new FsPermission(octal(m)))
        forkless.setPermission(new Path(b.toUri), new FsPermission(octal(m)))
        assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a), s"$kind $m")
        assert(mode(b) == mode(a), s"$kind $m")
        assert(mode(b) == octal(m), s"$kind $m")
      }
    }
  }

  test("modes nio cannot express take the stock path and match") {
    withDir { dir =>
      val (a, b) = (dir.resolve("stock-sticky"), dir.resolve("forkless-sticky"))
      Seq(a, b).foreach(Files.createDirectory(_))
      stock.setPermission(new Path(a.toUri), new FsPermission(octal(1777)))
      forkless.setPermission(new Path(b.toUri), new FsPermission(octal(1777)))
      assert(mode(a) == octal(1777))
      assert(mode(b) == mode(a))
      // chmod keeps a directory's set-id bits under a four-digit mode
      val (c, d) = (dir.resolve("stock-setgid"), dir.resolve("forkless-setgid"))
      Seq(c, d).foreach { p =>
        Files.createDirectory(p)
        Files.setAttribute(p, "unix:mode", Integer.valueOf(octal(2755).toInt))
      }
      stock.setPermission(new Path(c.toUri), new FsPermission(octal(700)))
      forkless.setPermission(new Path(d.toUri), new FsPermission(octal(700)))
      assert(mode(c) == octal(2700))
      assert(mode(d) == mode(c))
      assert(Files.getPosixFilePermissions(d) == PosixFilePermissions.fromString("rwx------"))
    }
  }

  private def view(s: FileStatus) = (s.isSymlink, s.isDirectory, s.getLen, s.getPath,
    if (s.isSymlink) Some(s.getSymlink) else None)

  test("getFileLinkStatus matches stock on files, directories, links and missing paths") {
    withDir { dir =>
      val file = Files.write(dir.resolve("f.txt"), "graft".getBytes)
      val sub = Files.createDirectory(dir.resolve("sub"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val paths = Seq(
        new Path(file.toUri), new Path(file.toString),
        new Path(sub.toUri), new Path(sub.toString),
        new Path(link.toUri), new Path(link.toString))
      paths.foreach { p =>
        assert(view(forkless.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), p)
      }
      // the stock readlink runs on the string "file:/...", so only the
      // bare path of a link reads as one; both classes agree on that
      assert(forkless.getFileLinkStatus(new Path(link.toString)).isSymlink)
      assert(forkless.getFileLinkStatus(new Path(link.toString)).getSymlink.toUri.getPath ==
        file.toString)
      assert(!forkless.getFileLinkStatus(new Path(link.toUri)).isSymlink)
      assert(forkless.getFileLinkStatus(new Path(link.toUri)).getLen == 5)
      val missing = new Path(dir.resolve("missing").toUri)
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](forkless.getFileLinkStatus(missing))
    }
  }
}
