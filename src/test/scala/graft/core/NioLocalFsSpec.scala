package graft.core

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** [[NioRawLocalFileSystem]] and its `FileContext` wrapper give the same
  * answers as Hadoop's stock local filesystem. */
class NioLocalFsSpec extends AnyFunSuite {

  private def raw(fs: RawLocalFileSystem, conf: Configuration = new Configuration()) = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
  private def both(conf: Configuration = new Configuration()): Seq[(String, FileSystem)] =
    Seq("stock" -> raw(new RawLocalFileSystem, conf), "nio" -> raw(new NioRawLocalFileSystem, conf))

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("create, mkdirs and setPermission leave the stock permission bits") {
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val dir = Files.createTempDirectory("nio-fs-perm").toString
      val modes = both(conf).map { case (name, fs) =>
        val base = s"$dir/$name"
        fs.create(new Path(s"$base/default")).close()
        fs.create(new Path(s"$base/p600"), new FsPermission("600"), false, 4096,
          1.toShort, 1L << 20, null).close()
        fs.create(new Path(s"$base/p755"), new FsPermission("755"), false, 4096,
          1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(s"$base/d"))
        fs.mkdirs(new Path(s"$base/d700/nested"), new FsPermission("700"))
        fs.create(new Path(s"$base/chmod")).close()
        fs.setPermission(new Path(s"$base/chmod"), new FsPermission("640"))
        // the sticky bit is outside NIO's view and takes the stock path
        fs.mkdirs(new Path(s"$base/sticky"))
        fs.setPermission(new Path(s"$base/sticky"), new FsPermission("1777"))
        val missing = Try(fs.setPermission(new Path(s"$base/missing"), new FsPermission("600")))
        Seq("default", "p600", "p755", "d", "d700", "d700/nested", "chmod")
          .map(f => f -> mode(s"$base/$f")) :+
          ("sticky" -> fs.getFileStatus(new Path(s"$base/sticky")).getPermission.toString) :+
          ("missing" -> missing.failed.toOption.map(_.isInstanceOf[java.io.IOException]).toString)
      }
      assert(modes.head == modes(1), s"umask $umask")
      assert(modes.head.toMap.apply("default") == (if (umask == "022") "rw-r--r--" else "rw-------"))
      assert(modes.head.toMap.apply("missing") == "Some(true)")
    }
  }

  private def describe(r: Try[FileStatus]): String = r.fold(
    e => s"throws ${e.getClass.getName}",
    s => Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else "-", s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup).mkString(" "))

  test("getFileLinkStatus and getLinkTarget answer as stock for file: and bare paths") {
    val dir = Files.createTempDirectory("nio-fs-link").toRealPath().toString
    Files.writeString(Paths.get(s"$dir/file"), "x")
    Files.createDirectory(Paths.get(s"$dir/dir"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
    Files.createSymbolicLink(Paths.get(s"$dir/relative-link"), Paths.get("file"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    val fss = both()
    for {
      name <- Seq("file", "dir", "missing", "link", "relative-link", "dangling")
      path <- Seq(s"file:$dir/$name", s"$dir/$name")
    } {
      val Seq(stock, nio) = fss.map { case (_, fs) =>
        describe(Try(fs.getFileLinkStatus(new Path(path)))) + " | target " +
          Try(fs.getLinkTarget(new Path(path))).fold(e => e.getClass.getName, _.toString)
      }
      assert(nio == stock, path)
    }
    // the stock answers the mirror keeps: a bare path sees the link, a
    // file: string reads as "not a link"
    val nio = fss(1)._2
    assert(nio.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    assert(!nio.getFileLinkStatus(new Path(s"file:$dir/link")).isSymlink)
    assert(nio.getFileLinkStatus(new Path(s"$dir/dangling")).isSymlink)
  }

  private def context(bind: Boolean): FileContext = {
    val conf = new Configuration()
    if (bind) conf.set(NioLocalFs.abstractFileSystemKey, classOf[NioLocalFs].getName)
    FileContext.getFileContext(URI.create("file:///"), conf)
  }

  test("FileContext rename with OVERWRITE behaves as stock; reads check the .crc") {
    assert(context(bind = true).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val root = Files.createTempDirectory("nio-fs-rename").toString
    val outcomes = Seq("stock" -> context(bind = false), "nio" -> context(bind = true)).map {
      case (name, fc) =>
        val dir = s"$root/$name"
        def write(f: String, body: String): Unit = {
          val out = fc.create(new Path(s"$dir/$f"),
            EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
          try out.write(body.getBytes(UTF_8)) finally out.close()
        }
        def read(f: String): Try[String] = Try {
          val in = fc.open(new Path(s"$dir/$f"))
          try new String(in.readAllBytes(), UTF_8) finally in.close()
        }
        write("dst", "old entry")
        write("tmp", "new entry")
        val noOverwrite = Try(fc.rename(new Path(s"$dir/tmp"), new Path(s"$dir/dst")))
          .failed.toOption.map(_.getClass.getName)
        fc.rename(new Path(s"$dir/tmp"), new Path(s"$dir/dst"), Options.Rename.OVERWRITE)
        write("tmp2", "fresh")
        fc.rename(new Path(s"$dir/tmp2"), new Path(s"$dir/fresh"), Options.Rename.OVERWRITE)
        val listing = Paths.get(dir).toFile.list().toSeq.sorted
        val contents = Seq("dst", "fresh").map(f => read(f).get)
        val dstMode = mode(s"$dir/dst")
        val bytes = Files.readAllBytes(Paths.get(s"$dir/dst"))
        bytes(0) = (bytes(0) ^ 1).toByte
        Files.write(Paths.get(s"$dir/dst"), bytes)
        val corrupt = read("dst")
        ((noOverwrite, listing, contents, dstMode), corrupt)
    }
    assert(outcomes.head._1 == outcomes(1)._1)
    val (noOverwrite, listing, contents, _) = outcomes.head._1
    assert(noOverwrite.contains("org.apache.hadoop.fs.FileAlreadyExistsException"))
    assert(listing == Seq(".dst.crc", ".fresh.crc", "dst", "fresh"))
    assert(contents == Seq("new entry", "fresh"))
    // one flipped byte: the stock FileContext.open(path) skips the .crc and
    // returns it; the bound one fails the read
    assert(outcomes.head._2.toOption.contains("oew entry"))
    assert(outcomes(1)._2.failed.toOption.exists(_.isInstanceOf[ChecksumException]))
  }
}
