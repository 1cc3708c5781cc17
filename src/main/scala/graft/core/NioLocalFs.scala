package graft.core

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException, Paths}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream,
  FSLinkResolver, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without child processes.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` starts a `chmod`
  * process for every file or directory it creates with a permission
  * (`setPermission`), and a `readlink` process for every link-status call
  * (`getFileLinkStatus`, through `FileUtil.readLink`); a `FileContext`
  * rename makes several of those. Each launch costs ~3 ms, and every
  * streaming micro-batch writes four checkpoint log entries (`offsets/N`,
  * `sources/0/N`, `commits/N`, the sink's `_spark_metadata/N`) through
  * `FileContext` create + rename — ~32 launches per batch.
  *
  * [[NioRawLocalFileSystem]] does both calls through `java.nio` instead;
  * everything else is the stock class. The two wrappers Hadoop binds to
  * the `file` scheme come with it: [[NioLocalFileSystem]] (the checksummed
  * `FileSystem`, `fs.file.impl`) and [[NioLocalFs]] (the checksummed
  * `AbstractFileSystem` behind `FileContext`,
  * `fs.AbstractFileSystem.file.impl`). `.crc` files are written as by the
  * stock wrappers and verified on every read; the stock `FileContext`
  * wrapper skips that check in `open(path)` (see [[NioLocalFs]]).
  */
object NioLocalFs {
  val fileSystemKey = "fs.file.impl"
  val abstractFileSystemKey = "fs.AbstractFileSystem.file.impl"

  /** Session-builder confs binding both sides (`spark.hadoop.*` lands in
    * the SparkContext's Hadoop configuration). Bind them when the session
    * is built: `FileSystem` instances are cached per scheme JVM-wide, so a
    * later binding of `fs.file.impl` misses a `file:` filesystem that is
    * already cached. */
  def sessionConfs: Map[String, String] = Map(
    s"spark.hadoop.$fileSystemKey" -> classOf[NioLocalFileSystem].getName,
    s"spark.hadoop.$abstractFileSystemKey" -> classOf[NioLocalFs].getName)

  /** Bind the `FileContext` side on a running session: streaming
    * checkpoint and metadata logs resolve it from the session's Hadoop
    * conf when a query starts, and `AbstractFileSystem` has no instance
    * cache, so this takes effect even after `file:` has been used. */
  def bindFileContext(spark: SparkSession): Unit =
    spark.conf.set(abstractFileSystemKey, classOf[NioLocalFs].getName)

  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission's declaration order is the mode's bit order,
  // owner read (0400) first
  private val modeBits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  private[core] def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    modeBits.foreach { case (p, bit) => if ((mode & bit) != 0) s.add(p) }
    s
  }

  /** `FileUtil.readLink` without the `readlink` process: the link target
    * of the path string, or "" when it is not a symlink or cannot be read.
    * Like the stock call, the string is taken as a local path as is, so a
    * `file:/…` string names a relative path and always reads as "". */
  private[core] def readLink(path: String): String =
    try Files.readSymbolicLink(Paths.get(path)).toString.trim
    catch {
      case _: IOException | _: InvalidPathException | _: UnsupportedOperationException => ""
    }

  /** Whether [[NioRawLocalFileSystem.setPermission]] can use NIO for this
    * mode: POSIX views only express the nine rwx bits, not the sticky bit,
    * and with libhadoop loaded the stock call is already native. */
  private[core] def nioChmod(mode: Int): Boolean =
    posix && (mode & ~0x1ff) == 0 && !NativeIO.isAvailable
}

/** `RawLocalFileSystem` whose `setPermission`, `getFileLinkStatus` and
  * `getLinkTarget` start no process. Link status mirrors the stock
  * (default, non-`Stat`) code path: the answer for a path string is the
  * one the stock class gives for the same string. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (NioLocalFs.nioChmod(mode))
      Files.setPosixFilePermissions(pathToFile(p).toPath, NioLocalFs.posixPermissions(mode))
    else super.setPermission(p, permission)
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  private def linkStatus(f: Path): FileStatus = {
    val target = NioLocalFs.readLink(f.toString)
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      // a dangling link: the link exists, its target does not
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

/** The checksummed local `FileSystem` (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The checksummed local `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`): Hadoop's `LocalFs` over
  * [[NioRawLocalFileSystem]]. Like `LocalFs`, it is always rooted at
  * `file:///`. */
class NioLocalFs(conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf)) {
  // the constructor AbstractFileSystem.createFileSystem looks up
  def this(uri: URI, conf: Configuration) = this(conf)

  // FilterFs.open(Path) hands the call straight to the raw filesystem, so
  // the stock FileContext.open(path), the call Spark's checkpoint logs
  // read with, never checks the .crc. Route it through the checksummed
  // open(path, bufferSize), as LocalFileSystem's open(path) does.
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]]. */
private[core] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
