package graft.sources

import java.io.{FileNotFoundException, UncheckedIOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem the engine runs on ([[graft.GraftSession]] sets it
  * as `fs.file.impl`): Hadoop's checksummed `LocalFileSystem`, over a
  * `RawLocalFileSystem` that sets and reads permissions through java.nio.
  *
  * Without `libhadoop`, `RawLocalFileSystem` forks a `chmod` for every file
  * and directory it creates, and an `ls -ld` whenever a caller reads a
  * status's permission, owner or group, which every `LocatedFileStatus`
  * that `listFiles` builds does. Each fork costs about 1.5 ms of wall time
  * from a 2 GB JVM on 4 vCPUs, and a whole `lake_dml` benchmark run forked
  * 962 times. The same `chmod(2)` and `lstat(2)` run here in-process. Where
  * the platform has no `unix` attribute view, both calls fall back to
  * Hadoop's.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Octal 07777: the sticky, setuid and setgid bits and rwx for all. */
  private val PermissionBits = 0xfff

  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  class Raw extends RawLocalFileSystem {

    override def initialize(uri: URI, conf: Configuration): Unit = {
      // Hadoop keys Statistics by class, and the global "file" entry belongs
      // to whichever class registers first: register the stock class before
      // this one and count into its Statistics, so that entry moves whichever
      // local FileSystem the JVM made first.
      val stock = FileSystem.getStatistics(uri.getScheme, classOf[RawLocalFileSystem])
      super.initialize(uri, conf)
      statistics = stock
    }

    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!unixView) super.setPermission(p, permission)
      else existing(p)(Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Int.box(permission.toShort & PermissionBits)))

    /** The stock status, whose permission, owner and group load from one
      * `lstat` on first read, as `ls -ld` reports them; the stock status
      * loads them lazily too, by forking that `ls`. Callers that never read
      * them (Spark's file listings, parquet's input files) pay nothing. A
      * missing path still throws `FileNotFoundException` here, so
      * `listStatus` skips a file that vanishes while it lists. */
    override def getFileStatus(f: Path): FileStatus = {
      val st = super.getFileStatus(f)
      if (!unixView) st else new LazyStatus(st, pathToFile(f).toPath)
    }
  }

  private final class LazyStatus(st: FileStatus, file: java.nio.file.Path)
      extends FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, null, null, null, st.getPath) {
    @volatile private var loaded = false

    /** A file removed since its status was taken fails the read, like the
      * stock status's `ls`, naming the path. */
    private def load(): Unit = if (!loaded) synchronized {
      if (!loaded) {
        val a =
          try existing(getPath)(Files.readAttributes(file, "unix:mode,owner,group",
            LinkOption.NOFOLLOW_LINKS))
          catch { case e: FileNotFoundException => throw new UncheckedIOException(e) }
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & PermissionBits).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
    override def write(out: java.io.DataOutput): Unit = { load(); super.write(out) }
    // Java serialization writes the superclass's fields directly: ship a
    // loaded plain status instead
    private def writeReplace(): AnyRef =
      new FileStatus(getLen, isDirectory, getReplication, getBlockSize,
        getModificationTime, getAccessTime, getPermission, getOwner, getGroup, getPath)
  }

  /** A file removed under us surfaces as Hadoop's `FileNotFoundException`. */
  private def existing[T](p: Path)(op: => T): T =
    try op catch {
      case e: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist: ${e.getMessage}")
    }
}
