package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] must be indistinguishable from Hadoop's stock
  * `LocalFileSystem` in what it writes and reports, minus the forks. Every
  * FileSystem here is a `newInstance`, so none enters Hadoop's cache. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def open(impl: Class[_ <: FileSystem], umask: String = "022"): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", impl.getName)
    conf.set("fs.permissions.umask-mode", umask)
    FileSystem.newInstance(URI.create("file:///"), conf)
  }

  private def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def tempDir(): Path = new Path(Files.createTempDirectory("niofs").toUri)

  private def same(nio: FileStatus, stock: FileStatus): Unit = {
    assert(nio.getPermission == stock.getPermission, s"permission of ${stock.getPath}")
    assert(nio.getOwner == stock.getOwner, s"owner of ${stock.getPath}")
    assert(nio.getGroup == stock.getGroup, s"group of ${stock.getPath}")
  }

  for ((umask, fileMode, dirMode) <- Seq(("022", "rw-r--r--", "rwxr-xr-x"), ("077", "rw-------", "rwx------")))
    test(s"reports the same permission, owner and group as the stock LocalFileSystem (umask $umask)") {
      val nio = open(classOf[NioLocalFileSystem], umask)
      val stock = open(classOf[LocalFileSystem], umask)
      try {
        assert(nio.isInstanceOf[NioLocalFileSystem] && !stock.isInstanceOf[NioLocalFileSystem])
        val root = tempDir()
        val dir = new Path(root, "d")
        val file = new Path(dir, "f")
        assert(nio.mkdirs(dir, FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(nio.getConf))))
        val out = nio.create(file)
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
        // the umask reaches the disk through the in-process chmod
        assert(stock.getFileStatus(file).getPermission.toString == fileMode)
        assert(stock.getFileStatus(dir).getPermission.toString == dirMode)
        def check(): Unit = {
          Seq(root, dir, file).foreach(p => same(nio.getFileStatus(p), stock.getFileStatus(p)))
          same(nio.listStatus(dir).find(_.getPath.getName == "f").get, stock.getFileStatus(file))
          val it = nio.listFiles(root, true)
          var listed = 0
          while (it.hasNext) {
            val s = it.next()
            same(s, stock.getFileStatus(s.getPath))
            listed += 1
          }
          assert(listed == 1, "the file; LocalFileSystem hides its checksum")
        }
        check()
        nio.setPermission(file, mode("640"))
        nio.setPermission(dir, mode("1777"))
        assert(stock.getFileStatus(file).getPermission.toString == "rw-r-----")
        assert(stock.getFileStatus(dir).getPermission.getStickyBit, "the sticky bit is kept")
        check()
      } finally { nio.close(); stock.close() }
    }

  test("a missing path surfaces as FileNotFoundException") {
    val nio = open(classOf[NioLocalFileSystem])
    try {
      val gone = new Path(tempDir(), "gone")
      intercept[FileNotFoundException](nio.getFileStatus(gone))
      intercept[FileNotFoundException](nio.setPermission(gone, mode("600")))
    } finally nio.close()
  }

  /** `ls -ld`'s permission string (without the type letter), owner and group. */
  private def lsLd(p: Path): (String, String, String) = {
    val proc = new ProcessBuilder("ls", "-ld", new java.io.File(p.toUri).getPath).start()
    val line = new String(proc.getInputStream.readAllBytes(), "UTF-8").trim
    assert(proc.waitFor() == 0, s"ls -ld $p failed")
    val f = line.split("\\s+")
    (f(0).substring(1, 10), f(2), f(3))
  }

  test("permission, owner and group load on first read, as ls -ld reports them then") {
    val nio = open(classOf[NioLocalFileSystem])
    try {
      val f = new Path(tempDir(), "f")
      val out = nio.create(f)
      try out.write(1) finally out.close()
      val st = nio.getFileStatus(f)
      // changed after the status was taken: a status that read its mode
      // eagerly would still report the umask's rw-r--r--
      Files.setPosixFilePermissions(new java.io.File(f.toUri).toPath,
        java.nio.file.attribute.PosixFilePermissions.fromString("rw-r-----"))
      val (perm, owner, group) = lsLd(f)
      assert(perm == "rw-r-----")
      assert(st.getPermission.toString == perm)
      assert(st.getOwner == owner && st.getGroup == group)
    } finally nio.close()
  }

  test("a status whose file vanished before its permission read fails naming the path") {
    val nio = open(classOf[NioLocalFileSystem])
    try {
      val dir = tempDir()
      val f = new Path(dir, "f")
      val out = nio.create(f)
      try out.write(1) finally out.close()
      val st = nio.getFileStatus(f)
      assert(nio.delete(f, false))
      val e = intercept[java.io.UncheckedIOException](st.getPermission)
      assert(e.getCause.isInstanceOf[FileNotFoundException])
      assert(e.getMessage.contains(f.toUri.getPath), e.getMessage)
      intercept[FileNotFoundException](nio.getFileStatus(f))
      assert(nio.listStatus(dir).isEmpty, "a vanished file is not listed")
    } finally nio.close()
  }

  test("bytes read through it move the global \"file\" statistics, even after a stock LocalFileSystem came first") {
    // Hadoop keys Statistics by FileSystem class and gives the global
    // "file" entry to the first class that registers; this JVM may have
    // registered either class first, so the stock class's own Statistics
    // must move too
    val stock = open(classOf[LocalFileSystem])
    val nio = open(classOf[NioLocalFileSystem])
    try {
      val global = FileSystem.getGlobalStorageStatistics.get("file")
      val stockStats = FileSystem.getStatistics("file", classOf[RawLocalFileSystem])
      val f = new Path(tempDir(), "data")
      val out = nio.create(f)
      try out.write(new Array[Byte](4096)) finally out.close()
      val (globalBefore, stockBefore) = (global.getLong("bytesRead"), stockStats.getBytesRead)
      val in = nio.open(f)
      try in.readFully(new Array[Byte](4096)) finally in.close()
      assert(global.getLong("bytesRead") - globalBefore >= 4096L)
      assert(stockStats.getBytesRead - stockBefore >= 4096L)
    } finally { nio.close(); stock.close() }
  }
}
