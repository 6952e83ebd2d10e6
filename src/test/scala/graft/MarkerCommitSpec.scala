package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, FileContext, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import graft.io.MarkerCommit

/** A local filesystem whose permission and link calls fail, the raw
  * layer's included (a create or mkdirs sets its mode there): the
  * calls that start `chmod` and `readlink` processes without
  * libhadoop. */
class NoShellLocalFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    throw new UnsupportedOperationException(s"setPermission($p)")
  override def getFileLinkStatus(p: Path): FileStatus =
    throw new UnsupportedOperationException(s"getFileLinkStatus($p)")
})

object NoShellLocalFileSystem {
  /** `body` with Hadoop's `file` scheme on the failing filesystems, in
    * the session configuration that graft's writes resolve through. */
  def during[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq(
      "fs.file.impl" -> classOf[NoShellLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      "fs.AbstractFileSystem.file.impl" -> classOf[NoShellLocalFs].getName)
    val saved = keys.map { case (k, _) => k -> Option(conf.get(k)) }
    SparkSession.setActiveSession(spark)
    keys.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

/** [[NoShellLocalFileSystem]] behind `FileContext`. */
class NoShellLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoShellLocalFileSystem, conf,
      "file", false)

/** The `file://` half of the marker commit runs on java.nio: it never
  * calls Hadoop's local filesystem, a move refuses an existing target,
  * and an overwritten marker stays readable through Hadoop. */
class MarkerCommitSpec extends GraftSuite {

  private def tmp(name: String) =
    Files.createTempDirectory(s"marker_$name").toString

  private def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), content)
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  test("the file:// marker path never calls Hadoop's local filesystem") {
    val root = tmp("noshell")
    val dir = s"$root/a"
    write(s"$dir/data", "v1")
    write(s"$dir/_READY", "ready\n")
    write(s"$root/a.tmp/data", "v2")
    NoShellLocalFileSystem.during(spark) {
      // the failing filesystem is really in force for Hadoop callers
      val conf = spark.sparkContext.hadoopConfiguration
      intercept[UnsupportedOperationException](
        FileContext.getFileContext(new URI("file:///"), conf).rename(
          new Path(s"$root/a.tmp/data"), new Path(s"$root/moved")))
      intercept[UnsupportedOperationException](
        new Path(root).getFileSystem(conf)
          .setPermission(new Path(root), FsPermission.getDefault))

      MarkerCommit.commitSwap(dir, s"$root/a.tmp", "_READY")
      assert(read(s"$dir/data") == "v2" && read(s"$dir/_READY") == "ready\n")
      assert(!Files.exists(Paths.get(s"$root/a.tmp")) &&
        !Files.exists(Paths.get(s"$dir.old")))

      MarkerCommit.touch(s"$root/b/_FLAG", "one")
      MarkerCommit.touch(s"$root/b/_FLAG", "two")
      assert(read(s"$root/b/_FLAG") == "two")
      assert(new java.io.File(s"$root/b").list().toSeq == Seq("_FLAG"))

      // writer recovery: a marker-less half-write in `c`, the committed
      // predecessor aside in `c.old`
      write(s"$root/c/half", "x")
      write(s"$root/c.old/data", "old")
      write(s"$root/c.old/_READY", "ready\n")
      MarkerCommit.recover(s"$root/c", "_READY")
      assert(read(s"$root/c/data") == "old" &&
        !Files.exists(Paths.get(s"$root/c/half")))

      // reader recovery: `d` absent, the predecessor aside
      write(s"$root/d.old/data", "old")
      write(s"$root/d.old/_READY", "ready\n")
      MarkerCommit.recoverForRead(s"$root/d", "_READY")
      assert(MarkerCommit.markerExists(s"$root/d", "_READY"))

      MarkerCommit.deleteRecursively(s"$root/d")
      assert(!MarkerCommit.fileExists(s"$root/d"))
    }
  }

  test("a move onto an existing target throws FileAlreadyExistsException") {
    val root = tmp("move")
    write(s"$root/src/data", "s")
    Files.createDirectories(Paths.get(s"$root/empty"))
    write(s"$root/full/data", "f")
    write(s"$root/file", "target")
    write(s"$root/srcfile", "source")
    for (dst <- Seq("empty", "full")) {
      intercept[FileAlreadyExistsException](
        MarkerCommit.move(s"$root/src", s"$root/$dst"))
      assert(read(s"$root/src/data") == "s")
    }
    assert(new java.io.File(s"$root/empty").list().isEmpty)
    assert(read(s"$root/full/data") == "f")
    intercept[FileAlreadyExistsException](
      MarkerCommit.move(s"$root/srcfile", s"$root/file"))
    assert(read(s"$root/file") == "target")
    MarkerCommit.move(s"$root/src", s"$root/fresh")
    assert(read(s"$root/fresh/data") == "s")
  }

  test("overwriting a Hadoop-written marker leaves it readable through Hadoop") {
    val root = tmp("crc")
    val marker = new Path(s"$root/_COMMIT")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker)
    try out.write("a longer first version".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    assert(Files.exists(Paths.get(s"$root/._COMMIT.crc")))
    MarkerCommit.touch(marker.toString, "second")
    val in = fs.open(marker)
    val back =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    assert(back == "second")
  }
}
