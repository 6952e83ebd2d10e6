package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** The one parquet writer of graft's stores (`VersionStore`,
  * `DataSkipping`, `PqIndexStore`, `SketchStore`, `PartitionedStore`,
  * `Compaction`).
  *
  * Without libhadoop, Hadoop's local filesystem sets every file's and
  * directory's mode by starting a `chmod` process: one per data file,
  * `.crc` sidecar and directory a write creates. The writer resolves
  * `file://` paths through [[NoForkLocalFileSystem]] instead, which
  * sets the same mode bits through java.nio. It is passed as Hadoop
  * options of the one write
  * (`fs.file.impl`, with the filesystem cache off so the option is not
  * answered by a cached instance): other schemes and the session's own
  * configuration are untouched.
  *
  * A catalog table's write (`Bucketing`) does not come here: a
  * `saveAsTable` keeps its writer options as table properties, so the
  * table would name a graft class to every later reader of the
  * catalog. */
object StoreWriter {

  /** `df.write` with the no-fork local filesystem for this write. */
  def apply(df: DataFrame): DataFrameWriter[Row] =
    df.write
      .option("fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
}

/** Hadoop's checksummed local filesystem over [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** Hadoop's raw local filesystem whose `setPermission` sets the POSIX
  * mode through java.nio rather than a `chmod` process (the same
  * `rwxr-xr-x` bits). It falls back to Hadoop's own on a filesystem
  * without POSIX attributes and for a mode with the sticky bit, which
  * java.nio cannot set. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NoForkRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}

object NoForkRawLocalFileSystem {
  private lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}
