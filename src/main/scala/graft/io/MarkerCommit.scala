package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{FileVisitResult, Files, LinkOption, Paths, SimpleFileVisitor, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, Options, Path}

import org.apache.spark.sql.SparkSession

/** The shared marker-last commit protocol behind [[PqIndexStore]],
  * [[SketchStore]] and [[graft.etl.VersionStore]] — ONE copy of the
  * crash-safety sequence, so a hardening fix reaches every
  * committed-artifact store at once (the stores previously carried it
  * verbatim-duplicated).
  *
  * Contract (stated once, here): the MARKER is the commit — readers
  * gate on it alone and never list a marker-less directory. A write
  * lands fully under a temp sibling, [[recover]] restores a
  * predecessor that a prior crash left as the only committed
  * artifact, the predecessor is renamed ASIDE (never
  * delete-then-move), the successor moves in, the marker lands, and
  * only then is the predecessor dropped — a crash at ANY step leaves
  * a complete committed artifact on disk. Directory rename is a
  * local-fs/HDFS optimization; on an object store the same discipline
  * holds via content-addressed successor paths + marker-last (see
  * the PqIndexStore scaladoc).
  *
  * Filesystem resolution follows the DATA path: a path resolves under
  * the active Spark session's Hadoop configuration, so a schemeless
  * path lands on the SAME filesystem `spark.read.parquet`/
  * `df.write.parquet` resolve it to (`fs.defaultFS`). Markers written
  * on the driver-local disk while the frames went to HDFS/ABFS would
  * leave every other reader host an uncommitted artifact forever.
  *
  * Two implementations of the four operations (exists, move, touch,
  * delete), chosen by the resolved scheme:
  *   - `file://` goes through java.nio. Hadoop's local filesystem
  *     starts a `chmod` process on every create and a `readlink`
  *     process on every rename when libhadoop is absent (about 25 ms
  *     per commit); java.nio does the same work in system calls.
  *     `move` is `Files.move` without `ATOMIC_MOVE`: it refuses an
  *     existing target, where `rename(2)` would silently replace an
  *     empty directory. `touch` writes a hidden temp sibling and
  *     renames it into place, so a reader sees the old content or the
  *     new, never a partial file; it drops the `.<name>.crc` sidecar a
  *     Hadoop write may have left, which would otherwise fail the
  *     next checksummed read.
  *   - Every other scheme goes through Hadoop [[FileContext]], whose
  *     `Rename.NONE` is the fail-if-destination-exists rename
  *     (`FileSystem.rename` has posix-mv move-INTO-directory semantics
  *     that would silently nest the successor instead of failing).
  *
  * Either way a move onto an existing target throws Hadoop's
  * [[FileAlreadyExistsException]], which the race absorption below
  * depends on.
  *
  * Fsync policy: none, on either path. A commit survives a process
  * crash at any step (each step is a rename or a whole-file write),
  * but not necessarily a power loss: the data files Spark's local
  * writer lands are not synced either, so syncing the marker alone
  * would not make the commit durable. Power-loss durability is the
  * filesystem's (HDFS replication, an object store's PUT). */
private[graft] object MarkerCommit {

  private def conf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def ctx(p: Path): FileContext =
    FileContext.getFileContext(p.toUri, conf)

  /** `p` as a java.nio path when it resolves to the local filesystem
    * (a `file:` URI, or a schemeless path under a `file:` default). */
  private def local(p: Path): Option[JPath] = {
    val uri = p.toUri
    val scheme = Option(uri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") Some(Paths.get(uri.getPath)) else None
  }

  /** Marker-gated visibility check — the ONE reader gate. */
  def markerExists(dir: String, marker: String): Boolean =
    fileExists(new Path(dir, marker).toString)

  def fileExists(path: String): Boolean = {
    val p = new Path(path)
    local(p) match {
      case Some(l) => Files.exists(l)
      case None => ctx(p).util().exists(p)
    }
  }

  /** Create/overwrite a small marker/flag file with `content`. */
  def touch(path: String, content: String): Unit = {
    val p = new Path(path)
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    local(p) match {
      case Some(l) =>
        val dir = l.getParent
        Files.createDirectories(dir)
        val name = l.getFileName.toString
        val tmp = dir.resolve(s".$name.${java.util.UUID.randomUUID}.tmp")
        try {
          Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW,
            StandardOpenOption.WRITE)
          Files.deleteIfExists(dir.resolve(s".$name.crc"))
          Files.move(tmp, l, StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
        } finally Files.deleteIfExists(tmp)
      case None =>
        val out = ctx(p).create(p,
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(bytes)
        finally out.close()
    }
  }

  /** Fail-if-destination-exists move (file or directory). */
  private[graft] def move(src: String, dst: String): Unit = {
    val (s, d) = (new Path(src), new Path(dst))
    (local(s), local(d)) match {
      case (Some(ls), Some(ld)) =>
        try Files.move(ls, ld)
        catch {
          // the target check and the rename are two system calls: a
          // target that lands between them fails the rename as a
          // non-empty directory, not as an existing file
          case e: java.nio.file.FileSystemException
              if Files.exists(ld, LinkOption.NOFOLLOW_LINKS) =>
            throw new FileAlreadyExistsException(
              s"move $src -> $dst: target exists").initCause(e)
        }
      case _ => ctx(s).rename(s, d, Options.Rename.NONE)
    }
  }

  /** WRITER-path recovery: a prior crash can leave `dir + ".old"`
    * holding the ONLY committed artifact (predecessor renamed
    * aside, successor's marker never landed). Restore it, deleting
    * any marker-less half-write occupying `dir`. Destructive, so it
    * runs ONLY from writer entry points (write/getOrBuild/append
    * maintenance), which the stores' single-writer contract covers;
    * a READ racing a live writer must never delete the successor the
    * writer just moved in — readers use [[recoverForRead]]. */
  def recover(dir: String, marker: String): Unit = {
    val old = dir + ".old"
    if (markerExists(old, marker) && !markerExists(dir, marker)) {
      deleteRecursively(dir) // marker-less half-write, if any
      move(old, dir)
    }
  }

  /** READER-path recovery: restore the `.old` predecessor ONLY when
    * `dir` is entirely absent (the crash window between rename-aside
    * and successor-move-in), and never delete anything — a
    * marker-less `dir` might be a live writer mid-swap, and
    * destroying it from a read would lose the commit (review-caught
    * race). Races between concurrent readers (both attempting the
    * restore) are absorbed: the loser's move throws and the caller's
    * marker re-check decides. */
  def recoverForRead(dir: String, marker: String): Unit = {
    val old = dir + ".old"
    if (markerExists(old, marker) && !fileExists(dir)) {
      try move(old, dir)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Swap the fully-written `tmp` into `dir` under the marker-last
    * discipline. `tmp` must hold the complete successor artifact
    * (minus the marker, which THIS call writes). Single-writer by
    * contract; a reader's concurrent restore racing the successor
    * move is absorbed by a BOUNDED retry loop — each restore the
    * reader wins re-lands the committed predecessor in `dir`, which
    * the next attempt re-asides before moving the successor in. The
    * bound (8) covers any realistic reader herd; exhausting it fails
    * the WRITE loudly while the committed predecessor stays intact
    * (safety holds either way — the marker is the commit). */
  def commitSwap(dir: String, tmp: String, marker: String): Unit = {
    val old = dir + ".old"
    recover(dir, marker)
    var landed = false
    var attempts = 0
    while (!landed) {
      attempts += 1
      deleteRecursively(old) // stale leftover from a prior crash/retry
      if (fileExists(dir)) move(dir, old)
      try { move(tmp, dir); landed = true }
      catch {
        case e: FileAlreadyExistsException =>
          // a racing reader restored `.old` into `dir` between our
          // rename-aside and move-in; it is the committed predecessor
          // again — loop: re-aside it and land the successor
          if (attempts >= 8) throw new java.io.IOException(
            s"commitSwap: reader-restore race persisted after $attempts " +
              s"attempts on $dir (committed predecessor intact)", e)
      }
    }
    touch(new Path(dir, marker).toString, "ready\n")
    deleteRecursively(old)
  }

  def deleteRecursively(dir: String): Unit = {
    val p = new Path(dir)
    local(p) match {
      case Some(l) =>
        // a file's checksum sidecar goes with it, as in Hadoop's delete
        if (Files.isRegularFile(l, LinkOption.NOFOLLOW_LINKS))
          Files.deleteIfExists(l.resolveSibling(s".${l.getFileName}.crc"))
        if (Files.exists(l, LinkOption.NOFOLLOW_LINKS))
          Files.walkFileTree(l, new SimpleFileVisitor[JPath] {
            override def visitFile(f: JPath, a: BasicFileAttributes) = {
              Files.delete(f); FileVisitResult.CONTINUE
            }
            override def postVisitDirectory(d: JPath, e: java.io.IOException) = {
              if (e != null) throw e
              Files.delete(d); FileVisitResult.CONTINUE
            }
          })
      case None =>
        val c = ctx(p)
        if (c.util().exists(p)) c.delete(p, true)
    }
  }
}
