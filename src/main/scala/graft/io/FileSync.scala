package graft.io

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

/** Connector seam for the reference's file-pull control flow: list a
  * remote folder, keep items modified after the last processed
  * watermark, fetch each, convert, land
  * (code/download_from_sharepoint.py:104-124 — the SharePoint
  * last-modified gate; :35-86 is the Graph-API auth/fetch this trait
  * abstracts away, unreachable in a zero-egress environment).
  *
  * The trait is the minimal surface that loop needs: `list` (names +
  * last-modified) and `fetch` (bytes). A production connector
  * (Graph API, S3, ADLS) implements it; [[FileSource.Local]] is the
  * filesystem implementation the specs drive end-to-end.
  */
trait FileSource extends Serializable {
  def list(): Seq[FileSource.Entry]
  def fetch(name: String): Array[Byte]
}

object FileSource {
  /** One remote item: connector-relative name + last-modified. */
  final case class Entry(name: String, lastModified: Instant)

  /** Local-directory source (non-recursive, extension filter).
    * Holds the root as a String: the source ships to executors for the
    * distributed fetch (java.nio Path isn't serializable). */
  final class Local(rootDir: String, suffix: String) extends FileSource {
    def this(root: Path, suffix: String = "") = this(root.toString, suffix)
    private def root: Path = java.nio.file.Paths.get(rootDir)
    def list(): Seq[Entry] = {
      // Files.list holds an open DirectoryStream — close it, or every
      // sync run leaks a file descriptor
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(suffix))
        .map(p => Entry(p.getFileName.toString,
          Files.getLastModifiedTime(p).toInstant))
        .toSeq.sortBy(_.name)
      finally s.close()
    }
    def fetch(name: String): Array[Byte] =
      Files.readAllBytes(root.resolve(name))
  }
}

/** The watermark-gated incremental pull, reference's loop re-expressed
  * with the library's own pieces: the *gate* is the processed log's
  * max `last_modified` (one scalar action) applied on the driver to
  * the listing it already holds — `Snapshot.newerThan`'s contract,
  * bootstrap-on-empty included, without its broadcast-join jobs; the
  * *listing* is a bounded driver collect (names + timestamps only —
  * the watermark cut needs a total order); and the *payload fetch*
  * runs on executors: the gated (name, ts) list is parallelized and
  * each task calls `source.fetch` for its slice, so a 10k-file drop
  * loads through the cluster, not one JVM (the reference loops
  * `requests.get` on the driver, download_from_sharepoint.py:104-124 —
  * per-file unit of work kept, driver funnel not). Parsing/landing is
  * distributed as before (`XlsxIngest` / `CsvIngest` over the fetched
  * payloads).
  */
object FileSync {

  /** Listing entries newer than the max `last_modified` recorded in
    * `processedLog` (schema: at least `last_modified` timestamp).
    * Empty log ⇒ everything (first run processes the full folder).
    * The comparison is a strict `>` at Spark's microsecond precision,
    * as `Snapshot.newerThan` over the listing would make it; the
    * result is a local frame of (name, last_modified).
    *
    * A log the driver already holds costs no job: when the optimized
    * plan of the `last_modified` cast is a local relation (a frame
    * built from a local `Seq`, projections of it folded in by the
    * optimizer), the watermark is read from its rows here. Any other
    * log (a table, a parquet directory) runs one top-1 job. */
  def newEntries(spark: SparkSession, source: FileSource,
                 processedLog: DataFrame): DataFrame = {
    val stamps = processedLog
      .select(col("last_modified").cast(TimestampType).as("wm"))
    val wm = stamps.queryExecution.optimizedPlan match {
      case local: LocalRelation =>
        local.data.filterNot(_.isNullAt(0)).map(_.getLong(0)).maxOption
      case _ =>
        // the max as a top-1 (one job; a global aggregate's shuffle is two)
        stamps.orderBy(col("wm").desc_nulls_last).limit(1).collect()
          .headOption.flatMap(r => Option(r.get(0))).map {
            case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
            case i: Instant            => DateTimeUtils.instantToMicros(i)
            case o => throw new IllegalStateException(s"unexpected ts type: $o")
          }
    }
    val kept = source.list()
      .map(e => Row(e.name, java.sql.Timestamp.from(e.lastModified)))
      .filter(r => wm.forall(
        DateTimeUtils.fromJavaTimestamp(r.getAs[java.sql.Timestamp](1)) > _))
    spark.createDataFrame(kept.asJava, EntrySchema)
  }

  /** [[newEntries]]'s result: the names and nullability a local
    * `(String, Timestamp)` frame gets. */
  private val EntrySchema = StructType(Seq(
    StructField("name", StringType), StructField("last_modified", TimestampType)))

  /** Fetch the gated delta: (name, last_modified, content) rows, bytes
    * pulled once per new file via the connector — on executors. Only
    * the (name, ts) *listing* is collected (the watermark cut needs a
    * total order; it's two small columns, bounded by `maxFiles`); the
    * cut list is then parallelized and each task fetches its slice's
    * payloads, so bytes never funnel through the driver. The result is
    * a normal DataFrame — hand `content` to `XlsxIngest.parseWorkbook`
    * rows or decode+`from_csv` (CsvIngest's cleanser ladder) to land
    * it distributed.
    *
    * `maxFiles` bounds one pull: the *bootstrap* gate passes the
    * whole folder (empty log ⇒ everything). The oldest `maxFiles` by
    * (last_modified, name) are taken, so the loop "pull → land →
    * append log → repeat until empty" drains the folder in bounded,
    * watermark-ordered chunks — equal timestamps land in the same
    * chunk (the log gate is a strict `>`; splitting a timestamp
    * across pulls would drop its remainder). That extension makes
    * `maxFiles` a soft bound (bulk copies often share one mtime), so
    * `hardMaxFiles` is the loud ceiling: a pull whose timestamp
    * extension exceeds it throws instead of silently ballooning —
    * raise it deliberately, don't discover it in an incident.
    */
  def fetchNew(spark: SparkSession, source: FileSource,
               processedLog: DataFrame, maxFiles: Int = 1000,
               hardMaxFiles: Int = 10000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val gated = newEntries(spark, source, processedLog)
      .orderBy(col("last_modified"), col("name")).collect()
    val take =
      if (gated.length <= maxFiles) gated.toSeq
      else {
        // extend the cut to the timestamp boundary so the strict->
        // watermark never strands same-timestamp files
        val cutTs = gated(maxFiles - 1).get(1)
        gated.take(maxFiles).toSeq ++
          gated.drop(maxFiles).takeWhile(_.get(1) == cutTs)
      }
    require(take.size <= hardMaxFiles,
      s"FileSync.fetchNew: pull of ${take.size} files exceeds hardMaxFiles=" +
        s"$hardMaxFiles (maxFiles=$maxFiles extended to a same-timestamp " +
        "boundary). Raise hardMaxFiles explicitly if this drop is expected.")
    // normalize the external timestamp type (java8API conf may hand back
    // Instant) to java.sql.Timestamp: the pairs ride an RDD to executors
    // and back through createDataFrame's converters
    val entries = take.map { r =>
      val ts = r.get(1) match {
        case t: java.sql.Timestamp => t
        case i: Instant            => java.sql.Timestamp.from(i)
        case o => throw new IllegalStateException(s"unexpected ts type: $o")
      }
      (r.getString(0), ts)
    }
    // fetch on executors: `source` is the serializable connector seam;
    // slices of the cut list fan out over the default parallelism so a
    // large drop's IO and bytes are distributed, not driver-resident
    val slices = math.max(1, math.min(entries.size,
      spark.sparkContext.defaultParallelism))
    val fetched = spark.sparkContext.parallelize(entries, slices)
      .mapPartitions { it =>
        it.map { case (name, ts) => Row(name, ts, source.fetch(name)) }
      }
    val df = spark.createDataFrame(fetched, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("last_modified", TimestampType, nullable = false),
      StructField("content", BinaryType, nullable = false))))
    // persist + materialize NOW: the loop "pull → land → append log"
    // runs at least two actions over this frame, and an unpersisted
    // RDD-backed frame would re-run source.fetch for every file on
    // each of them — doubling remote IO per cycle and, worse, letting
    // a file deleted/modified remotely between the actions make the
    // log append throw or record different bytes than what landed.
    // Executor-local blocks pin the bytes from exactly one fetch pass
    // (caller releases them with `pulled.unpersist()` after the log
    // append; disk-backed so a large drop spills rather than OOMs).
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** The log rows a completed pull appends — next run's watermark. */
  def logEntries(pulled: DataFrame): DataFrame =
    pulled.select(col("name"), col("last_modified"))
}
