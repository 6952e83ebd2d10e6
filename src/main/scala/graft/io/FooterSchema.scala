package graft.io

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Schema-pinned reads of a flat parquet directory, without Spark's
  * schema-inference job.
  *
  * `spark.read.parquet(dir)` infers the schema with a Spark job that
  * opens one data file's footer on an executor. Every Spark parquet
  * write records the written schema in each footer under
  * [[RowMetadataKey]], and that inference returns the recorded value
  * unchanged. So on the driver one footer read gives the same schema,
  * and `spark.read.schema(s).parquet(dir)` skips the job. For a
  * daily-drop-sized table that job is a visible share of the day.
  * Where only the schema is needed, [[schema]] gives it without
  * building the frame at all.
  *
  * A footer without that metadata (a non-Spark writer's, such as
  * those of the tables [[Tables]] reads) is converted on the driver
  * with Spark's own parquet-to-Spark schema converter, under the
  * session's parquet flags, which is what inference does with it.
  *
  * The pin applies only where it provably equals inference: a flat
  * directory or a single file (no visible subdirectory, so no
  * partition columns) and no `_metadata`/`_common_metadata` summary
  * file (inference prefers those). A partitioned layout falls back to
  * plain inference. */
object FooterSchema {

  /** Spark's footer key for the written row schema (its
    * `ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def hidden(name: String) =
    name.startsWith("_") || name.startsWith(".")

  /** The data files of a directory listing, in the order Spark's
    * inference visits them (by path): non-empty regular files whose
    * names Spark's file index does not hide. graft's one rule for
    * which files of a store are data. */
  private[graft] def dataFiles(listing: Seq[FileStatus]): Seq[FileStatus] =
    listing.filter(s => s.isFile && s.getLen > 0 &&
      !hidden(s.getPath.getName)).sortBy(_.getPath.toString)

  /** [[dataFiles]] of `root` and of every unhidden directory under it
    * (a partitioned layout's `p=v`), by path. Plain `listStatus`: a
    * recursive `listFiles` fetches block locations per file (~4 ms a
    * file on the local filesystem) where only names are needed. */
  private[graft] def dataFilesUnder(fs: FileSystem,
                                    root: Path): Seq[FileStatus] = {
    val listing = fs.listStatus(root).toSeq
    (dataFiles(listing) ++ listing.filter(s => s.isDirectory &&
      !hidden(s.getPath.getName)).flatMap(d => dataFilesUnder(fs, d.getPath)))
      .sortBy(_.getPath.toString)
  }

  private def footer(conf: Configuration, file: FileStatus): FileMetaData = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try reader.getFooter.getFileMetaData
    finally reader.close()
  }

  private def recordedIn(meta: FileMetaData): Option[StructType] =
    Option(meta.getKeyValueMetaData.get(RowMetadataKey))
      .flatMap(js => Try(DataType.fromJson(js)).toOption)
      .collect { case s: StructType => s }

  /** The session's parquet flags that Spark's inference converts a
    * footer under, as a value an executor can convert under too. */
  private[graft] final case class Flags(binaryAsString: Boolean,
    int96AsTimestamp: Boolean, inferTimestampNTZ: Boolean,
    nanosAsLong: Boolean, respectUnknownType: Boolean)

  private[graft] def flags(spark: SparkSession): Flags = {
    val sql = spark.sessionState.conf
    Flags(sql.isParquetBinaryAsString, sql.isParquetINT96AsTimestamp,
      sql.parquetInferTimestampNTZEnabled, sql.legacyParquetNanosAsLong,
      sql.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** A footer's Spark schema as inference reads it: the recorded row
    * schema, or else its parquet schema converted under `f`. */
  private[graft] def sparkSchema(meta: FileMetaData, f: Flags): StructType =
    recordedIn(meta).getOrElse(new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = f.binaryAsString,
      assumeInt96IsTimestamp = f.int96AsTimestamp,
      inferTimestampNTZ = f.inferTimestampNTZ,
      nanosAsLong = f.nanosAsLong,
      respectUnknownTypeAnnotation = f.respectUnknownType)
      .convert(meta.getSchema))

  /** The Spark schema recorded in `file`'s footer; None when the
    * footer has no (parseable) Spark row metadata. */
  private[graft] def recorded(conf: Configuration,
                              file: FileStatus): Option[StructType] =
    recordedIn(footer(conf, file))

  /** The schema inference would read from `dir`'s first data file
    * when the pin applies (see the object doc): the footer's recorded
    * schema, as written, or else its parquet schema converted with the
    * flags Spark's parquet inference takes from the session. None
    * where inference must run. */
  private def pinned(spark: SparkSession,
                     listing: Seq[FileStatus]): Option[StructType] = {
    val flat = !listing.exists { s =>
      val n = s.getPath.getName
      (s.isDirectory && !hidden(n)) ||
        n.startsWith("_metadata") || n.startsWith("_common_metadata")
    }
    if (!flat) None
    else dataFiles(listing).headOption.map(file => sparkSchema(
      footer(spark.sparkContext.hadoopConfiguration, file), flags(spark)))
  }

  /** The schema of [[read]]`(spark, dir, listing)` without building
    * the frame: the pinned footer schema, made nullable throughout
    * as a file source reads it, or Spark's inference where [[read]]
    * falls back to it. Building the frame costs a file-index listing
    * and an analysis, tens of milliseconds for a schema check. */
  def schema(spark: SparkSession, dir: String,
             listing: Seq[FileStatus]): StructType =
    pinned(spark, listing).fold(spark.read.parquet(dir).schema)(
      nullable(_).asInstanceOf[StructType])

  /** [[schema]], listing `dir` itself. */
  def schema(spark: SparkSession, dir: String): StructType =
    schema(spark, dir, list(spark, dir))

  /** `dir` read with its schema pinned from one footer, given the
    * directory's `listing` (callers that already listed it pass that
    * listing, so the directory is listed once). Falls back to
    * `spark.read.parquet(dir)` where the pin would not equal
    * inference (see the object doc). */
  def read(spark: SparkSession, dir: String,
           listing: Seq[FileStatus]): DataFrame =
    pinned(spark, listing).fold(spark.read)(s => spark.read.schema(s))
      .parquet(dir)

  /** [[read]], listing `dir` itself. */
  def read(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, list(spark, dir))

  private def list(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq
  }

  /** `t` with every field, element and value nullable — the form a
    * file source gives a stored schema, so comparing two schemas
    * through it ignores nullability. */
  private[graft] def nullable(t: DataType): DataType = t match {
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }
}
