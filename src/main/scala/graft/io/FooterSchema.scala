package graft.io

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * The pin applies only where it provably equals inference: a flat
  * directory (no visible subdirectory, so no partition columns), no
  * `_metadata`/`_common_metadata` summary file (inference prefers
  * those), and a first data file whose footer carries Spark's row
  * metadata. Anything else — a non-Spark writer's footer, a
  * partitioned layout — falls back to plain inference. */
object FooterSchema {

  /** Spark's footer key for the written row schema (its
    * `ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def hidden(name: String) =
    name.startsWith("_") || name.startsWith(".")

  /** The data files of a directory listing, in the order Spark's
    * inference visits them (by path): non-empty regular files whose
    * names Spark's file index does not hide. */
  private[graft] def dataFiles(listing: Seq[FileStatus]): Seq[FileStatus] =
    listing.filter(s => s.isFile && s.getLen > 0 &&
      !hidden(s.getPath.getName)).sortBy(_.getPath.toString)

  /** The Spark schema recorded in `file`'s footer; None when the
    * footer has no (parseable) Spark row metadata. */
  private[graft] def recorded(conf: org.apache.hadoop.conf.Configuration,
                              file: FileStatus): Option[StructType] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(RowMetadataKey))
      .flatMap(js => Try(DataType.fromJson(js)).toOption)
      .collect { case s: StructType => s }
    finally reader.close()
  }

  /** The footer-recorded schema of `dir` when the pin applies (see
    * the object doc), as written; None where inference must run. */
  private def pinned(spark: SparkSession,
                     listing: Seq[FileStatus]): Option[StructType] = {
    val flat = !listing.exists { s =>
      val n = s.getPath.getName
      (s.isDirectory && !hidden(n)) ||
        n.startsWith("_metadata") || n.startsWith("_common_metadata")
    }
    if (!flat) None
    else dataFiles(listing).headOption.flatMap(
      recorded(spark.sparkContext.hadoopConfiguration, _))
  }

  /** The schema of [[read]]`(spark, dir, listing)` without building
    * the frame: the footer's recorded schema, made nullable throughout
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
