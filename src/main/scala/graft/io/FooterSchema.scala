package graft.io

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

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

  /** `dir` read with its schema pinned from one footer, given the
    * directory's `listing` (callers that already listed it pass that
    * listing, so the directory is listed once). Falls back to
    * `spark.read.parquet(dir)` where the pin would not equal
    * inference (see the object doc). */
  def read(spark: SparkSession, dir: String,
           listing: Seq[FileStatus]): DataFrame = {
    val flat = !listing.exists { s =>
      val n = s.getPath.getName
      (s.isDirectory && !hidden(n)) ||
        n.startsWith("_metadata") || n.startsWith("_common_metadata")
    }
    val pinned =
      if (!flat) None
      else dataFiles(listing).headOption.flatMap(
        recorded(spark.sparkContext.hadoopConfiguration, _))
    pinned.fold(spark.read)(s => spark.read.schema(s)).parquet(dir)
  }

  /** [[read]], listing `dir` itself. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    read(spark, dir, fs.listStatus(p).toSeq)
  }
}
