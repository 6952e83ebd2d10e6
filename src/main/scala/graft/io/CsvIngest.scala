package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema'd CSV ingest with the reference's cleansing behaviors.
  *
  * The reference declares an explicit 14-column schema and casts/drops
  * rows with null keys (code/ukg_dept_bus_strctr.py:46-63, 36-39), and
  * separately rewrites raw census files on the driver before parsing
  * (code/ukg_open_census_file_cleanser.py:62, 86-88: bare-newline
  * repair, quote/comma strip, header drop). Both paths are distributed
  * here:
  *  - `read` — the straight schema'd reader (no driver round-trip;
  *    encoding such as cp1252/windows-1252 is a reader option, the
  *    JVM-charset analog of the reference's decode fallback);
  *  - `readCleansed` — the file-cleanser path: lines are read as
  *    text, repaired with the same `Cleanser` column expressions the
  *    reference applies in Python, then parsed with `from_csv`, so a
  *    100 TB drop of dirty CSVs never touches the driver.
  */
object CsvIngest {

  /** `encoding` is the JVM-charset analog of the reference's
    * utf-8→cp1252 decode fallback; Spark 4 allows iso-8859-1 (the
    * cp1252 superset-for-printables) out of the box and the full
    * windows-1252 set behind `spark.sql.legacy.javaCharsets=true`.
    * `encoding = "auto"` (r7, `readCleansed` only) runs
    * [[Cleanser.decodeAuto]]'s BOM-sniff → UTF-8-validate → fallback
    * ladder per file, so one mixed drop of UTF-8/UTF-16/cp1252 files
    * ingests to identical rows without per-file configuration. */
  /** `repairBareNewlines` applies the reference's `(?<!\r)\n → " "`
    * record repair before splitting — only valid for CRLF-terminated
    * files (on plain-LF files it would fuse every record), hence
    * opt-in. */
  final case class Options(header: Boolean = true,
                           encoding: String = "UTF-8",
                           delimiter: String = ",",
                           keyCols: Seq[String] = Nil,
                           repairBareNewlines: Boolean = false)

  /** Schema'd CSV reader: explicit schema (never inferSchema — an
    * extra full scan at scale), PERMISSIVE parse, null-key drop. */
  def read(spark: SparkSession, path: String, schema: StructType,
           opts: Options = Options()): DataFrame = {
    val df = spark.read
      .schema(schema)
      .option("header", opts.header.toString)
      .option("encoding", opts.encoding)
      .option("sep", opts.delimiter)
      .option("mode", "PERMISSIVE")
      .csv(path)
    if (opts.keyCols.isEmpty) df else df.na.drop(opts.keyCols)
  }

  /** The file-cleanser path, mirroring the reference's full ladder
    * (ukg_open_census_file_cleanser.py:62, 81-93: decode with charset
    * fallback, repair bare `\n` not preceded by `\r`, quote-aware csv
    * parse, strip quotes/commas *inside* each field, drop the header
    * row) — but distributed: files load as binary, packed to the
    * bytes-per-task floor ([[Tables.tasksFor]] over the drop's listed
    * bytes; a file is never split, so a drop of a few small files is
    * one task and one written file), decode with `opts.encoding`, get
    * the bare-newline repair
    * *before* record splitting (a line-based reader would have
    * already split on the broken newlines — the repair must see the
    * whole file), then split on CRLF/LF, parse with `from_csv`, and
    * cleanse per field.
    */
  def readCleansed(spark: SparkSession, path: String, schema: StructType,
                   opts: Options = Options()): DataFrame = {
    val headerLine = schema.fieldNames.mkString(opts.delimiter)
    val dec =
      if (opts.encoding.equalsIgnoreCase("auto"))
        Cleanser.decodeAuto(col("content"))
      else decode(col("content"), opts.encoding)
    val files = spark.read.format("binaryFile").load(path)
    // coalescing never widens: a drop past the floor keeps its scan's
    // one task per file
    val raw = files.queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.sizeInBytes }
      .fold(files)(bytes => files.coalesce(Tables.tasksFor(bytes)))
      .select(dec.as("__raw"))
    val repaired = if (opts.repairBareNewlines)
      raw.select(Cleanser.repairBareNewlines(col("__raw")).as("__raw"))
    else raw
    val records = repaired
      .select(explode(split(col("__raw"), "\r\n|\n")).as("value"))
      .where(length(trim(col("value"))) > 0)
    // header drop tolerates quoted headers and case differences; a
    // data row that literally equals the header line is
    // indistinguishable from one and is dropped too (documented)
    val parsed = (if (opts.header)
        records.where(lower(regexp_replace(col("value"), "\"", "")) =!=
          headerLine.toLowerCase)
      else records)
      .select(from_csv(col("value"), schema,
        Map("sep" -> opts.delimiter, "quote" -> "\"")).as("r"))
      .select(schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          Cleanser.stripQuotesCommas(col(s"r.${f.name}")).as(f.name)
        else col(s"r.${f.name}")
      }: _*)
    if (opts.keyCols.isEmpty) parsed else parsed.na.drop(opts.keyCols)
  }
}
