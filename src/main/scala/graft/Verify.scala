package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val all = SparkEntry.queries
    // optional dev filter: SPARK_GRAFT_ONLY=q_a,q_b dumps just those
    // queries (full runs stay the default)
    val only = Harness.names("SPARK_GRAFT_ONLY", all.keys.toSeq, all.contains).toSet
    val selected = all.view.filterKeys(only).toMap
    // 32 cores unless set, as Bench
    val spark = Harness.session(cpus = Harness.cpus(32))
    new java.io.File(outDir).mkdirs()
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete()
    }
    selected.foreach { case (name, fn) =>
      // pre-delete: a query that throws before its write must not
      // leave a stale previous-run dir for the gate to validate
      deleteRec(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist intermediates (census slice, IVF centroids,
      // pipeline stage) and checkpoint blocks; keep runs independent
      Harness.sweep(spark)
    }
    // manifest of every declared query, so the gate can flag a
    // rows-only query whose output is missing (no oracle ⇒ no other
    // record of its existence)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted
        .mkString("[\"", "\", \"", "\"]"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
