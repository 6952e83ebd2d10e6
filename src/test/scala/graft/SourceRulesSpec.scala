package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One mechanism per job, checked over the sources: knobs are read by
  * the kit alone, the job-group meter is the only Spark listener, every
  * session is built on graft's profile, every per-run stamp is bound
  * as a run constant, every pruned read is the one skipping read, every
  * store write is the one store writer, data-skipping stats take one
  * path, a partition overwrite sets its mode on its own write, and task
  * widths come from one bytes-per-task rule. Comment lines are skipped,
  * so a doc comment may name what the code may not do. */
class SourceRulesSpec extends AnyFunSuite {

  /** (path from the repo root, code lines) of every Scala file under `dir`. */
  private def sources(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: no $dir")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.map { p: Path =>
      val code = Files.readAllLines(p).asScala.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
      }
      p.toString -> code.mkString("\n")
    }.sortBy(_._1)
  }

  private def matching(dir: String, pattern: String): Seq[String] =
    sources(dir).filter(f => pattern.r.findFirstIn(f._2).isDefined).map(_._1)

  test("only the kit reads the process environment") {
    assert(matching("src/main", """\bsys\.env\b""") ==
      Seq("src/main/scala/graft/Harness.scala"))
  }

  test("the one Spark listener is graft.obs's meter") {
    val listener = """(?:extends|with|new)\s+(?:[\w.]+\.)?SparkListener\b"""
    val defs = sources("src").flatMap { case (f, code) =>
      listener.r.findAllIn(code).map(_ => f) }
    assert(defs == Seq("src/main/scala/graft/obs/Meter.scala"))
  }

  test("every session is built on Session.profile") {
    val builder = """SparkSession\s*\.\s*builder\b"""
    val profiled = """Session\.profile\(\s*""" + builder
    val offProfile = sources("src").filter { case (_, code) =>
      builder.r.findAllIn(code).size != profiled.r.findAllIn(code).size
    }.map(_._1)
    assert(offProfile.isEmpty)
    // the rule is not vacuous: the kit and the test session build one
    assert(matching("src", profiled).toSet == Set(
      "src/main/scala/graft/Harness.scala",
      "src/test/scala/graft/SparkSessionTestBase.scala"))
  }

  test("every per-run stamp goes through the run-constant binder") {
    // a stamp the optimizer folds into a fresh literal per query, which
    // codegen would write into the class source: a new class every run
    val stamp = """(?i)(?:\bcurrent_(?:timestamp|date)|(?<![\w.])now)\s*\("""
    val bound = """\bRunConstant\(\s*(?:[\w.]+\.)?""" + stamp
    val unbound = sources("src/main").filter { case (_, code) =>
      stamp.r.findAllIn(code).size != bound.r.findAllIn(code).size
    }.map(_._1)
    assert(unbound.isEmpty)
    // the rule is not vacuous: the audit columns bind their stamps
    assert(matching("src/main", bound) ==
      Seq("src/main/scala/graft/etl/Audit.scala"))
  }

  test("serving stores live under the one per-process root") {
    // no store outlives its process, and none is keyed by a scan of its data
    assert(matching("src/main", "/tmp/graft_serving_idx").isEmpty)
    val entry = sources("src/main")
      .collectFirst { case (f, code) if f.endsWith("/SparkEntry.scala") => code }
      .getOrElse(fail("no SparkEntry.scala"))
    assert(!entry.contains("bit_xor(xxhash64("))
    // the rule is not vacuous: every store kind takes its path from the
    // helper
    val kinds = """(?:servingStore|storePath)\(\s*"(\w+)"""".r
      .findAllMatchIn(entry).map(_.group(1)).toSet
    assert(kinds == Set("merge1", "mergep", "skip", "skipv", "skipz", "skipp",
      "skipd", "skipdp", "bfr", "cms1", "opq1", "res1"))
  }

  test("one skipping read") {
    // every pruned read is graft.io.SkipDataSource's scan: no V1
    // relation built by hand, no second index or prune call
    val banned = Seq("HadoopFsRelation(", "baseRelationToDataFrame",
      "SkippingFileIndex", "prunedRead(", "skipFiles(")
    banned.foreach(b => assert(
      matching("src/main", java.util.regex.Pattern.quote(b)).isEmpty, b))
    // the rule is not vacuous: the store reads go through the source
    val readers = Seq("etl/Backfill.scala", "etl/Snapshot.scala",
      "etl/VersionStore.scala").map("src/main/scala/graft/" + _)
    val viaSource = matching("src/main", "\"graft\\.io\\.SkipDataSource\"")
    readers.foreach(f => assert(viaSource.contains(f), f))
  }

  /** The code of the `def name` in `code`: up to the next line indented
    * no deeper than the def (its closing brace, or the next member). */
  private def body(code: String, name: String): String = {
    val at = code.indexOf(s"def $name(")
    assert(at >= 0, s"no def $name")
    val line = code.lastIndexOf('\n', at) + 1
    val indent = code.substring(line, at).takeWhile(_ == ' ').length
    val rest = code.substring(at)
    rest.take(s"\\n {0,$indent}\\S".r.findFirstMatchIn(rest)
      .fold(rest.length)(_.start))
  }

  private def code(file: String): String =
    sources("src/main").collectFirst { case (f, c) if f.endsWith(file) => c }
      .getOrElse(fail(s"no $file"))

  test("one store writer") {
    // a DataFrame writer (`.write` followed by a call) in the store
    // code appears only in the helper, which names the no-fork local
    // filesystem. Bucketing's catalog table is the one exception: a
    // saveAsTable keeps writer options as table properties
    val writer = """(?m)\.write(?:\s*\.|\s*$)"""
    val writers = Seq("src/main/scala/graft/etl", "src/main/scala/graft/io")
      .flatMap(matching(_, writer))
    assert(writers == Seq("src/main/scala/graft/io/Bucketing.scala",
      "src/main/scala/graft/io/StoreWriter.scala"))
    val helper = body(code("/io/StoreWriter.scala"), "apply")
    assert(helper.contains("classOf[NoForkLocalFileSystem]") &&
      helper.contains("\"fs.file.impl\"") &&
      helper.contains("\"fs.file.impl.disable.cache\""))
    // the rule is not vacuous: every store writes through the helper
    val stores = Seq("etl/VersionStore.scala", "etl/Compaction.scala",
      "io/DataSkipping.scala", "io/PqIndexStore.scala", "io/SketchStore.scala",
      "io/PartitionedStore.scala").map("src/main/scala/graft/" + _)
    val viaHelper = matching("src/main", """\bStoreWriter\(""")
    stores.foreach(f => assert(viaHelper.contains(f), f))
  }

  test("one stats path") {
    // one stats commit, no schema-merging read, one z-order layout, one
    // rule for which files are data
    val skipping = code("/io/DataSkipping.scala")
    assert("""\bcommitSwap\(""".r.findAllIn(skipping).size == 1)
    assert(matching("src/main", "mergeSchema").isEmpty)
    assert(matching("src/main", "\"__z\"") ==
      Seq("src/main/scala/graft/io/DataSkipping.scala"))
    assert(matching("src/main", """startsWith\("_"\)""") ==
      Seq("src/main/scala/graft/io/FooterSchema.scala"))
    // the rule is not vacuous: the stats pass reads each footer's
    // schema, and every data-file count names the rule
    assert(skipping.contains("FooterSchema.sparkSchema("))
    Seq("io/Tables.scala", "io/PartitionedStore.scala", "io/Bucketing.scala",
      "io/SkipDataSource.scala").foreach(f =>
      assert(code(s"/$f").contains("FooterSchema.dataFiles("), f))
  }

  test("no session-level overwrite mode") {
    val setMode = java.util.regex.Pattern.quote(
      "spark.conf.set(\"spark.sql.sources.partitionOverwriteMode\"")
    assert(matching("src/main", setMode).isEmpty)
    // the rule is not vacuous: the mode rides one write's options, and
    // both partition rewrites go through it
    assert(body(code("/io/PartitionedStore.scala"), "overwritePartitions")
      .contains(""".option("partitionOverwriteMode", "dynamic")"""))
    Seq("/io/PartitionedStore.scala", "/etl/Merge.scala").foreach(f =>
      assert("""\boverwritePartitions\(""".r.findAllIn(code(f)).nonEmpty, f))
  }

  test("one width rule") {
    // the bytes-per-task floor is divided in one function, which the
    // widening and the narrowing read both call
    val tables = code("/io/Tables.scala")
    assert(matching("src/main", """\bwideTaskBytes\b""") ==
      Seq("src/main/scala/graft/io/Tables.scala"))
    assert(body(tables, "tasksFor").contains("wideTaskBytes"))
    assert("""\bwideTaskBytes\b""".r.findAllIn(tables).size == 2)
    // the rule is not vacuous: both callers name it
    Seq(body(tables, "parallelized"),
      body(code("/io/CsvIngest.scala"), "readCleansed")).foreach(b =>
      assert(b.contains("Tables.tasksFor("), b.take(60)))
  }
}
