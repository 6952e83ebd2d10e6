package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One mechanism per job, checked over the sources: knobs are read by
  * the kit alone, the job-group meter is the only Spark listener, every
  * session is built on graft's profile, and every per-run stamp is bound
  * as a run constant. Comment lines are skipped, so a doc comment may
  * name what the code may not do. */
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
}
