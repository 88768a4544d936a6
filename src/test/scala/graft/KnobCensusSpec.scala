package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The program's environment surface, read from the main sources: every
  * env var a main or operator reads, and no stdout writes from library
  * code (Bench's stdout carries exactly one JSON line).
  */
class KnobCensusSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def sources(dir: Path): Seq[(Path, String)] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("the main sources read exactly the documented env vars") {
    val reads = """(?:sys\.env|System\.getenv)""".r
    val keyed = """(?:sys\.env(?:\.\w+)?|System\.getenv)\(\s*"([^"]+)"""".r
    val all = sources(root)
    val keys = all.flatMap { case (_, src) => keyed.findAllMatchIn(src).map(_.group(1)) }
    val unkeyed = all.filter { case (_, src) =>
      reads.findAllMatchIn(src).size != keyed.findAllMatchIn(src).size
    }.map(_._1)
    assert(unkeyed.isEmpty, s"env reads without a literal key in: ${unkeyed.mkString(", ")}")
    assert(keys.toSet == Set("CPUS", "SF_DIR", "FIT_DIR", "MAX_FILES_PER_TRIGGER",
      "SPREAD", "BENCH_ONLY").map("SPARK_GRAFT_" + _))
  }

  test("every StreamingPipeline def is called from main code") {
    // code only: scaladoc/comment lines and trailing `// ` comments dropped
    def code(src: String): String = src.linesIterator
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("/*") || t.startsWith("//") }
      .map(_.replaceAll("\\s// .*$", "")).mkString("\n")
    val main = sources(root).map { case (_, src) => code(src) }.mkString("\n")
    val pipeline = new String(Files.readAllBytes(
      root.resolve("graft/streaming/StreamingPipeline.scala")), "UTF-8")
    val defs = """(?m)^  (?:private(?:\[\w+\])? )?def (\w+)""".r
      .findAllMatchIn(pipeline).map(_.group(1)).toSeq.distinct
    assert(defs.size > 20, defs)
    // a name named only by its own definition has no caller in main code
    val uncalled = defs.filter(d => s"\\b$d\\b".r.findAllMatchIn(main).size < 2)
    assert(uncalled.isEmpty, s"defs only tests can reach: ${uncalled.mkString(", ")}")
  }

  test("library packages never write to stdout") {
    val writers = Seq("ops", "streaming", "functions", "sources").flatMap { d =>
      sources(root.resolve(s"graft/$d")).collect {
        case (p, src) if src.contains("println") => p
      }
    }
    assert(writers.isEmpty, s"println in library code: ${writers.mkString(", ")}")
  }
}
