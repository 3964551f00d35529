package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level rules that keep the engine to one session factory and
  * to validated settings: a new SparkSession builder or a new env read
  * in `src/main` fails here instead of growing back unnoticed. */
class SourceRulesSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path under src/main/scala, line) for every non-comment line. */
  private lazy val codeLines: Seq[(String, String)] =
    Files.walk(root).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .sortBy(_.toString)
      .flatMap { (p: Path) =>
        val rel = root.relativize(p).toString
        Files.readAllLines(p).asScala.toSeq
          .filterNot(l => Seq("//", "/*", "*").exists(l.trim.startsWith))
          .map(rel -> _)
      }

  test("SparkSession.builder is called only in Graft.scala") {
    assert(codeLines.nonEmpty)
    val hits = codeLines.collect {
      case (f, l) if l.contains("SparkSession.builder") && f != "graft/Graft.scala" =>
        s"$f: ${l.trim}"
    }
    assert(hits.isEmpty, hits.mkString("builders outside Graft.session:\n", "\n", ""))
  }

  test("env variables are read only by the allowlisted settings") {
    val allowed = Map(
      "graft/Graft.scala" -> Set("SPARK_GRAFT_CPUS"),
      "graft/operators/Dedup.scala" -> Set("SPARK_GRAFT_RECALL_MOD"),
      // harness-only switches of the benchmark and rehearsal mains
      "graft/Bench.scala" -> Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CALM_REF",
        "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_ALL",
        "SPARK_GRAFT_DUMP_PLAN", "SPARK_GRAFT_NO_FLOOR_GATE",
        "SPARK_GRAFT_NO_CALM_CHECK"),
      "graft/tools/ScaleRehearsal.scala" -> Set("SPARK_GRAFT_REHEARSAL_MODE",
        "SPARK_GRAFT_REHEARSAL_ONLY"))
    val read = "(?:sys\\.env|System\\.getenv)\\b(?:[^\"]*\"([A-Za-z0-9_]+)\")?".r
    val hits = codeLines.flatMap { case (f, l) =>
      read.findAllMatchIn(l).map(m => Option(m.group(1)))
        .filterNot(v => v.exists(allowed.getOrElse(f, Set.empty)))
        .map(v => s"$f: ${v.getOrElse("(unnamed)")}: ${l.trim}")
    }
    assert(hits.isEmpty, hits.mkString("env reads outside the allowlist:\n", "\n", ""))
  }
}
