package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Instr` is the bench harness's sample list. Engine code reports
  * events through `graft.ext.MaintenanceEvents` and names its stages
  * with job descriptions (`graft.Jobs.tagged`), so no engine source may
  * mention `Instr.`.
  */
class EngineBoundarySpec extends AnyFunSuite {

  private val engineDirs =
    Seq("api", "ext", "operators", "sources", "streaming", "functions")

  test("no engine source mentions Instr.") {
    val sources = engineDirs.flatMap { d =>
      val root = Paths.get("src/main/scala/graft", d)
      assert(Files.isDirectory(root), s"$root is missing")
      Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }
    assert(sources.nonEmpty)
    val hits = sources.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("Instr.") => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("engine code mentions Instr.:\n", "\n", ""))
  }
}
