package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The engine has two entry points, `graft.Bench` and `graft.Verify`. A
  * new measurement goes into `BenchPhases` (a counter, a `timed` phase
  * or a `drainTimed` statistic) and a new scale check into a spec, not
  * into another `main` that compiles into the engine and nobody runs.
  */
class EntryPointsSpec extends AnyFunSuite {

  test("only Bench.scala and Verify.scala under src/main/scala declare a main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"must run from the repo root (missing $root)")
    val sources = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    }
    assert(sources.size > 50, s"unexpectedly few sources: ${sources.size}")
    val entry = """def\s+main\s*\(|extends\s+App\b""".r
    val mains = sources.filter(p => entry.findFirstIn(Files.readString(p)).isDefined)
      .map((p: Path) => root.relativize(p).toString).sorted
    assert(mains == Vector("graft/Bench.scala", "graft/Verify.scala"), mains)
  }
}
