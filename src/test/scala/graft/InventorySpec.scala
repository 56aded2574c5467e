package graft

import scala.jdk.CollectionConverters._

/** The entry points and environment knobs of `src/main/scala`, pinned
  * as sets so neither grows back unnoticed. A change that adds a knob
  * or a `main` edits the list here and says why in CHANGES.md. */
class InventorySpec extends org.scalatest.funsuite.AnyFunSuite {

  private lazy val sources: Seq[String] = {
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at $root")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).toList
    finally walk.close()
  }

  test("the environment names read are exactly the four deployment settings") {
    val read = """sys\.env(?:\.\w+)?\(\s*"(\w+)"""".r
    val names = sources.flatMap(s => read.findAllMatchIn(s).map(_.group(1))).toSet
    assert(names == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_MASTER"))
  }

  test("the objects that define a main are exactly the six entry points") {
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """\bobject\s+(\w+)""".r
    val main = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    // a main belongs to the nearest object declared before it
    val mains = sources.flatMap { s =>
      val p = pkg.findFirstMatchIn(s).map(_.group(1) + ".").getOrElse("")
      val objs = obj.findAllMatchIn(s).map(m => m.start -> m.group(1)).toSeq
      main.findAllMatchIn(s).map { m =>
        p + objs.takeWhile(_._1 < m.start).lastOption.map(_._2).getOrElse("?")
      }
    }
    assert(mains.sorted == Seq("graft.Bench", "graft.Main", "graft.Verify",
      "graft.tools.GenSf1", "graft.tools.GenVecs", "graft.tools.PlanReport"))
  }
}
