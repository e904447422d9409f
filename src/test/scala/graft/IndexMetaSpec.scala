package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the single index-meta path: no main source but
  * [[pipeline.IndexMeta]] names a meta file or its trailer, commits a file
  * by atomic move under `pipeline/`, or sizes an admit's broadcast from
  * optimizer statistics.
  */
class IndexMetaSpec extends AnyFunSuite {

  test("only IndexMeta names, moves or sizes index metas") {
    val root = Paths.get("src/main/scala")
    val owner = Paths.get("graft/pipeline/IndexMeta.scala")
    // (needle, whether it is banned in a file at this relative path)
    val rules: Seq[(String, Path => Boolean)] =
      Seq("_index.txt", "_centroids.txt", "_pq.txt", "appends=",
        "optimizedPlan.stats").map(n => (n, (_: Path) => true)) :+
        ("ATOMIC_MOVE", (p: Path) => p.startsWith(Paths.get("graft/pipeline")))
    val walk = Files.walk(root)
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(p => root.relativize(p) == owner))
    val hits = for {
      p <- sources.sortBy(_.toString)
      rel = root.relativize(p)
      if rel != owner
      // comments name the files too; blanking them keeps line numbers
      code = """(?s)/\*.*?\*/""".r
        .replaceAllIn(Files.readString(p), _.matched.filter(_ == '\n'))
        .replaceAll("""//[^\n]*""", "")
      (needle, banned) <- rules
      if banned(rel)
      (line, i) <- code.split("\n", -1).zipWithIndex
      if line.contains(needle)
    } yield s"$rel:${i + 1}: $needle"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
