package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import scala.util.control.NonFatal

/** Plan-inspection util: prints the formatted physical plan of gate queries
  * — the loop for checking PushedFilters/ReadSchema, broadcast choices, and
  * WholeStageCodegen spans before shipping a query.
  *
  *   runMain graft.Explain <sfDir> [--out <dir>] [query...]
  *
  * No query names every gate. Plans go to stdout, or with `--out` to one
  * `<dir>/<query>.txt` per query — the plans/rNN/ evidence optimization
  * rounds commit. All plans come from one session.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <sfDir> [--out <dir>] [query...]")
    val sfDir = args(0)
    var outDir: Option[String] = None
    val named = Seq.newBuilder[String]
    val it = args.iterator.drop(1)
    while (it.hasNext) it.next() match {
      case "--out" => outDir = Some(it.next())
      case n => named += n
    }
    val names = named.result() match {
      case Seq() => SparkEntry.queries.keys.toSeq.sorted
      case ns => ns
    }
    val spark = Sessions.fromEnv()
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { n =>
      try {
        val plan = SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        outDir match {
          case Some(d) =>
            Files.writeString(Paths.get(d, s"$n.txt"), plan)
            println(s"[explain] $n ok")
          case None =>
            if (names.size > 1) println(s"== $n ==")
            println(plan)
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[explain] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
