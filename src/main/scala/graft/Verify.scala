package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.fromEnv()
    dump(spark, sfDir, outDir)
    spark.stop()
  }

  /** Write each named gate's result to `outDir/<name>` and the oracle SQL
    * of every gate to `outDir/oracle_sql.json`. A gate that fails is logged
    * and skipped; the dump goes on.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Iterable[String] = SparkEntry.queries.keys): Unit = {
    // gate setup (same as Bench's warmup): collect the gate query vectors
    // once so the 16 ANN gates don't re-collect per construction. Without
    // them (no embeddings.parquet) only the ANN gates can fail.
    try SparkEntry.prepareGateVectors(spark, sfDir)
    catch { case NonFatal(e) =>
      System.err.println(s"[verify] gate setup failed: ${e.getMessage}")
    }
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
