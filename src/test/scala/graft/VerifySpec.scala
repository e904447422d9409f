package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump survives a fixture that lacks a table: the gates
  * that need it fail alone, the rest are written.
  */
class VerifySpec extends AnyFunSuite with TestSession {

  test("a fixture without embeddings.parquet fails only the ANN gates") {
    val sf = Paths.get("/root/testdata/sf0.001")
    val fixture = Files.createTempDirectory("verify-noemb")
    val tables = Files.list(sf)
    try tables.forEach { t =>
      if (t.getFileName.toString != "embeddings.parquet")
        Files.createSymbolicLink(fixture.resolve(t.getFileName), t)
    } finally tables.close()
    val out = Files.createTempDirectory("verify-out")
    Verify.dump(spark, fixture.toString, out.toString,
      Seq("q_sum_group", "q_ann_ivf"))
    def written(q: String) = Option(out.resolve(q).toFile.list())
      .exists(_.exists(_.endsWith(".parquet")))
    assert(written("q_sum_group"))
    assert(!written("q_ann_ivf"))
    assert(Files.readString(out.resolve("oracle_sql.json"))
      .contains("\"q_ann_ivf\""))
    assert(!spark.sparkContext.isStopped)
  }
}
