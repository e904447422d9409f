package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.exprs.Builders.MergeOp
import graft.sqlx.{DCmp, DCol, DConst}
import graft.tools.Offline

class OfflineSpec extends AnyFunSuite with TestSession {

  private val T0 = 1700000000000L
  private val sch = StructType(Seq(
    StructField("_time", TimestampType), StructField("k", StringType),
    StructField("__a0", DoubleType)))
  private def store(rows: (Long, String, Double)*) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (t, k, v) =>
      Row(new java.sql.Timestamp(t), k, Double.box(v))
    }, 2), sch)

  test("info and check report a real store; check catches a corrupted file") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-offline").toString
    // include a PERCENTILE field: its accumulator is a BINARY sketch column,
    // so check's full-decode hash must handle non-numeric storage too
    val yaml =
      """t:
        |  partitionby: [k]
        |  sql: >
        |    SELECT v, PERCENTILE(v, 50, 0, 100, 3) AS p50 FROM s GROUP BY k, period(1s)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val inSch = StructType(Seq(StructField("ts", TimestampType),
      StructField("k", StringType), StructField("v", DoubleType)))
    db.insert("s", spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Timestamp(T0), "a", Double.box(2.0)),
      Row(new java.sql.Timestamp(T0 + 100), "a", Double.box(3.0)),
      Row(new java.sql.Timestamp(T0 + 86400000L), "b", Double.box(5.0))), 2), inSch))

    val i = Offline.info(s"$dir/t")
    assert(i("days") == 2 && i("generations") == 1, i.toString)
    assert(i("buckets").asInstanceOf[Int] > 0, i.toString)
    assert(i("schema_fields").asInstanceOf[Seq[String]].contains("k"), i.toString)
    assert(i("files").asInstanceOf[Long] > 0 && i("bytes").asInstanceOf[Long] > 0)

    // (a,T0) and (a,T0+100ms) share one 1s bucket -> 2 stored rows
    assert(Offline.check(spark, s"$dir/t") == 2L)

    // truncate one parquet file mid-body: check must now throw, not pass on
    // footer metadata alone
    val st = Files.walk(Paths.get(dir, "t", "commits"))
    val victim = try {
      val it = st.iterator()
      var found: java.nio.file.Path = null
      while (it.hasNext && found == null) {
        val p = it.next()
        if (p.toString.endsWith(".parquet") && Files.size(p) > 64) found = p
      }
      found
    } finally st.close()
    assert(victim != null)
    val bytes = Files.readAllBytes(victim)
    // corrupt data pages but keep length/footer plausible: zero the body
    java.util.Arrays.fill(bytes, 16, bytes.length - 16, 0.toByte)
    Files.write(victim, bytes)
    intercept[Exception] { Offline.check(spark, s"$dir/t") }
  }

  test("filter by time range and dim predicate") {
    val s = store((T0, "a", 1), (T0 + 1000, "a", 2), (T0 + 2000, "b", 3))
    val f = Offline.filterStore(s, fromMillis = Some(T0 + 500),
      where = Some(DCmp("=", DCol("k"), DConst("a"))))
    val got = f.collect()
    assert(got.length == 1 && got(0).getDouble(2) == 2.0)
  }

  test("merge stores re-merges accumulators") {
    val a = store((T0, "a", 1), (T0, "b", 5))
    val b = store((T0, "a", 10), (T0 + 1000, "a", 7))
    val m = Offline.mergeStores(Seq(a, b), Seq("__a0" -> MergeOp.Sum))
      .orderBy("k", "_time").collect()
    assert(m.length == 3)
    assert(m(0).getDouble(2) == 11.0) // (T0, a): 1 + 10
    assert(m(1).getDouble(2) == 7.0)
    assert(m(2).getDouble(2) == 5.0)
  }

  test("sorted rewrite keeps data, orders within partitions") {
    val s = store((T0 + 2000, "b", 3), (T0, "a", 1), (T0 + 1000, "a", 2))
    val sorted = Offline.sortStore(s, Seq("k"))
    assert(sorted.count() == 3)
  }
}
