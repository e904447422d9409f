package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end materialized-table semantics over the README quickstart fixture
  * (/root/reference/README.md:78-395): tables are continuously-maintained
  * aggregations; queries re-aggregate stored accumulators.
  */
class GraftDBSpec extends AnyFunSuite with TestSession {

  private val EPS = 1e-5

  private val T0 = 1700000000000L // bucket-aligned (multiple of 5m)

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("server", StringType),
    StructField("path", StringType),
    StructField("status", IntegerType),
    StructField("requests", DoubleType),
    StructField("load_avg", DoubleType)))

  private def points(offsets: Long*): DataFrame = {
    def ts(offMs: Long) = new java.sql.Timestamp(T0 + offMs)
    val base = Seq(
      Row(ts(0), "56.234.163.23", "/index.html", Integer.valueOf(200), Double.box(56.0), null),
      Row(ts(1000), "56.234.163.23", "/login", Integer.valueOf(200), Double.box(34.0), null),
      Row(ts(2000), "56.234.163.23", "/login", Integer.valueOf(500), Double.box(12.0), null),
      Row(ts(3000), "56.234.163.23", null, null, null, Double.box(1.7)),
      Row(ts(4000), "56.234.163.24", "/index.html", Integer.valueOf(200), Double.box(523.0), null),
      Row(ts(5000), "56.234.163.24", "/login", Integer.valueOf(200), Double.box(411.0), null),
      Row(ts(6000), "56.234.163.24", "/login", Integer.valueOf(500), Double.box(28.0), null),
      Row(ts(7000), "56.234.163.24", null, null, null, Double.box(0.3)))
    spark.createDataFrame(spark.sparkContext.parallelize(base, 2), schema)
  }

  private val schemaYaml =
    """combined:
      |  retentionperiod: 1h
      |  sql: >
      |    SELECT
      |      requests,
      |      AVG(load_avg) AS load_avg
      |    FROM inbound
      |    GROUP BY *, period(5m)
      |
      |errors_view:
      |  view: true
      |  sql: >
      |    SELECT * FROM combined WHERE status = 500 GROUP BY server, period(5m)
      |""".stripMargin

  private def freshDb(): GraftDB = {
    val dir = Files.createTempDirectory("graftdb").toString
    new GraftDB(spark, schemaYaml, dir, () => T0 + 10000)
  }

  private def d(v: Any): Double = v match {
    case null      => Double.NaN
    case x: Double => x
    case x: Number => x.doubleValue()
  }
  private def approx(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= EPS * math.max(1.0, math.abs(b))

  test("README flow: insert, query, re-insert doubles SUMs but not AVGs") {
    val db = freshDb()
    db.insert("inbound", points())

    val rows = db.sql(
      """SELECT _points, requests, load_avg FROM combined
        |GROUP BY server ORDER BY requests DESC""".stripMargin).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("server") == "56.234.163.24")
    assert(approx(d(rows(0).getAs[Any]("requests")), 962.0))
    assert(approx(d(rows(0).getAs[Any]("load_avg")), 0.3))
    assert(approx(d(rows(0).getAs[Any]("_points")), 4.0))

    // re-insert the same batch: SUMs double, AVGs stay (README.md:199-238)
    db.insert("inbound", points())
    val rows2 = db.sql(
      """SELECT _points, requests, load_avg FROM combined
        |GROUP BY server ORDER BY requests DESC""".stripMargin).collect()
    assert(approx(d(rows2(0).getAs[Any]("requests")), 1924.0))
    assert(approx(d(rows2(0).getAs[Any]("load_avg")), 0.3))
    assert(approx(d(rows2(0).getAs[Any]("_points")), 8.0))
  }

  test("SUM over an AVG field errors like the reference (README.md:239-247)") {
    val db = freshDb()
    db.insert("inbound", points())
    val ex = intercept[IllegalArgumentException] {
      db.sql("SELECT SUM(load_avg) AS s FROM combined GROUP BY server").collect()
    }
    assert(ex.getMessage.contains("No column found"))
    // AVG over the AVG field is fine (weighted correctly via count/total)
    val ok = db.sql("SELECT AVG(load_avg) AS a FROM combined GROUP BY _").collect()
    assert(approx(d(ok(0).getAs[Any]("a")), 1.0)) // (1.7+0.3)/2 weighted equal
  }

  test("AVG re-aggregation is weighted by stored counts, not bucket-averaged") {
    val dir = Files.createTempDirectory("graftdb").toString
    val yaml =
      """t:
        |  sql: >
        |    SELECT AVG(v) AS av FROM s GROUP BY k, period(1s)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 100000)
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("k", StringType),
      StructField("grp", StringType), StructField("v", DoubleType)))
    def r(off: Long, k: String, g: String, v: Double) =
      Row(new java.sql.Timestamp(T0 + off), k, g, Double.box(v))
    // k=a: three points (10, 20, 30) across two buckets; k=b: one point (100)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      r(0, "a", "g", 10), r(100, "a", "g", 20), r(1500, "a", "g", 30),
      r(0, "b", "g", 100)), 2), sch)
    db.insert("s", df)
    // global AVG over one coarse bucket must be (10+20+30+100)/4 = 40 —
    // NOT the average of bucket-averages
    val got = db.sql(
      "SELECT AVG(v) AS av FROM t GROUP BY _, period('100s')").collect()
    assert(got.length == 1)
    assert(approx(d(got(0).getAs[Any]("av")), 40.0))
    // per-k AVG
    val byK = db.sql(
      "SELECT AVG(v) AS av FROM t GROUP BY k, period('100s') ORDER BY k").collect()
    assert(approx(d(byK(0).getAs[Any]("av")), 20.0))
    assert(approx(d(byK(1).getAs[Any]("av")), 100.0))
  }

  test("views materialize independently with merged WHERE") {
    val db = freshDb()
    db.insert("inbound", points())
    val rows = db.sql(
      "SELECT requests FROM errors_view GROUP BY server ORDER BY server").collect()
    assert(rows.length == 2)
    assert(approx(d(rows(0).getAs[Any]("requests")), 12.0))
    assert(approx(d(rows(1).getAs[Any]("requests")), 28.0))
  }

  test("late data merges into its historical bucket; beyond retention drops") {
    val db = freshDb()
    db.insert("inbound", points())
    // a point 30 min old (within 1h retention): merges into its own bucket
    val late = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Timestamp(T0 - 1800000), "56.234.163.23", "/late",
        Integer.valueOf(200), Double.box(5.0), null)), 1), schema)
    db.insert("inbound", late)
    // a point 2h old (beyond retention): dropped at ingest
    val ancient = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Timestamp(T0 - 7200000), "56.234.163.23", "/ancient",
        Integer.valueOf(200), Double.box(7.0), null)), 1), schema)
    db.insert("inbound", ancient)

    val buckets = db.sql(
      """SELECT requests, _points FROM combined
        |GROUP BY _, period('5m') ORDER BY _time""".stripMargin).collect()
    assert(buckets.length == 2) // late bucket + main bucket; ancient dropped
    assert(approx(buckets.map(r => d(r.getAs[Any]("requests"))).sum, 1069.0))
    assert(approx(buckets.map(r => d(r.getAs[Any]("_points"))).sum, 9.0))
  }

  test("backfill bounds only the initial catch-up; ongoing late data obeys retention alone") {
    // reference semantics: Backfill limits how far back WAL replay starts
    // when the table is FIRST created (table.go:49-51,166-167 LimitAge);
    // ongoing inserts consult truncateBefore() which is retention-only
    // (table.go:362-364, insert.go:131-136) — a late point older than
    // backfill but inside retention is accepted once the table is live
    val dir = Files.createTempDirectory("graftdb").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  backfill: 20m
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY server, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    // FIRST load (empty store = the WAL catch-up analogue): a 30-min-old
    // point is beyond the 20m backfill depth → dropped from replay
    val preExisting = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Timestamp(T0 - 1800000), "56.234.163.23", "/replayed",
        Integer.valueOf(200), Double.box(11.0), null)), 1), schema)
    db.insert("inbound", points().unionAll(preExisting))
    // the backfill-bound drop is COUNTED: both horizons apply between the
    // stats observe nodes, so droppedPoints covers initial-catch-up
    // backfill drops as well as retention drops
    assert(db.tableStats("combined").droppedPoints === 1,
      s"backfill drop must be counted, got ${db.tableStats("combined")}")
    // ongoing ingest: the SAME 30-min-old lateness is now inside retention
    // (1h) and backfill no longer applies → merges
    val lateOk = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Timestamp(T0 - 1800000), "56.234.163.23", "/old",
        Integer.valueOf(200), Double.box(7.0), null)), 1), schema)
    db.insert("inbound", lateOk)
    assert(db.tableStats("combined").droppedPoints === 1,
      "an accepted late point must not count as dropped")
    // ongoing ingest: 2h old is beyond retention → dropped
    val ancient = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Timestamp(T0 - 7200000), "56.234.163.23", "/ancient",
        Integer.valueOf(200), Double.box(100.0), null)), 1), schema)
    db.insert("inbound", ancient)
    assert(db.tableStats("combined").droppedPoints === 2,
      s"retention drop must also count, got ${db.tableStats("combined")}")
    val rows = db.sql(
      "SELECT requests FROM combined GROUP BY _ ORDER BY _time").collect()
    assert(approx(d(rows.map(r => d(r.getAs[Any]("requests"))).sum), 1071.0))
  }

  test("replayed micro-batch (same sink + batchId) merges exactly once") {
    // foreachBatch is at-least-once: a crash between a completed merge and
    // the checkpoint commit re-delivers the same batchId. The manifest's
    // per-sink batch ledger commits atomically WITH the merged data, so the
    // replay is recognized and skipped — the reference's applied-offset
    // header behavior (row_store.go:455-530)
    val db = freshDb()
    val t = db.tables("combined")
    t.mergeBatch(points(), Some("ckptA"), 7L)
    t.mergeBatch(points(), Some("ckptA"), 7L) // re-delivery: must be a no-op
    def total(): Double = db.sql("SELECT requests FROM combined GROUP BY _")
      .collect().map(r => d(r.getAs[Any]("requests"))).sum
    assert(approx(total(), 1064.0), total())
    // a NEW batchId on the same sink merges
    t.mergeBatch(points(), Some("ckptA"), 8L)
    assert(approx(total(), 2128.0), total())
    // a different sink has an independent batchId space
    t.mergeBatch(points(), Some("ckptB"), 7L)
    assert(approx(total(), 3192.0), total())
    // batch callers (no sinkId) are never deduped
    t.mergeBatch(points())
    assert(approx(total(), 4256.0), total())
  }

  test("whitelist classifies by name: integer measures survive, non-whitelisted dims of any type drop") {
    // the reference slices only the dims map by name (insert.go:34-39):
    // a LongType measure must not be whitelist-dropped, and a DoubleType
    // dim must not sneak past the whitelist just because of its Spark type
    val dir = Files.createTempDirectory("graftdb").toString
    val yaml =
      """t:
        |  sql: >
        |    SELECT hits FROM s GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000,
      whitelistedDims = Set("k"))
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("k", StringType),
      StructField("junk", StringType), StructField("dscore", DoubleType),
      StructField("hits", LongType)))
    db.insert("s", spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Timestamp(T0), "a", "x", Double.box(0.1), Long.box(3L)),
      Row(new java.sql.Timestamp(T0), "a", "y", Double.box(0.2), Long.box(4L))), 1), sch))
    val rows = db.sql("SELECT hits FROM t GROUP BY k").collect()
    assert(rows.length == 1, rows.toSeq)      // junk AND dscore dropped → one group
    assert(approx(d(rows(0).getAs[Any]("hits")), 7.0)) // long measure survived
    assert(!db.sql("SELECT hits FROM t GROUP BY *").columns.contains("dscore"))
  }

  test("UNTIL-only query caps an over-wide period at the retention window (group.go:92-104)") {
    val db = freshDb() // retention 1h, resolution 5m, now = T0 + 10s
    db.insert("inbound", points())
    val rows = db.sql(
      s"""SELECT requests FROM combined
         |UNTIL '${java.time.Instant.ofEpochMilli(T0 + 10000)}'
         |GROUP BY _, period('4h')""".stripMargin).collect()
    assert(rows.length == 1)
    // asOf defaults to now − retention, so the 4h period caps at the 1h
    // window: the bucket sits on the 1h grid, not the 4h grid
    assert(rows(0).getAs[java.sql.Timestamp]("_time").getTime ==
      (T0 / 3600000L) * 3600000L)
    assert(approx(d(rows(0).getAs[Any]("requests")), 1064.0))
  }

  test("query-time coarser re-bucketing and resolution validation") {
    val db = freshDb()
    db.insert("inbound", points())
    val fine = db.sql(
      "SELECT requests FROM combined GROUP BY _, period('5m')").collect()
    assert(fine.length == 1)
    val coarse = db.sql(
      "SELECT requests FROM combined GROUP BY _, period('10m')").collect()
    assert(approx(d(coarse(0).getAs[Any]("requests")), 1064.0))
    val ex = intercept[IllegalArgumentException] {
      db.sql("SELECT requests FROM combined GROUP BY _, period('7m')").collect()
    }
    assert(ex.getMessage.contains("multiple"))
  }

  test("IF over stored fields gates by dims at read time") {
    val db = freshDb()
    db.insert("inbound", points())
    val rows = db.sql(
      """SELECT IF(status = 500, requests) AS err, requests AS total
        |FROM combined GROUP BY server ORDER BY server""".stripMargin).collect()
    assert(approx(d(rows(0).getAs[Any]("err")), 12.0))
    assert(approx(d(rows(0).getAs[Any]("total")), 102.0))
    assert(approx(d(rows(1).getAs[Any]("err")), 28.0))
  }

  test("schema evolution: a field added mid-life reads old rows as unset") {
    // reference behavior: fields change between flushes and readers remap
    // (row_store.go:919-953; tests shuffle/extend fields, zenodb_test:175-190)
    val dir = Files.createTempDirectory("graft-evolve").toString
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("k", StringType),
      StructField("v", DoubleType), StructField("w", DoubleType)))
    def batch(off: Long, k: String, v: Double, w: Double) =
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(new java.sql.Timestamp(T0 + off), k, Double.box(v), Double.box(w))), 1), sch)
    val v1 = new GraftDB(spark,
      "t:\n  sql: >\n    SELECT v FROM s GROUP BY k, period(1s)\n",
      dir, () => T0 + 100000)
    v1.insert("s", batch(0, "a", 1.0, 10.0))
    // same dir, extended schema: new field w
    val v2 = new GraftDB(spark,
      "t:\n  sql: >\n    SELECT v, w FROM s GROUP BY k, period(1s)\n",
      dir, () => T0 + 100000)
    v2.insert("s", batch(2000, "a", 2.0, 20.0))
    val rows = v2.sql(
      "SELECT v, w, _points FROM t GROUP BY k, period('100s')").collect()
    assert(rows.length == 1)
    assert(approx(d(rows(0).getAs[Any]("v")), 3.0))
    assert(approx(d(rows(0).getAs[Any]("w")), 20.0)) // old rows: w unset
    assert(approx(d(rows(0).getAs[Any]("_points")), 2.0))
  }

  test("live ALTER: fields shuffled/extended mid-run on a RUNNING db") {
    // the reference polls the schema file and Alters tables in place
    // (schema.go:16-55, table.go:184-192; zenodb_test.go:175-190 shuffles and
    // extends fields between flushes). Same GraftDB instance throughout.
    val dir = Files.createTempDirectory("graft-alter").toString
    val db = new GraftDB(spark, schemaYaml, dir, () => T0 + 10000)
    db.insert("inbound", points())

    // shuffle field order, add `errors`, drop the view, add a new table
    db.alter(
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT
        |      AVG(load_avg) AS load_avg,
        |      IF(status = 500, requests) AS errors,
        |      requests
        |    FROM inbound
        |    GROUP BY *, period(5m)
        |
        |by_path:
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY path, period(5m)
        |""".stripMargin)
    assert(!db.tables.contains("errors_view"))
    assert(db.tables.contains("by_path"))

    db.insert("inbound", points())
    val rows = db.sql(
      """SELECT _points, requests, errors, load_avg FROM combined
        |GROUP BY server ORDER BY requests DESC""".stripMargin).collect()
    // surviving fields span BOTH inserts (content-addressed accumulators
    // survive the shuffle); the added field only sees post-alter points
    assert(approx(d(rows(0).getAs[Any]("requests")), 1924.0))
    assert(approx(d(rows(0).getAs[Any]("errors")), 28.0))
    assert(approx(d(rows(0).getAs[Any]("load_avg")), 0.3))
    assert(approx(d(rows(0).getAs[Any]("_points")), 8.0))

    // the table added by ALTER materializes from post-alter inserts only
    val byPath = db.sql(
      "SELECT requests FROM by_path GROUP BY path ORDER BY requests DESC").collect()
    assert(byPath.map(_.getAs[String]("path")).contains("/login"))
    assert(approx(d(byPath(0).getAs[Any]("requests")), 579.0)) // index: 56+523
  }

  test("schema file watcher picks up edits like the reference's poller") {
    val dir = Files.createTempDirectory("graft-watch")
    val schemaFile = dir.resolve("schema.yaml")
    Files.writeString(schemaFile,
      "t:\n  sql: >\n    SELECT v FROM s GROUP BY k, period(1s)\n")
    val db = new GraftDB(spark, Files.readString(schemaFile),
      dir.resolve("data").toString, () => T0 + 100000)
    val watcher = db.watchSchemaFile(schemaFile.toString, intervalMillis = 25)
    try {
      Files.writeString(schemaFile,
        "t:\n  sql: >\n    SELECT v, w FROM s GROUP BY k, period(1s)\n")
      // bump mtime explicitly so coarse filesystem timestamps can't hide it
      Files.setLastModifiedTime(schemaFile,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 2000))
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
             !db.tables("t").tableFields.exists(_.name == "w"))
        Thread.sleep(25)
      assert(db.tables("t").tableFields.exists(_.name == "w"))
    } finally watcher.interrupt()
  }

  test("percentile sketch: stored, merged across batches, reusable at any p") {
    val dir = Files.createTempDirectory("graftdb").toString
    val yaml =
      """pt:
        |  sql: >
        |    SELECT PERCENTILE(v, 50, 0, 100, 1) AS p50 FROM s GROUP BY k, period(1s)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 1000000)
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("k", StringType),
      StructField("v", DoubleType)))
    def batch(vals: Seq[Double], offBase: Long) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        vals.zipWithIndex.map { case (v, i) =>
          Row(new java.sql.Timestamp(T0 + offBase + i * 100), "a", Double.box(v))
        }, 2), sch)
    // two batches + an out-of-range value (discarded, not clamped)
    db.insert("s", batch((1 to 50).map(_.toDouble) :+ 1000.0, 0))
    db.insert("s", batch((51 to 100).map(_.toDouble), 60000))
    val got = db.sql(
      """SELECT p50, PERCENTILE(p50, 90) AS p90, PERCENTILE(p50, 10) AS p10
        |FROM pt GROUP BY k, period('1000s')""".stripMargin).collect()
    assert(got.length == 1)
    // log-bucketed sketch: error is relative to the offset v - lo + 1
    // (precision 1 ⇒ ~5%), plus quantile-definition slack of one value
    def tol(v: Double) = 0.06 * (v + 1) + 1.0
    assert(math.abs(d(got(0).getAs[Any]("p50")) - 50.0) <= tol(50.0))
    assert(math.abs(d(got(0).getAs[Any]("p90")) - 90.0) <= tol(90.0))
    assert(math.abs(d(got(0).getAs[Any]("p10")) - 10.0) <= tol(10.0))
  }

  test("ASOF/UNTIL prunes day dirs at the manifest, not just rows") {
    val dir = Files.createTempDirectory("graftdb").toString
    val DayMs = 86400000L
    // no retention: three inserts land on three distinct days
    val yaml =
      """combined:
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 3 * DayMs)
    db.insert("inbound", points())                 // day of T0
    db.insert("inbound", points(0).withColumn("ts",
      org.apache.spark.sql.functions.expr(s"ts + INTERVAL 1 DAY")))
    db.insert("inbound", points(0).withColumn("ts",
      org.apache.spark.sql.functions.expr(s"ts + INTERVAL 2 DAY")))

    def iso(ms: Long) =
      java.time.Instant.ofEpochMilli(ms).toString.replace("Z", "")
    val lo = iso((T0 / DayMs + 1) * DayMs)         // start of day 2
    val hi = iso((T0 / DayMs + 2) * DayMs)         // start of day 3
    val bounded = db.sql(
      s"""SELECT requests, _points FROM combined
         |ASOF '$lo' UNTIL '$hi' GROUP BY _""".stripMargin)
    // only the middle day's dir is scanned
    val files = bounded.inputFiles
    assert(files.nonEmpty)
    val days = files.flatMap(f =>
      "__day=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toLong)).distinct
    assert(days.toSeq == Seq(T0 / DayMs + 1),
      s"expected only day ${T0 / DayMs + 1} scanned, got ${days.toSeq}")
    // and the result matches the one-day total
    val r = bounded.collect()(0)
    assert(approx(d(r.getAs[Any]("requests")), 1064.0)) // one full batch
    // a window with no stored day yields zero rows, not an error
    val empty = db.sql(
      s"""SELECT requests FROM combined
         |ASOF '${iso((T0 / DayMs + 9) * DayMs)}' GROUP BY _""".stripMargin)
    assert(empty.collect().isEmpty)
  }

  test("window and dim queries ignore grown copies that own other days and users") {
    // a store grown by copies on their own days and users answers a query
    // aimed at the original data exactly as the original store does
    val DayMs = 86400000L
    val yaml =
      """ev:
        |  partitionby: [user_id]
        |  sql: >
        |    SELECT value, AVG(value) AS av FROM evs GROUP BY event_type, user_id, period(1h)
        |""".stripMargin
    import spark.implicits._
    // integer-valued: sums are exact whatever the merge order
    val base = (0 until 240).map(i => (T0 + (i % 4) * DayMs + (i / 4) * 600000L,
      (i % 7).toLong, s"t${i % 3}", (1 + i % 9).toDouble))
    val copies = for (c <- 1 to 3; (t, u, e, v) <- base)
      yield (t + c * 32 * DayMs, u + c * 1000L, e, v)
    def store(rows: Seq[(Long, Long, String, Double)]): GraftDB = {
      val db = new GraftDB(spark, yaml,
        Files.createTempDirectory("graft-grown").toString, () => T0 + 200 * DayMs)
      db.insert("evs", rows.map { case (t, u, e, v) =>
        (new java.sql.Timestamp(t), u, e, v) }.toDF("ts", "user_id", "event_type", "value"))
      db
    }
    val (one, grown) = (store(base), store(base ++ copies))
    def iso(ms: Long) =
      java.time.Instant.ofEpochMilli(ms).toString.replace("Z", "")
    val day = T0 / DayMs + 1
    val window = s"SELECT value FROM ev ASOF '${iso(day * DayMs)}' " +
      s"UNTIL '${iso((day + 1) * DayMs)}' GROUP BY event_type"
    val dim = "SELECT value FROM ev WHERE user_id = 3 GROUP BY event_type, period(1h)"
    def rows(db: GraftDB, sql: String): Seq[String] =
      db.sql(sql).collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    for (q <- Seq(window, dim)) {
      val expected = rows(one, q)
      assert(expected.nonEmpty)
      assert(rows(grown, q) == expected, q)
    }
  }

  test("flush is incremental: untouched day partitions are not rewritten") {
    val dir = Files.createTempDirectory("graft-incr").toString
    val yaml = "t:\n  sql: >\n    SELECT v FROM s GROUP BY k, period(1s)\n"
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10L * 86400000L)
    val sch = StructType(Seq(StructField("ts", TimestampType),
      StructField("k", StringType), StructField("v", DoubleType)))
    def batch(dayOff: Long, v: Double) =
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(new java.sql.Timestamp(T0 + dayOff * 86400000L), "a", Double.box(v))), 1), sch)
    db.insert("s", batch(0, 1.0).union(batch(1, 2.0))) // day0 + day1
    val manifest1 = Files.readString(java.nio.file.Paths.get(s"$dir/t/MANIFEST"))
    db.insert("s", batch(1, 10.0)) // touches only day1
    val manifest2 = Files.readString(java.nio.file.Paths.get(s"$dir/t/MANIFEST"))
    val day0_1 = manifest1.split("\n").find(_.contains("\t")).get
    assert(manifest2.contains(day0_1.split("\t")(1)),
      s"day0 partition should be untouched:\n$manifest1\nvs\n$manifest2")
    val rows = db.sql(
      "SELECT v FROM t GROUP BY k, period('100s') ORDER BY _time").collect()
    assert(rows.length == 2)
    assert(approx(d(rows(0).getAs[Any]("v")), 1.0))
    assert(approx(d(rows(1).getAs[Any]("v")), 12.0))
  }

  test("a failed day rewrite leaves no persisted partial; the next insert commits") {
    val dir = Files.createTempDirectory("graft-failed-merge").toString
    val db = new GraftDB(spark, schemaYaml, dir, () => T0 + 10000)
    db.insert("inbound", points())
    // truncate one parquet file of the day the next batch touches
    val victim = {
      val st = Files.walk(java.nio.file.Paths.get(dir, "combined", "commits"))
      try st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
    }
    val bytes = Files.readAllBytes(victim)
    Files.write(victim, bytes.take(bytes.length / 2))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](db.insert("inbound", points()))
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "the failed insert left its partial aggregate persisted")

    Files.write(victim, bytes)
    db.insert("inbound", points())
    // the failed insert committed nothing: two good inserts, like the README flow
    val rows = db.sql(
      """SELECT _points, requests, load_avg FROM combined
        |GROUP BY server ORDER BY requests DESC""".stripMargin).collect()
    assert(rows.length == 2)
    assert(approx(d(rows(0).getAs[Any]("requests")), 1924.0))
    assert(approx(d(rows(0).getAs[Any]("load_avg")), 0.3))
    assert(approx(d(rows(0).getAs[Any]("_points")), 8.0))
    db.close()
  }

  test("manifest GC soak: sustained micro-batches with concurrent readers stay bounded and untorn") {
    // ~200 merge generations through one table while readers continuously
    // re-open the store: the commits dir must stay bounded (superseded
    // generations deleted once past the GC grace), no read may ever tear
    // (FileNotFound on a swapped-out generation), and the manifest must
    // stay O(days + sinks), not O(batches)
    // grace must exceed a reader's worst-case latency under contention, or
    // deletions legitimately land under a scan still using the old manifest
    System.setProperty("graft.commitGcGraceMillis", "5000")
    try {
      val dir = Files.createTempDirectory("graft-soak").toString
      val yaml = "t:\n  sql: >\n    SELECT v FROM s GROUP BY k, period(1s)\n"
      val db = new GraftDB(spark, yaml, dir, () => T0 + 2 * 86400000L)
      val sch = StructType(Seq(StructField("ts", TimestampType),
        StructField("k", StringType), StructField("v", DoubleType)))
      def batch(i: Int) = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        // alternate two day partitions so GC must track a multi-day live set
        Row(new java.sql.Timestamp(T0 + (i % 2) * 86400000L), "a",
          Double.box(1.0))), 1), sch)

      db.insert("s", batch(0)) // a fresh table is queryable after first data
      val readErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val sums = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      @volatile var stopReaders = false
      val reader = new Thread(() => {
        while (!stopReaders) {
          try {
            val rows = db.sql("SELECT v FROM t GROUP BY _, period('10d')").collect()
            if (rows.nonEmpty) sums.add(d(rows(0).getAs[Any]("v")))
          } catch { case e: Throwable => readErrors.add(e) }
        }
      })
      reader.setDaemon(true); reader.start()

      val n = 200
      (2 to n).foreach(i => db.insert("s", batch(i)))
      stopReaders = true
      reader.join(10000)

      // no torn reads, and every observed running total is sane + monotonic
      assert(readErrors.isEmpty,
        readErrors.toArray.take(2).map(String.valueOf).mkString("; ").take(800))
      val observed = sums.toArray(Array.empty[java.lang.Double]).map(_.doubleValue)
      assert(observed.nonEmpty)
      assert(observed.forall(s => s >= 1.0 && s <= n.toDouble), observed.max)
      assert(observed.sameElements(observed.sorted), "reader saw a regressing total")

      // final state is exactly the sum of all batches (no loss, no double)
      val fin = db.sql("SELECT v, _points FROM t GROUP BY _, period('10d')").collect()
      assert(approx(d(fin(0).getAs[Any]("v")), n.toDouble))

      // after the grace passes, one more insert sweeps every superseded
      // generation: only live generations (≤ 1 per day + the new commit)
      // may remain, and the manifest holds one line per day + version
      Thread.sleep(5500)
      db.insert("s", batch(n + 1))
      val commitDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dir/t/commits")).count()
      assert(commitDirs <= 3, s"commits dir not bounded: $commitDirs dirs")
      val manifest = Files.readString(java.nio.file.Paths.get(s"$dir/t/MANIFEST"))
      // v= + s= (committed schema) + 2 day lines
      assert(manifest.split("\n").length == 4, manifest)
    } finally System.clearProperty("graft.commitGcGraceMillis")
  }

  test("materialized events table agrees with the raw-table query") {
    // self-consistency: ingest the driver's events table into a materialized
    // aggregation, then compare a coarser re-aggregation against the same
    // query over the raw parquet — stored accumulator merges must reproduce
    // one-pass raw aggregation
    val dir = Files.createTempDirectory("graft-events").toString
    val yaml =
      """ev:
        |  sql: >
        |    SELECT value, MIN(value) AS mn, MAX(value) AS mx, AVG(value) AS av
        |    FROM evs GROUP BY event_type, period(1h)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => 4102444800000L) // far future
    val cat0 = Catalog.fromParquetDir(spark, "/root/testdata/sf0.001",
      Seq("events"))
    db.insert("evs", cat0.get("events").df)
    val stored = db.sql(
      """SELECT value, mn, mx, av, _points FROM ev
        |GROUP BY event_type, period('6h') ORDER BY _time, event_type""".stripMargin)
      .collect()
    val raw = Engine.sql(cat0,
      """SELECT value, MIN(value) AS mn, MAX(value) AS mx, AVG(value) AS av,
        |  _points FROM events
        |GROUP BY event_type, period('6h') ORDER BY _time, event_type""".stripMargin)
      .collect()
    assert(stored.length == raw.length && stored.nonEmpty)
    stored.zip(raw).foreach { case (s, r) =>
      Seq("value", "mn", "mx", "av", "_points").foreach { c =>
        val (a, b) = (d(s.getAs[Any](c)), d(r.getAs[Any](c)))
        assert((a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
          s"$c: $a vs $b")
      }
    }
  }

  test("streaming ingest via MemoryStream reaches the same state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graftdb").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val yaml =
      """st:
        |  sql: >
        |    SELECT v FROM s GROUP BY k, period(1s)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 100000)
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double)]
    val stream = mem.toDF().toDF("tsMs", "k", "v")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis($"tsMs"))
      .drop("tsMs")
    val queries = db.attachStream("s", stream, ckpt)
    mem.addData((T0, "x", 1.0), (T0 + 100, "x", 2.0), (T0 + 2000, "y", 5.0))
    queries.foreach(_.processAllAvailable())
    mem.addData((T0 + 300, "x", 10.0)) // second micro-batch merges
    // -- force_fresh drains the attached streams before the read
    db.sql("SELECT v FROM st GROUP BY k -- force_fresh").collect()
    queries.foreach(_.stop())
    val rows = db.sql("SELECT v, _points FROM st GROUP BY k ORDER BY k").collect()
    assert(rows.length == 2)
    assert(approx(d(rows(0).getAs[Any]("v")), 13.0))
    assert(approx(d(rows(0).getAs[Any]("_points")), 3.0))
    assert(approx(d(rows(1).getAs[Any]("v")), 5.0))
  }

  test("partitionby buckets: dim-equality queries prune __bucket= dirs; merge keeps the layout") {
    // the reference's partitionby routes a dim-filtered query to one
    // cluster partition (README.md:522-529); here the flush writes
    // `__bucket=murmur3(dim)%N` dirs inside each day and the planner turns
    // `server = X` / `server IN (...)` into directory-level pruning
    val dir = Files.createTempDirectory("graft-bucket").toString
    val yaml =
      """byserver:
        |  partitionby: [server]
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 200000000)
    import spark.implicits._
    def batch(off: Long, mult: Double) = (1 to 40).map(i =>
      (new java.sql.Timestamp(T0 + off + i), s"srv$i", mult * i)).toDF("ts", "server", "requests")
    db.insert("inbound", batch(0, 1.0))
    // second generation re-merges existing bucketed days + adds a new day
    db.insert("inbound", batch(0, 10.0))
    db.insert("inbound", batch(172800000L, 100.0))

    val manifest = Files.readString(java.nio.file.Paths.get(s"$dir/byserver/MANIFEST"))
    assert(manifest.contains("p=32\tserver"), manifest)

    val eq = db.sql(
      "SELECT requests FROM byserver WHERE server = 'srv7' GROUP BY server, period(30d)")
    val plan = eq.queryExecution.executedPlan.toString
    assert(plan.contains("__bucket"), s"no bucket pruning in plan:\n${plan.take(1500)}")
    assert(!eq.columns.contains("__bucket"), eq.columns.mkString(","))
    // the pruning is at the LISTING, not just the partition filter: the
    // planner computes the bucket id driver-side and the scan's root paths
    // are the constructed `__day=d/__bucket=k` dirs — the relation never
    // lists the other 31/32 of the store
    val roots = eq.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("/__bucket=")),
      s"scan roots not bucket-level: ${roots.take(5).mkString(";")}")
    val eqRows = eq.collect()
    assert(eqRows.length == 1 && d(eqRows(0).getAs[Any]("requests")) == 7.0 + 70.0 + 700.0)

    // without period() results come back at the TABLE's resolution
    // (/root/reference/planner/local.go:140-142): one row per touched 5m
    // bucket — the two days stay separate rows
    val eqRes = db.sql(
      "SELECT requests FROM byserver WHERE server = 'srv7' GROUP BY server").collect()
    assert(eqRes.length == 2 &&
      eqRes.map(r => d(r.getAs[Any]("requests"))).sorted.sameElements(Array(77.0, 700.0)),
      eqRes.mkString(";"))

    val in = db.sql(
      "SELECT requests FROM byserver WHERE server IN ('srv7', 'srv9') " +
        "GROUP BY server, period(30d) ORDER BY server")
      .collect()
    assert(in.length == 2)
    assert(d(in(0).getAs[Any]("requests")) == 777.0 && d(in(1).getAs[Any]("requests")) == 999.0)

    // unbounded WHERE shapes (OR across dims, LIKE) don't prune — and stay
    // correct. graft LIKE is an UNANCHORED REGEX (goexpr parity,
    // sql/sql_test.go:69: `LIKE '172.56.'`): 'srv1' matches srv1 and
    // srv10..srv19 as a substring — NOT SQL wildcards ('srv1%' would mean
    // a literal percent char and match nothing).
    val like = db.sql(
      "SELECT requests FROM byserver WHERE server LIKE 'srv1' GROUP BY _, period(30d)").collect()
    assert(like.nonEmpty, {
      val raw = db.sql("SELECT requests FROM byserver GROUP BY server, period(30d)").collect()
      s"LIKE returned 0 rows; all=${raw.take(50).mkString(";")}"
    })
    assert(d(like(0).getAs[Any]("requests")) ==
      (Seq(1) ++ (10 to 19)).map(i => i * 111.0).sum)

    // full scan unaffected
    val all = db.sql("SELECT requests FROM byserver GROUP BY _, period(30d)").collect()
    assert(d(all(0).getAs[Any]("requests")) == (1 to 40).map(_ * 111.0).sum)

    // the bucketed multi-generation multi-day store answers EXACTLY what an
    // unbucketed twin answers — bucketing is placement, never semantics
    val dir2 = Files.createTempDirectory("graft-flat").toString
    val db2 = new GraftDB(spark,
      """byserver:
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin, dir2, () => T0 + 200000000)
    Seq(batch(0, 1.0), batch(0, 10.0), batch(172800000L, 100.0))
      .foreach(b => db2.insert("inbound", b))
    def dump(g: GraftDB) = g.sql(
      "SELECT requests, _points FROM byserver GROUP BY server")
      .collect().map(r => (String.valueOf(r.getAs[Any]("server")),
        r.getAs[java.sql.Timestamp]("_time").getTime,
        d(r.getAs[Any]("requests")), d(r.getAs[Any]("_points"))))
      .sortBy(t => (t._1, t._2))
    assert(dump(db).sameElements(dump(db2)))

    // a batch MISSING the partition dim that touches only a NEW day keeps
    // the layout (the dim hashes as NULL, the manifest keeps its p= line) —
    // heterogeneous per-point dims are supported input (insert.go routes
    // whatever arrives); dropping the layout for one batch would mix
    // bucketed and unbucketed day roots and wedge partition discovery
    db.insert("inbound",
      Seq((new java.sql.Timestamp(T0 + 4 * 86400000L), 3.0)).toDF("ts", "requests"))
    val manifest2 = Files.readString(java.nio.file.Paths.get(s"$dir/byserver/MANIFEST"))
    assert(manifest2.contains("p=32\tserver"), manifest2)
    val all2 = db.sql("SELECT requests FROM byserver GROUP BY _, period(30d)").collect()
    assert(d(all2(0).getAs[Any]("requests")) == (1 to 40).map(_ * 111.0).sum + 3.0)
    // the null-dim row is invisible to dim-equality (still pruned + correct)
    val eq2 = db.sql(
      "SELECT requests FROM byserver WHERE server = 'srv7' GROUP BY server, period(30d)").collect()
    assert(eq2.length == 1 && d(eq2(0).getAs[Any]("requests")) == 777.0)
  }

  test("compaction: fragmented generations consolidate; results, bucket pruning and GC unchanged") {
    // flush rewrites only touched days, so a store whose days quiesce under
    // different flushes converges on ~one live generation PER DAY — and the
    // bucketed read is one relation per generation, i.e. back to the
    // O(days) plan the per-generation read exists to prevent. Compaction is
    // what bounds it (the reference never fragments because it rewrites the
    // ENTIRE filestore on every flush — row_store.go:424-530; compaction is
    // the amortized price of our O(touched-days) flush).
    val yaml =
      """byserver:
        |  partitionby: [server]
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    import spark.implicits._
    def batch(day: Int) = (1 to 10).map(i =>
      (new java.sql.Timestamp(T0 + day * 86400000L + i * 1000L), s"srv$i", (day + 1.0) * i))
      .toDF("ts", "server", "requests")
    def gens(dir: String): Set[Long] =
      Files.readString(java.nio.file.Paths.get(s"$dir/byserver/MANIFEST"))
        .split("\n").filter(_.contains("\tcommits/"))
        .map(_.split("\t")(1).split("/")(1).toLong).toSet
    val expectTotal = (0 until 6).flatMap(day => (1 to 10).map(i => (day + 1.0) * i)).sum
    val expectSrv7 = (0 until 6).map(day => (day + 1.0) * 7).sum

    // ---- explicit compact(): 6 quiesced days = 6 generations -> 1 ----
    System.setProperty("graft.compact.auto", "false")
    try {
      val dir = Files.createTempDirectory("graft-compact").toString
      val db = new GraftDB(spark, yaml, dir, () => T0 + 10 * 86400000L)
      (0 until 6).foreach(day => db.insert("inbound", batch(day)))
      assert(gens(dir).size == 6, s"expected 6 fragmented gens, got ${gens(dir)}")

      def dimEq = db.sql(
        "SELECT requests FROM byserver WHERE server = 'srv7' GROUP BY server, period(30d)")
      def tot(rows: Array[Row]) = rows.map(r => d(r.getAs[Any]("requests"))).sum
      val before = tot(dimEq.collect())
      assert(before == expectSrv7)

      assert(db.compact("byserver") == 6)
      assert(gens(dir).size == 1, s"compact left gens ${gens(dir)}")
      // one generation => the whole bucketed store plans as ONE relation
      val full = db.sql("SELECT requests FROM byserver GROUP BY _, period(30d)")
      val rels = full.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      assert(rels.size == 1, s"compacted store still plans ${rels.size} relations")
      assert(tot(full.collect()) == expectTotal)
      // dim-equality still prunes at the listing (constructed __bucket dirs)
      val roots = dimEq.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
      }.flatten
      assert(roots.nonEmpty && roots.forall(_.contains("/__bucket=")),
        s"post-compact scan roots not bucket-level: ${roots.take(5).mkString(";")}")
      assert(tot(dimEq.collect()) == before)
      // compact again: already consolidated, a no-op
      assert(db.compact("byserver") == 0)

      // superseded generations carry GC stamps and die after the grace
      // window (another flush runs the GC pass)
      System.setProperty("graft.commitGcGraceMillis", "0")
      try {
        Thread.sleep(5)
        db.insert("inbound", batch(7))
        val live = gens(dir)
        val onDisk = {
          val st = Files.list(java.nio.file.Paths.get(s"$dir/byserver/commits"))
          try {
            val b = scala.collection.mutable.ArrayBuffer.empty[Long]
            val it = st.iterator()
            while (it.hasNext) b += it.next().getFileName.toString.toLong
            b.toSet
          } finally st.close()
        }
        assert(onDisk == live, s"GC left superseded gens: disk=$onDisk live=$live")
      } finally System.clearProperty("graft.commitGcGraceMillis")
    } finally System.clearProperty("graft.compact.auto")

    // ---- auto-compaction keeps generation count bounded as days quiesce ----
    // maxDaysPerPass=2 also exercises the bounded-pass path: each pass may
    // rewrite at most 2 day dirs (the post-flush latency cap), yet the
    // generation count still converges under the bound across flushes
    System.setProperty("graft.compact.maxGenerations", "3")
    System.setProperty("graft.compact.maxDaysPerPass", "2")
    try {
      val dir = Files.createTempDirectory("graft-autocompact").toString
      val db = new GraftDB(spark, yaml, dir, () => T0 + 10 * 86400000L)
      (0 until 6).foreach(day => db.insert("inbound", batch(day)))
      assert(gens(dir).size <= 3,
        s"auto-compact did not bound gens: ${gens(dir)}")
      val total = db.sql("SELECT requests FROM byserver GROUP BY _, period(30d)").collect()
      assert(total.map(r => d(r.getAs[Any]("requests"))).sum == expectTotal)
      val eq = db.sql(
        "SELECT requests FROM byserver WHERE server = 'srv7' GROUP BY server, period(30d)").collect()
      assert(eq.map(r => d(r.getAs[Any]("requests"))).sum == expectSrv7)
    } finally {
      System.clearProperty("graft.compact.maxGenerations")
      System.clearProperty("graft.compact.maxDaysPerPass")
    }
  }

  test("relation cache: repeat queries hit one entry; inserts invalidate by version") {
    // opening a day-dir set is O(paths) driver work per query (~4.5 s at
    // 3,000 days, BENCH_LOCAL.md) — a long-lived server must reuse the
    // resolved relation, and a flush must invalidate it by construction
    val db = freshDb()
    db.insert("inbound", points())
    val t = db.tables("combined")
    val q = "SELECT requests FROM combined GROUP BY server"
    def total(): Double = db.sql(q).collect().map(r => d(r.getAs[Any]("requests"))).sum
    val first = total()
    total(); total()
    assert(t.relationCacheSize == 1,
      s"3 identical queries should share one cached relation, saw ${t.relationCacheSize}")
    db.insert("inbound", points()) // version bump: same rows again double SUMs
    val after = total()
    assert(approx(after, first * 2),
      s"post-insert query must see fresh data through the cache: $first -> $after")
    assert(t.relationCacheSize == 1,
      "stale-version entries are pruned on put — one live entry remains")
  }

  test("seeded store-op fuzz: random insert/compact schedules match a single-batch twin") {
    // differential guard over the manifest machinery: any interleaving of
    // day-scattered merges, auto-compaction passes (aggressive thresholds)
    // and explicit compact() calls must leave a store that answers exactly
    // like a twin built from ONE insert of the same rows. Catches day-map /
    // generation / bucket-layout bookkeeping bugs the fixed scenarios miss.
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    def runTrial(trial: Int, bucketed: Boolean): Unit = {
      val yaml =
        (if (bucketed)
          """t:
            |  partitionby: [server]
            |  sql: >
            |    SELECT requests FROM s GROUP BY *, period(5m)
            |""".stripMargin
        else
          """t:
            |  sql: >
            |    SELECT requests FROM s GROUP BY *, period(5m)
            |""".stripMargin)
      val dir = Files.createTempDirectory(s"graft-opfuzz$trial").toString
      val twinDir = Files.createTempDirectory(s"graft-opfuzz$trial-twin").toString
      val db = new GraftDB(spark, yaml, dir, () => T0 + 50 * 86400000L)
      val twin = new GraftDB(spark, yaml, twinDir, () => T0 + 50 * 86400000L)
      val all = scala.collection.mutable.ArrayBuffer.empty[(java.sql.Timestamp, String, Double)]
      (0 until 8).foreach { _ =>
        if (all.nonEmpty && rnd.nextInt(4) == 0) db.compact("t")
        else {
          // integer-valued requests: double sums stay exact regardless of
          // merge order, so the compare below can be ==
          val rows = (0 until 1 + rnd.nextInt(20)).map { _ =>
            (new java.sql.Timestamp(
              T0 + rnd.nextInt(40) * 86400000L + rnd.nextInt(86400) * 1000L),
              s"srv${rnd.nextInt(6)}", (1 + rnd.nextInt(9)).toDouble)
          }
          all ++= rows
          db.insert("s", rows.toDF("ts", "server", "requests"))
        }
      }
      if (all.isEmpty) return
      twin.insert("s", all.toSeq.toDF("ts", "server", "requests"))
      def dump(g: GraftDB, sql: String): Seq[String] =
        g.sql(sql).collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      val q1 = "SELECT requests, _points FROM t GROUP BY server, period(5m)"
      val q2 = "SELECT requests FROM t WHERE server = 'srv3' GROUP BY server, period('90d')"
      assert(dump(db, q1) == dump(twin, q1),
        s"trial $trial (bucketed=$bucketed): scheduled store diverged from twin on q1")
      assert(dump(db, q2) == dump(twin, q2),
        s"trial $trial (bucketed=$bucketed): scheduled store diverged from twin on q2")
    }
    // aggressive auto-compaction so passes actually fire mid-schedule
    System.setProperty("graft.compact.maxGenerations", "2")
    System.setProperty("graft.compact.maxDaysPerPass", "3")
    try {
      runTrial(0, bucketed = true)
      runTrial(1, bucketed = false)
      runTrial(2, bucketed = true)
    } finally {
      System.clearProperty("graft.compact.maxGenerations")
      System.clearProperty("graft.compact.maxDaysPerPass")
    }
  }

  test("crash-point fuzz: dying around the manifest rename never loses or doubles rows") {
    // seeded schedules of inserts/compacts with injected process "deaths"
    // on either side of the atomic manifest rename (the transaction
    // boundary). After each death the store is REOPENED from disk alone and
    // the op is replayed iff it did not commit (rename not reached) — the
    // discipline an upstream WAL/offset replayer follows. The reopened,
    // replayed store must answer exactly like a never-crashed twin.
    import spark.implicits._
    import graft.streaming.MaterializedTable
    final class InjectedCrash extends RuntimeException("injected crash")
    def isCrash(t: Throwable): Boolean = {
      var c = t
      while (c != null) {
        if (c.isInstanceOf[InjectedCrash]) return true
        c = c.getCause
      }
      false
    }
    val points = Seq("manifest.pre-write", "manifest.tmp-written", "manifest.moved")
    // default seed is pinned for CI; GRAFT_CRASH_FUZZ_SEED=N runs fresh
    // schedules (env, not a sysprop — the forked test JVM inherits the
    // environment but not sbt's command-line -D flags)
    val rnd = new scala.util.Random(
      sys.env.get("GRAFT_CRASH_FUZZ_SEED").map(_.toLong).getOrElse(90412L))
    var totalCrashes = 0
    def runTrial(trial: Int, bucketed: Boolean): Unit = {
      // the bucketed variant exercises the `p=` manifest line + __bucket
      // dir layout through the same crash points
      val yaml =
        (if (bucketed) "t:\n  partitionby: [server]\n" else "t:\n") +
          "  sql: >\n    SELECT requests FROM s GROUP BY *, period(5m)\n"
      val dir = Files.createTempDirectory(s"graft-crash$trial").toString
      val twinDir = Files.createTempDirectory(s"graft-crash$trial-twin").toString
      val clock: () => Long = () => T0 + 50 * 86400000L
      var db = new GraftDB(spark, yaml, dir, clock)
      val twin = new GraftDB(spark, yaml, twinDir, clock)
      val all = scala.collection.mutable.ArrayBuffer.empty[(java.sql.Timestamp, String, Double)]
      var crashes = 0
      for (step <- 0 until 8) {
        val isCompact = all.nonEmpty && rnd.nextInt(4) == 0
        val rows =
          if (isCompact) Nil
          else (0 until 1 + rnd.nextInt(12)).map { _ =>
            (new java.sql.Timestamp(
              T0 + rnd.nextInt(40) * 86400000L + rnd.nextInt(86400) * 1000L),
              s"srv${rnd.nextInt(5)}", (1 + rnd.nextInt(9)).toDouble)
          }
        def perform(): Unit =
          if (isCompact) db.compact("t")
          else db.insert("s", rows.toDF("ts", "server", "requests"))
        val point = points(rnd.nextInt(points.size))
        if (rnd.nextInt(2) == 0) {
          // arm a one-shot death at the chosen point (one writeManifest per
          // insert: default compaction thresholds keep auto-compact silent
          // at <= 8 generations, so the crash hits THIS op's commit)
          var fired = false
          MaterializedTable.crashHook = p =>
            if (p == point && !fired) { fired = true; throw new InjectedCrash }
          val crashed =
            try { perform(); false }
            catch { case t: Throwable if isCrash(t) => true }
          MaterializedTable.crashHook = _ => ()
          if (crashed) {
            crashes += 1; totalCrashes += 1
            db = new GraftDB(spark, yaml, dir, clock) // reopen from disk
            // rename reached = committed: replaying would double-count.
            // rename NOT reached = nothing committed: upstream replays.
            if (point != "manifest.moved" && !isCompact) perform()
            else if (isCompact) () // compact is idempotent on rows either way
          }
        } else perform()
        if (!isCompact) all ++= rows
      }
      if (all.isEmpty) return
      twin.insert("s", all.toSeq.toDF("ts", "server", "requests"))
      def dump(g: GraftDB, sql: String): Seq[String] =
        g.sql(sql).collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      val q1 = "SELECT requests, _points FROM t GROUP BY server, period(5m)"
      val q2 =
        if (bucketed) // exercise the bucket-pruned read path post-crash
          "SELECT requests FROM t WHERE server = 'srv2' GROUP BY server, period('90d')"
        else "SELECT requests FROM t GROUP BY _, period('90d')"
      assert(dump(db, q1) == dump(twin, q1),
        s"trial $trial bucketed=$bucketed ($crashes crashes): diverged on q1")
      assert(dump(db, q2) == dump(twin, q2),
        s"trial $trial bucketed=$bucketed ($crashes crashes): diverged on q2")
      // no uncommitted manifest temp survives the reopens (swept on open)
      val leftovers = Option(new java.io.File(dir, "t").list()).getOrElse(Array.empty)
        .filter(_.startsWith("MANIFEST.tmp"))
      assert(leftovers.isEmpty, s"stale manifest temps: ${leftovers.toSeq}")
    }
    try {
      runTrial(0, bucketed = false)
      runTrial(1, bucketed = true)
      runTrial(2, bucketed = true)
    } finally { MaterializedTable.crashHook = _ => () }
    // the fuzz is vacuous if the seed never actually killed a commit
    assert(totalCrashes >= 3, s"too few injected crashes fired: $totalCrashes")
  }

  test("retention floor rounds up to the table resolution (query.go:63)") {
    import org.apache.spark.sql.functions.{col, lit, timestamp_millis}
    // resolution 7m, retention 1h — NOT an integer number of buckets, so
    // the raw now−retention instant falls mid-bucket; the reference rounds
    // both ends up to the resolution (encoding/time.go:39 RoundTimeUp), so
    // visibility flips at the bucket boundary: the bucket starting at
    // roundUp(roundUp(now) − retention) is the oldest visible one
    val yaml =
      """r7:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY server, period(7m)
        |""".stripMargin
    val dir = Files.createTempDirectory("graftdb-floor").toString
    val now = T0 + 10000
    val db = new GraftDB(spark, yaml, dir, () => now)
    val res = 420000L
    def up(t: Long): Long = Math.floorDiv(t + res - 1, res) * res
    val floor = up(up(now) - 3600000L)
    assert(floor % res == 0 && floor > now - 3600000L,
      s"fixture must straddle: floor=$floor rawFloor=${now - 3600000L}")
    val sch = points().schema
    def pt(ts: Long, v: Double) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(new java.sql.Timestamp(ts),
        "s1", "/p", Integer.valueOf(200), Double.box(v), null)), 1), sch)
    // both points are inside raw retention at ingest; they land in adjacent
    // buckets around the rounded floor
    db.insert("inbound", pt(floor + 1000, 5.0))       // oldest visible bucket
    db.insert("inbound", pt(floor - 1000, 7.0))       // straddling bucket: hidden
    val times = db.sql("SELECT requests FROM r7 GROUP BY server, period(7m)")
      .collect().map(_.getAs[java.sql.Timestamp]("_time").getTime).sorted
    assert(times.contains(floor), s"bucket AT the rounded floor must be visible: ${times.toSeq}")
    assert(!times.contains(floor - res),
      s"bucket below the rounded floor leaked past retention: ${times.toSeq}")
  }

  test("vtime: the clock follows inserted timestamps and drives retention") {
    import org.apache.spark.sql.functions.{col, lit, timestamp_millis, unix_millis}
    val dir = Files.createTempDirectory("graftdb-vtime").toString
    val vc = GraftDB.virtualClock()
    val db = new GraftDB(spark, schemaYaml, dir, vc)
    // the clock reaches the batch's max ts — data time, not the wall
    db.insert("inbound", points())
    assert(vc() === T0 + 7000)
    val q = "SELECT requests FROM combined GROUP BY server, period(5m)"
    assert(db.sql(q).collect().nonEmpty)
    // two hours of DATA time later the first batch ages past the 1h
    // retention, even though zero wall time passed
    val shifted = points().withColumn("ts",
      timestamp_millis(unix_millis(col("ts")) + lit(7200000L)))
    db.insert("inbound", shifted)
    assert(vc() === T0 + 7200000L + 7000)
    val times = db.sql(q).collect()
      .map(_.getAs[java.sql.Timestamp]("_time").getTime)
    assert(times.nonEmpty, "the fresh batch must survive")
    assert(times.forall(_ >= vc() - 3600000L),
      s"rows older than retention-vs-data-time survived: ${times.toSeq}")
    // monotonic: replaying an old batch never moves the clock backwards
    db.insert("inbound", points())
    assert(vc() === T0 + 7200000L + 7000)
  }
  test("schema-declared annindex: registered at boot, SIMSEARCH from db.sql, live ALTER") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val idxDir = Files.createTempDirectory("db-ann-schema").toString
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, s"$idxDir/ivf")
    graft.pipeline.Similarity.ivfPqBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, m = 3, k = 8, s"$idxDir/pq")
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = q.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    // boot with one table + one declared index — no Scala registration call
    val db = new GraftDB(spark,
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY server, period(5m)
         |vec_idx:
         |  annindex: $idxDir/ivf
         |  annvec: embedding
         |  annid: vec_id
         |""".stripMargin,
      Files.createTempDirectory("db-ann-store").toString, () => T0)
    val hits = db.sql(
      s"""SELECT score FROM SIMSEARCH('vec_idx', [$vecLit], 3, 4)
         |WHERE label IN (0, 1) GROUP BY id ORDER BY id""".stripMargin)
      .collect()
    assert(hits.length == 3)
    // the nearest neighbor of vec 0 under a full-coverage probe is itself
    assert(hits.map(_.getAs[Long]("id")).contains(0L))
    // live ALTER adds a PQ-backed index (ADC-only; no base table): the
    // dialect picks the kind up from the index's own meta
    db.alter(
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY server, period(5m)
         |vec_idx:
         |  annindex: $idxDir/ivf
         |  annvec: embedding
         |  annid: vec_id
         |pq_idx:
         |  annindex: $idxDir/pq
         |  annvec: embedding
         |  annid: vec_id
         |""".stripMargin)
    val adc = db.sql(
      s"""SELECT score FROM SIMSEARCH('pq_idx', [$vecLit], 3, 4)
         |GROUP BY id ORDER BY id""".stripMargin).collect()
    assert(adc.length == 3)
    // the original registration still resolves after the ALTER
    assert(db.sql(
      s"""SELECT score FROM SIMSEARCH('vec_idx', [$vecLit], 3, 4)
         |GROUP BY id ORDER BY id""".stripMargin).collect().length == 3)
    // an ALTER that DROPS a schema-declared annindex detaches its
    // registration (the table-detach analogue; the index files stay)
    db.alter(
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY server, period(5m)
         |pq_idx:
         |  annindex: $idxDir/pq
         |  annvec: embedding
         |  annid: vec_id
         |""".stripMargin)
    val gone = intercept[IllegalArgumentException] {
      db.sql(s"SELECT score FROM SIMSEARCH('vec_idx', [$vecLit], 3, 4) GROUP BY id")
        .collect()
    }
    assert(gone.getMessage.contains("not registered"), gone.getMessage)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idxDir/ivf"))) // files untouched
    // ...while a PROGRAMMATIC registration survives schema reloads
    db.registerAnnIndex("prog_idx", s"$idxDir/ivf", "embedding", "vec_id")
    db.alter(
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY server, period(5m)
         |""".stripMargin)
    assert(db.sql(
      s"""SELECT score FROM SIMSEARCH('prog_idx', [$vecLit], 3, 4)
         |GROUP BY id ORDER BY id""".stripMargin).collect().length == 3)
  }

  test("maintenance GC: reader leases pin superseded generations until drained") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a fragmented near-dup index: three appended admit rounds leave >1
    // file per prefix, so the first tick compacts (flip to -g1) and later
    // ticks report ok — deterministic, no clustering physics involved
    val idx = Files.createTempDirectory("gc-lease-idx").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"lease seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 2) {
      val batch = (0L until 20L).map(i => (1000L * r + i, s"round $r doc $i"))
        .toDF("doc_id", "text")
      graft.pipeline.Dedup.nearDupIncremental(batch, col("text"),
        col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    }
    val rowsBefore = spark.read.parquet(idx).count()
    val db = new GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      Files.createTempDirectory("gc-lease-db").toString, () => T0)
    db.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)
    // an in-flight reader of the CURRENT generation takes a lease before
    // the flip (the automated analogue: preQuery pins SIMSEARCH paths)
    val lease = db.pinPath(idx)
    val t1 = db.maintenanceTick()
    assert(t1.exists { case (n, s) => n == "nd" && s == s"compacted -> $idx-g1" },
      t1.toString)
    // tick 2: the superseded generation is pending GC but LEASED — it must
    // survive, and the reader completes against it
    val t2 = db.maintenanceTick()
    assert(t2.exists { case (n, s) => n == "nd" && s.startsWith("ok") },
      t2.toString)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "leased old generation must survive GC ticks")
    assert(spark.read.parquet(idx).count() === rowsBefore,
      "reader of the pinned old generation must complete")
    lease.close()
    // the read above also took an EXECUTION pin (released at SQL-execution
    // end, asynchronously on the listener bus) — await quiescence with a
    // bound instead of racing the bus, like the exec-pin specs do
    val quiesce = System.nanoTime() + 60L * 1000000000L
    while (db.leaseCount(idx) > 0 && System.nanoTime() < quiesce)
      Thread.sleep(10)
    assert(db.leaseCount(idx) === 0)
    // next tick after the lease drains: the old generation is GC'd
    db.maintenanceTick()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "unleased old generation must be GC'd on the following tick")
    assert(spark.read.parquet(s"$idx-g1").count() === rowsBefore)
  }

  test("SIMSEARCH queries hold a reader lease across a maintenance flip") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("gc-query-idx").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = q.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val db = new GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      Files.createTempDirectory("gc-query-db").toString, () => T0)
    db.registerAnnIndex("vidx", idx, "embedding", "vec_id")
    // scanBudget 0: every tick re-clusters — each tick is a flip, the
    // worst case for readers of the just-superseded generation
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 2, scanBudget = 0.0, gcOldGenerations = true)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    db.queryHook = q => if (q.contains("SIMSEARCH")) {
      entered.countDown(); release.await()
    }
    @volatile var rows: Array[org.apache.spark.sql.Row] = null
    val qt = new Thread(() => {
      rows = db.sqlTimed(
        s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id",
        120000L)
    })
    qt.start()
    try {
      assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // the in-flight query pinned the path it resolved
      assert(db.leaseCount(idx) === 1)
      val t1 = db.maintenanceTick() // flip: idx -> idx-g1
      assert(t1.exists { case (n, s) =>
        n == "vidx" && s == s"re-clustered -> $idx-g1" }, t1.toString)
      db.maintenanceTick() // would GC idx — but the query's lease pins it
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
        "generation pinned by an in-flight query must survive the tick")
    } finally {
      release.countDown()
      db.queryHook = _ => ()
    }
    qt.join(120000L)
    assert(rows != null && rows.length == 3, "spanning query must complete")
    // the query's issue lease released synchronously at sqlTimed's return;
    // its EXECUTION pin releases at SQL-execution end on the async listener
    // bus — await quiescence with a bound instead of racing the bus
    val quiesce = System.nanoTime() + 60L * 1000000000L
    while (db.leaseCount(idx) > 0 && System.nanoTime() < quiesce)
      Thread.sleep(10)
    assert(db.leaseCount(idx) === 0)
    // with the lease drained, the following tick GC's the old generation
    db.maintenanceTick()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "old generation must be GC'd once the spanning query drained")
  }

  test("force_fresh drains enrolled index maintenance streams before SIMSEARCH") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(23)
    // seed vectors cluster near the origin; the streamed vector sits far
    // away on its own axis, so a probe AT that vector ranks it first iff
    // the stream's append is visible
    val seed = (0L until 30L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("fresh-idx").toString + "/i"
    val ckpt = Files.createTempDirectory("fresh-ckpt").toString
    graft.pipeline.Similarity.ivfBuildIfMissing(seed, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q0 = graft.streaming.AnnIndexStream.attachIvf(
      mem.toDF().toDF("vec_id", "embedding"), col("embedding"),
      col("vec_id"), idx, ckpt)
    val db = new GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      Files.createTempDirectory("fresh-db").toString, () => T0)
    db.registerAnnIndex("vidx", idx, "embedding", "vec_id")
    // enrolled but never over budget: the stream handle is what matters
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, stream = Some(q0))
    try {
      val novel = Seq.tabulate(6)(d => if (d == 0) 50.0f else 0.0f)
      mem.addData(Seq((9999L, novel.toSeq)))
      // no processAllAvailable here: `-- force_fresh` must drain the
      // ENROLLED index stream itself (sql/sql.go:279-283 semantics)
      val vecLit = novel.map(f => new java.math.BigDecimal(f.toString)
        .toPlainString).mkString(",")
      val hits = db.sql(
        s"""SELECT score FROM SIMSEARCH('vidx', [$vecLit], 1, 4)
           |GROUP BY id -- force_fresh""".stripMargin).collect()
      assert(hits.length == 1)
      assert(hits(0).getAs[Long]("id") === 9999L,
        "force_fresh SIMSEARCH must see the vector delivered to the stream")
    } finally { q0.stop(); q0.awaitTermination() }
  }

  test("schema-declared maintenance: boot enrollment, ALTER attach/detach") {
    val idxDir = Files.createTempDirectory("schema-maint").toString
    def yaml(maintainLines: String) =
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY server, period(5m)
         |vec_idx:
         |  annindex: $idxDir/ivf
         |  annvec: embedding
         |  annid: vec_id
         |$maintainLines""".stripMargin
    val db = new GraftDB(spark,
      yaml("""  maintain: true
             |  maintainbudget: 0.6
             |  maintainnprobe: 3
             |""".stripMargin),
      Files.createTempDirectory("schema-maint-db").toString, () => T0)
    // declared at boot: enrolled without any Scala registration call
    assert(db.maintainedState("vec_idx").exists(_._1 == s"$idxDir/ivf"))
    // ALTER dropping the maintain option detaches the enrollment (the
    // SIMSEARCH registration itself stays — the entry is still declared)
    db.alter(yaml(""))
    assert(db.maintainedState("vec_idx").isEmpty)
    // re-attaching via ALTER with a PQ source enrolls the PQ family
    db.alter(yaml("""  maintain: true
                    |  maintainsource: corpus
                    |  maintaingc: true
                    |""".stripMargin))
    assert(db.maintainedState("vec_idx").exists(_._1 == s"$idxDir/ivf"))
    // a re-ALTER with the same declaration must NOT reset enrollment state
    db.alter(yaml("""  maintain: true
                    |  maintainsource: corpus
                    |  maintaingc: true
                    |""".stripMargin))
    assert(db.maintainedState("vec_idx").exists(_._1 == s"$idxDir/ivf"))
    // ...while a PROGRAMMATIC enrollment survives schema reloads untouched
    db.registerDedupMaintenance("prog_m", s"$idxDir/dedup")
    db.alter(yaml(""))
    assert(db.maintainedState("prog_m").isDefined)
    assert(db.maintainedState("vec_idx").isEmpty)
  }

  test("maintenance enrollment after restart resumes at the flipped generation") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val idx = Files.createTempDirectory("restart-gen").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"restart seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    def fragment(at: String, round: Int): Unit =
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * round + i, s"round $round doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), at, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    for (r <- 1 to 2) fragment(idx, r)
    val yaml =
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"
    val db1 = new GraftDB(spark, yaml,
      Files.createTempDirectory("restart-db1").toString, () => T0)
    db1.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)
    val flipTick = db1.maintenanceTick() // flip -> -g1
    val gcTick = db1.maintenanceTick() // GC the base generation
    // the tick statuses and the base's lease count name the cause if the
    // base ever survives (a failed flip, or a lease/execution pin on it)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      s"flip tick: $flipTick; GC tick: $gcTick; leases on base: ${db1.leaseCount(idx)}")
    // "restart": a fresh process re-enrolls with the DECLARED base path —
    // generation discovery must land on -g1, not the GC'd base
    val db2 = new GraftDB(spark, yaml,
      Files.createTempDirectory("restart-db2").toString, () => T0)
    db2.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)
    assert(db2.maintainedState("nd").exists(_._1 == s"$idx-g1"),
      db2.maintainedState("nd").toString)
    val t1 = db2.maintenanceTick()
    assert(t1.exists { case (n, s) => n == "nd" && s.startsWith("ok") },
      t1.toString)
    // the NEXT flip numbers off the discovered generation (-g2, not a
    // second -g1 clobbering the live copy)
    for (r <- 3 to 4) fragment(s"$idx-g1", r)
    val t2 = db2.maintenanceTick()
    assert(t2.exists { case (n, s) =>
      n == "nd" && s == s"compacted -> $idx-g2" }, t2.toString)
  }

  test("schema-declared maintenance resolves a flipped generation at boot") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("boot-gen").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    // simulate a pre-restart flip + GC: the live copy is -g1, base gone
    graft.pipeline.Similarity.indexCompactTo(spark, idx, s"$idx-g1")
    GraftDB.deleteRecursively(java.nio.file.Paths.get(idx))
    val db = new GraftDB(spark,
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY server, period(5m)
         |vidx:
         |  annindex: $idx
         |  annvec: embedding
         |  annid: vec_id
         |  maintain: true
         |  maintainbudget: 2.0
         |  maintainnprobe: 2
         |""".stripMargin,
      Files.createTempDirectory("boot-gen-db").toString, () => T0)
    assert(db.maintainedState("vidx").exists(_._1 == s"$idx-g1"))
    // the declared SIMSEARCH registration follows the discovered
    // generation too — the yaml's base path no longer exists
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = q.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val hits = db.sql(
      s"""SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4)
         |GROUP BY id ORDER BY id""".stripMargin).collect()
    assert(hits.length == 3)
    assert(hits.map(_.getAs[Long]("id")).contains(0L))
  }

  test("maintain: on a PQ index without maintainsource fails the tick with an actionable message") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idxDir = Files.createTempDirectory("pq-misconf").toString
    graft.pipeline.Similarity.ivfPqBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, m = 3, k = 8, s"$idxDir/pq")
    val db = new GraftDB(spark,
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY server, period(5m)
         |pq_idx:
         |  annindex: $idxDir/pq
         |  annvec: embedding
         |  annid: vec_id
         |  maintain: true
         |""".stripMargin,
      Files.createTempDirectory("pq-misconf-db").toString, () => T0)
    // the misconfiguration (no maintainsource -> enrolled as plain IVF)
    // must fail EVERY tick with the fix spelled out, not only the tick
    // that first crosses the probe budget
    val t = db.maintenanceTick()
    assert(t.exists { case (n, s) =>
      n == "pq_idx" && s.startsWith("error:") &&
        s.contains("maintainsource") }, t.toString)
  }

  test("restart after TWO GC'd flips resumes at the newest surviving generation") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val idx = Files.createTempDirectory("restart-gen2").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"gen2 seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    def fragment(at: String, round: Int): Unit =
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * round + i, s"g2 round $round doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), at, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    for (r <- 1 to 2) fragment(idx, r)
    val yaml =
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"
    val db1 = new GraftDB(spark, yaml,
      Files.createTempDirectory("gen2-db1").toString, () => T0)
    db1.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)
    db1.maintenanceTick() // flip -> -g1 (base queued for GC)
    fragment(s"$idx-g1", 3)
    db1.maintenanceTick() // GC base; flip -> -g2 (-g1 queued)
    db1.maintenanceTick() // GC -g1
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g2")))
    // "restart": only -g2 survives, with a HOLE at -g1 — a sequential
    // first-gap probe would resolve the deleted base and re-number the
    // next flip over the live -g2; sibling enumeration must land on -g2
    val db2 = new GraftDB(spark, yaml,
      Files.createTempDirectory("gen2-db2").toString, () => T0)
    db2.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)
    assert(db2.maintainedState("nd").exists(_._1 == s"$idx-g2"),
      db2.maintainedState("nd").toString)
    // the next flip numbers PAST the live generation (-g3, never a second
    // -g1/-g2 clobbering it)
    fragment(s"$idx-g2", 4)
    val t = db2.maintenanceTick()
    assert(t.exists { case (n, s) => n == "nd" && s == s"compacted -> $idx-g3" },
      t.toString)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g2")),
      "superseded -g2 awaits the NEXT tick's GC, not immediate deletion")
  }

  test("re-ALTER tunes maintain* options in place; the GC queue survives it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("alter-inplace").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    def yaml(budget: Double) =
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY server, period(5m)
         |vidx:
         |  annindex: $idx
         |  annvec: embedding
         |  annid: vec_id
         |  maintain: true
         |  maintainbudget: $budget
         |  maintainnprobe: 2
         |  maintaingc: true
         |""".stripMargin
    val db = new GraftDB(spark, yaml(0.0),
      Files.createTempDirectory("alter-inplace-db").toString, () => T0)
    // budget 0: the first tick re-clusters -> -g1, base queued for GC
    val t1 = db.maintenanceTick()
    assert(t1.exists { case (n, s) =>
      n == "vidx" && s == s"re-clustered -> $idx-g1" }, t1.toString)
    assert(db.maintainedStats("vidx")._3 === 1, "base must be queued for GC")
    // ALTER the budget on the SAME declared path: the spec updates in
    // place — generation state AND the queued GC work survive
    db.alter(yaml(5.0))
    assert(db.maintainedState("vidx").exists(_._1 == s"$idx-g1"),
      "re-ALTER must not reset the enrolled generation")
    val t2 = db.maintenanceTick()
    // the NEW budget is live without a restart (5.0 can never trigger) ...
    assert(t2.exists { case (n, s) => n == "vidx" && s.startsWith("ok") },
      t2.toString)
    // ... and the queued base generation was still GC'd, not orphaned
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "GC queue must survive the re-ALTER")
    assert(db.maintainedStats("vidx")._3 === 0)
  }

  test("schema detach hands queued generations to the orphan GC") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val idx = Files.createTempDirectory("orphan-gc").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"orphan seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 2)
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"orphan round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    val tableYaml =
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"
    // the dedup family is schema-declarable too: a `dedupindex:` entry is
    // the declarative twin of registerDedupMaintenance
    val db = new GraftDB(spark,
      s"""${tableYaml}nd_idx:
         |  dedupindex: $idx
         |  maintain: true
         |  maintainfiles: 1
         |  maintaingc: true
         |""".stripMargin,
      Files.createTempDirectory("orphan-db").toString, () => T0)
    assert(db.maintainedState("nd_idx").exists(_._1 == idx))
    val t1 = db.maintenanceTick()
    assert(t1.exists { case (n, s) =>
      n == "nd_idx" && s == s"compacted -> $idx-g1" }, t1.toString)
    // detach via ALTER mid-GC-queue: the queued base generation must not
    // be stranded — it moves to the orphan queue and the next tick (with
    // the enrollment GONE) still deletes it
    db.alter(tableYaml)
    assert(db.maintainedState("nd_idx").isEmpty)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "detach itself must not delete (readers may still be draining)")
    assert(db.orphanGcStats === ((1, 0)),
      "the orphaned generation must be visible on the metrics surface")
    val t2 = db.maintenanceTick()
    assert(t2.exists { case (n, s) => n == "_orphans" && s == "gc'd 1" },
      t2.toString)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "orphaned generation must be GC'd by the next tick")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")))
    assert(db.orphanGcStats === ((0, 0)))
  }

  test("the orphan GC queue survives a restart") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val idx = Files.createTempDirectory("orphan-restart").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"orphan seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 2)
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"orphan round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    val tableYaml =
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"
    val baseDir = Files.createTempDirectory("orphan-restart-db").toString
    val db = new GraftDB(spark,
      s"""${tableYaml}nd_idx:
         |  dedupindex: $idx
         |  maintain: true
         |  maintainfiles: 1
         |  maintaingc: true
         |""".stripMargin,
      baseDir, () => T0)
    val t1 = db.maintenanceTick()
    assert(t1.exists { case (n, s) =>
      n == "nd_idx" && s == s"compacted -> $idx-g1" }, t1.toString)
    // detach queues the superseded base to the orphan GC — then "crash"
    // before the next tick: the queue is in-memory, so without the durable
    // twin a restart would strand the dir forever (no enrollment remains
    // whose staleSiblings scan could re-derive it)
    db.alter(tableYaml)
    assert(db.orphanGcStats === ((1, 0)))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(baseDir, "_orphan_gc.txt")),
      "the orphan queue must have a durable twin on disk")
    // restart: a fresh GraftDB over the SAME baseDir, enrollment gone
    val db2 = new GraftDB(spark, tableYaml, baseDir, () => T0)
    assert(db2.orphanGcStats === ((1, 0)),
      "the reloaded queue must carry the orphaned generation")
    val t2 = db2.maintenanceTick()
    assert(t2.exists { case (n, s) => n == "_orphans" && s == "gc'd 1" },
      t2.toString)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "the orphaned generation must be reclaimed after the restart")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")),
      "the live generation must survive the orphan drain")
    assert(db2.orphanGcStats === ((0, 0)))
    // the durable twin drained with it: a THIRD boot reloads nothing and
    // an already-deleted reloaded path would drain as a no-op anyway
    val db3 = new GraftDB(spark, tableYaml, baseDir, () => T0)
    assert(db3.orphanGcStats === ((0, 0)),
      "a drained queue must not resurrect entries on the next boot")
  }

  test("re-enrollment quiesces a replaced index-maintenance stream") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val seed = (0L until 30L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val root = Files.createTempDirectory("quiesce-enroll").toString
    val idxA = s"$root/a"
    val idxB = s"$root/b"
    graft.pipeline.Similarity.ivfBuildIfMissing(seed, col("embedding"),
      col("vec_id"), nCentroids = 4, idxA)
    graft.pipeline.Similarity.ivfBuildIfMissing(seed, col("embedding"),
      col("vec_id"), nCentroids = 4, idxB)
    def attach(at: String, ckpt: String) = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      graft.streaming.AnnIndexStream.attachIvf(
        mem.toDF().toDF("vec_id", "embedding"), col("embedding"),
        col("vec_id"), at, ckpt)
    }
    val db = new GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      Files.createTempDirectory("quiesce-db").toString, () => T0)
    val q0 = attach(idxA, s"$root/ckpt0")
    db.registerAnnMaintenance("vidx", idxA, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, stream = Some(q0))
    assert(q0.isActive)
    // re-point the enrollment at a NEW base path: the old attached writer
    // must be stopped, not dropped — an unstopped stream would keep
    // appending to a directory the replacement just queued for GC
    db.registerAnnMaintenance("vidx", idxB, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0)
    assert(!q0.isActive,
      "re-pointing an enrollment must quiesce the replaced stream")
    // in-place stream handoff at the SAME path: attaching the same
    // instance again is a no-op; attaching a DIFFERENT stream stops the
    // one it replaces
    val q1 = attach(idxB, s"$root/ckpt1")
    db.registerAnnMaintenance("vidx", idxB, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, stream = Some(q1))
    db.registerAnnMaintenance("vidx", idxB, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, stream = Some(q1))
    assert(q1.isActive,
      "re-attaching the same stream instance must not stop it")
    val q2 = attach(idxB, s"$root/ckpt2")
    try {
      db.registerAnnMaintenance("vidx", idxB, "embedding", "vec_id",
        nProbe = 4, scanBudget = 2.0, stream = Some(q2))
      assert(!q1.isActive,
        "an in-place stream handoff must quiesce the stream it replaces")
      assert(q2.isActive)
    } finally { q2.stop(); q2.awaitTermination() }
  }

  test("an abandoned sql() frame's lease expires after the grace window") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("grace-lease").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val db = new GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      Files.createTempDirectory("grace-lease-db").toString, () => T0)
    db.registerAnnIndex("vidx", idx, "embedding", "vec_id")
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    System.setProperty("graft.queryLeaseGraceMillis", "1")
    try {
      // issue and ABANDON the frame (never executed): its lease must not
      // pin the generation forever — the grace sweep reclaims it
      db.sql(s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id")
      assert(db.leaseCount(idx) === 1)
      Thread.sleep(10)
      // the sweep runs from BOTH maintenanceTick and the next query's
      // preQuery — a db with no maintenance enrollments still reclaims
      db.maintenanceTick()
      assert(db.leaseCount(idx) === 0,
        "grace-expired lease must be swept by the tick")
      db.sql(s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id")
      Thread.sleep(10)
      // an eager query both sweeps the abandoned hold in its preQuery and
      // releases its own pins at return
      db.sqlTimed(
        s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id",
        120000L)
      assert(db.leaseCount(idx) === 0,
        "grace-expired lease must be swept by the next query's preQuery")
    } finally System.clearProperty("graft.queryLeaseGraceMillis")
  }

  test("dropping maintain keeps SIMSEARCH on the flipped generation, not the GC'd base") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("detach-gen").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    def yaml(maintainLines: String) =
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY server, period(5m)
         |vidx:
         |  annindex: $idx
         |  annvec: embedding
         |  annid: vec_id
         |$maintainLines""".stripMargin
    val db = new GraftDB(spark,
      yaml("""  maintain: true
             |  maintainbudget: 0.0
             |  maintainnprobe: 2
             |  maintaingc: true
             |""".stripMargin),
      Files.createTempDirectory("detach-gen-db").toString, () => T0)
    db.maintenanceTick() // flip -> -g1, base queued
    db.maintenanceTick() // GC the base
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)))
    // ALTER drops `maintain:` but keeps the entry: the SIMSEARCH
    // registration must resolve the surviving generation, not revert to
    // the yaml base path (which no longer exists)
    db.alter(yaml(""))
    assert(db.maintainedState("vidx").isEmpty)
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = q.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val hits = db.sql(
      s"""SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4)
         |GROUP BY id ORDER BY id""".stripMargin).collect()
    assert(hits.length == 3)
    assert(hits.map(_.getAs[Long]("id")).contains(0L))
  }

  test("a flip between lease and planning cannot divert the query (pin-vs-flip)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    def corpus(baseId: Long) = (0L until 40L).map { i =>
      (baseId + i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val a = corpus(0L)
    val b = corpus(1000L)
    val dir = Files.createTempDirectory("pin-flip").toString
    graft.pipeline.Similarity.ivfBuildIfMissing(a, col("embedding"),
      col("vec_id"), nCentroids = 4, s"$dir/a")
    graft.pipeline.Similarity.ivfBuildIfMissing(b, col("embedding"),
      col("vec_id"), nCentroids = 4, s"$dir/b")
    val db = new GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      Files.createTempDirectory("pin-flip-db").toString, () => T0)
    db.registerAnnIndex("vidx", s"$dir/a", "embedding", "vec_id")
    // the hook fires AFTER the leases pin the snapshot and BEFORE the
    // engine plans — the exact window a maintenance flip could land in.
    // Re-pointing the registry here must not divert the in-flight query.
    db.queryHook = q => if (q.contains("SIMSEARCH")) {
      db.registerAnnIndex("vidx", s"$dir/b", "embedding", "vec_id")
      assert(db.leaseCount(s"$dir/a") === 1,
        "the in-flight query must hold its lease through the flip window")
    }
    try {
      val qv = a.filter(col("vec_id") === 0).select(col("embedding"))
        .collect()(0).getSeq[Float](0)
      val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
        .toPlainString).mkString(",")
      val rows = db.sqlTimed(
        s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id",
        120000L)
      assert(rows.length == 3)
      // every hit comes from corpus A (ids < 1000): the scanned path is
      // the LEASED path, not the re-pointed registry entry
      assert(rows.map(_.getAs[Long]("id")).forall(_ < 1000L),
        rows.map(_.getAs[Long]("id")).toSeq.toString)
    } finally db.queryHook = _ => ()
    assert(db.leaseCount(s"$dir/a") === 0)
    // AFTER the in-flight query drained, new queries follow the registry
    val qb = b.filter(col("vec_id") === 1000L).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLitB = qb.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val rowsB = db.sqlTimed(
      s"SELECT score FROM SIMSEARCH('vidx', [$vecLitB], 3, 4) GROUP BY id",
      120000L)
    assert(rowsB.map(_.getAs[Long]("id")).forall(_ >= 1000L))
  }

  test("a lazily consumed sql() frame holds its lease across ticks until executed") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("lazy-lease").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val db = new GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      Files.createTempDirectory("lazy-lease-db").toString, () => T0)
    db.registerAnnIndex("vidx", idx, "embedding", "vec_id")
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 2, scanBudget = 0.0, gcOldGenerations = true)
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    // issue the frame but do NOT execute it yet
    val df = db.sql(
      s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id")
    assert(db.leaseCount(idx) === 1, "an issued frame must hold its lease")
    db.maintenanceTick() // flip -> -g1, base queued for GC
    db.maintenanceTick() // would GC the base — the frame's lease pins it
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "generation pinned by an unexecuted frame must survive ticks")
    // executing the frame TWO ticks after issue still scans a live path
    val rows = df.collect()
    assert(rows.length == 3)
    // the execution listener releases the lease (async via the listener
    // bus — poll briefly)
    val deadline = System.currentTimeMillis() + 30000
    while (db.leaseCount(idx) > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(db.leaseCount(idx) === 0,
      "execution completion must release the frame's lease")
    db.maintenanceTick()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "drained generation must be GC'd on the following tick")
  }

  test("generation GC captures failures per path: later entries still delete") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val idx = Files.createTempDirectory("gc-perpath").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"perpath seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    def fragment(at: String, round: Int): Unit =
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * round + i, s"pp round $round doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), at, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    for (r <- 1 to 2) fragment(idx, r)
    val db = new GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      Files.createTempDirectory("gc-perpath-db").toString, () => T0)
    db.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)
    db.maintenanceTick() // flip -> -g1, queue [base]
    fragment(s"$idx-g1", 3)
    // make the BASE's delete fail: with the queue at [base, -g1] the tick
    // must re-queue only base, still delete -g1, and surface the error
    db.gcDeleteHook = p => if (p == idx)
      throw new RuntimeException("simulated delete failure")
    try {
      val t2 = db.maintenanceTick() // GC attempt [base] fails; flip -> -g2
      assert(t2.exists { case (n, s) =>
        n == "nd" && s.startsWith(s"compacted -> $idx-g2") &&
          s.contains("gc errors:") }, t2.toString)
      val t3 = db.maintenanceTick() // frees [base(fails again), -g1]
      assert(t3.exists { case (n, s) =>
        n == "nd" && s.contains("gc errors:") }, t3.toString)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")),
        "entries after a failing delete must still be deleted")
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
        "the failing path stays on disk, re-queued")
      assert(db.maintainedStats("nd")._3 === 1, "failing path re-queued")
    } finally db.gcDeleteHook = _ => ()
    // once the failure clears, the re-queued path drains
    db.maintenanceTick()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)))
    assert(db.maintainedStats("nd")._3 === 0)
  }

  test("a transiently failed GC delete never claims the next flip's dest") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // live generation at -g1 (base long GC'd); crash debris at -g2 — the
    // exact number the NEXT flip will rebuild into
    val idx = Files.createTempDirectory("gc-vs-dest").toString + "/i"
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(
      (0L until 30L).map(i => (i, s"gcd seed text $i")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), s"$idx-g1", n = 1, numHashes = 64,
      bands = 32)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$idx-g2"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx-g2", "part-stale.parquet"), "junk")
    for (r <- 1 to 2)
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"gcd round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), s"$idx-g1", n = 1, numHashes = 64,
        bands = 32, threshold = 0.9, admit = true)
    val db = new GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      Files.createTempDirectory("gc-vs-dest-db").toString, () => T0)
    db.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)
    assert(db.maintainedState("nd").exists(_._1 == s"$idx-g1"))
    assert(db.maintainedStats("nd")._3 === 1, "debris -g2 must be queued")
    val rows = spark.read.parquet(s"$idx-g1").count()
    // the debris delete fails transiently in the SAME tick that compacts:
    // dest numbering must SKIP the still-on-disk debris number (rebuilding
    // into -g2 would leave the re-queued path naming the live generation,
    // which the next tick would delete)
    db.gcDeleteHook = p =>
      if (p == s"$idx-g2") throw new RuntimeException("transient fs error")
    try {
      val t1 = db.maintenanceTick()
      assert(t1.exists { case (n, s) =>
        n == "nd" && s.startsWith(s"compacted -> $idx-g3") &&
          s.contains("gc errors") }, t1.toString)
    } finally db.gcDeleteHook = _ => ()
    assert(db.maintainedState("nd").exists(_._1 == s"$idx-g3"),
      s"dest must skip the queued debris number (got ${db.maintainedState("nd")})")
    assert(db.maintainedStats("nd")._3 === 2,
      s"the re-queued debris AND the superseded -g1 await GC " +
        s"(got ${db.maintainedStats("nd")})")
    db.maintenanceTick()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")),
      "superseded -g1 must be GC'd")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g2")),
      "the debris must drain once the failure clears")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g3")),
      "the live generation must survive the tick after the failed delete")
    assert(spark.read.parquet(s"$idx-g3").count() === rows)
    assert(db.maintainedStats("nd")._3 === 0)
  }

  test("a detach landing mid-pass hands the flip's queued generation to the orphan GC") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val idx = Files.createTempDirectory("midpass-detach").toString + "/i"
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(
      (0L until 30L).map(i => (i, s"mpd seed text $i")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 2)
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"mpd round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    val tableYaml =
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"
    val db = new GraftDB(spark,
      s"""${tableYaml}nd_idx:
         |  dedupindex: $idx
         |  maintain: true
         |  maintainfiles: 1
         |  maintaingc: true
         |""".stripMargin,
      Files.createTempDirectory("midpass-detach-db").toString, () => T0)
    val t1 = db.maintenanceTick() // flip -> -g1; base queued
    assert(t1.exists { case (n, s) =>
      n == "nd_idx" && s == s"compacted -> $idx-g1" }, t1.toString)
    for (r <- 3 to 4) // fragment -g1 so the NEXT tick compacts again
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"mpd round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), s"$idx-g1", n = 1, numHashes = 64,
        bands = 32, threshold = 0.9, admit = true)
    // the next tick GCs the base (hook fires) and then compacts -g1 into
    // -g2; the ALTER inside the hook detaches the enrollment MID-PASS, so
    // the pass's own `pendingDeletes += -g1` lands on an unreachable
    // state — the post-pass handoff must move it to the orphan GC
    var fired = false
    db.gcDeleteHook = _ => if (!fired) { fired = true; db.alter(tableYaml) }
    try {
      val t2 = db.maintenanceTick()
      assert(t2.exists { case (n, s) =>
        n == "nd_idx" && s == s"compacted -> $idx-g2" }, t2.toString)
    } finally db.gcDeleteHook = _ => ()
    assert(fired, "the detach must have landed during the pass")
    assert(db.maintainedState("nd_idx").isEmpty)
    assert(db.orphanGcStats === ((1, 0)),
      "the mid-pass flip's superseded generation must reach the orphan GC")
    val t3 = db.maintenanceTick()
    assert(t3.exists { case (n, s) => n == "_orphans" && s == "gc'd 1" },
      t3.toString)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")),
      "the orphaned -g1 must be reclaimed with the enrollment gone")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g2")))
  }

  test("a mid-pass ANN detach re-points SIMSEARCH to the pass's final generation") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(73)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("midpass-ann").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val tableYaml =
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"
    def yaml(maintainLines: String) =
      s"""${tableYaml}vidx:
         |  annindex: $idx
         |  annvec: embedding
         |  annid: vec_id
         |$maintainLines""".stripMargin
    val enrolled = yaml(
      "  maintain: true\n  maintainbudget: 0.0\n  maintainnprobe: 2\n  maintaingc: true\n")
    val db = new GraftDB(spark, enrolled,
      Files.createTempDirectory("midpass-ann-db").toString, () => T0)
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val sql =
      s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id"
    val t1 = db.maintenanceTick() // budget 0: flip -> -g1, base queued
    assert(t1.exists { case (n, s) =>
      n == "vidx" && s == s"re-clustered -> $idx-g1" }, t1.toString)
    // the ALTER inside the GC hook detaches maintain: MID-PASS — the
    // re-registration resolves the then-current -g1, and the pass then
    // flips to -g2 without owning the enrollment (repoint skipped). The
    // post-pass handoff must notice the registration points at a path the
    // pass superseded and re-point it to the final generation.
    var fired = false
    db.gcDeleteHook = _ =>
      if (!fired) { fired = true; db.alter(yaml("")) }
    try {
      val t2 = db.maintenanceTick()
      assert(t2.exists { case (n, s) =>
        n == "vidx" && s == s"re-clustered -> $idx-g2" }, t2.toString)
    } finally db.gcDeleteHook = _ => ()
    assert(fired)
    assert(db.maintainedState("vidx").isEmpty)
    assert(db.orphanGcStats === ((1, 0)),
      "the superseded -g1 must be queued as an orphan")
    assert(db.sqlTimed(sql, 120000L).length == 3)
    val t3 = db.maintenanceTick()
    assert(t3.exists { case (n, s) => n == "_orphans" && s == "gc'd 1" },
      s"the orphan must drain — a still-serving registration would pin it " +
        s"forever (got $t3)")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g2")))
    assert(db.sqlTimed(sql, 120000L).length == 3,
      "SIMSEARCH must serve the pass's final generation after the drain")
  }

  test("zero-padded generation dirs resolve and GC as themselves") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // an externally restored copy named -g01: discovery must serve the
    // ACTUAL directory (not a re-spelled -g1 that doesn't exist), and the
    // stale-sibling scan must agree it is the active generation
    val idx = Files.createTempDirectory("zero-pad").toString + "/i"
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(
      (0L until 30L).map(i => (i, s"zp seed text $i")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), s"$idx-g01", n = 1, numHashes = 64,
      bands = 32)
    val db = new GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      Files.createTempDirectory("zero-pad-db").toString, () => T0)
    db.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 16,
      gcOldGenerations = true)
    assert(db.maintainedState("nd").exists(_._1 == s"$idx-g01"),
      s"discovery must keep the listed suffix (got ${db.maintainedState("nd")})")
    assert(db.maintainedStats("nd")._3 === 0,
      "the active generation must not be queued for its own deletion")
    val t1 = db.maintenanceTick()
    assert(t1.exists { case (n, s) => n == "nd" && s.startsWith("ok") },
      t1.toString)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g01")),
      "the serving directory must survive the tick")
    assert(spark.read.parquet(s"$idx-g01").count() === 30L)
  }

  test("maintainfiles below 1 is rejected at parse") {
    val e = intercept[IllegalArgumentException] {
      new GraftDB(spark,
        """combined:
          |  sql: >
          |    SELECT requests FROM inbound GROUP BY server, period(5m)
          |nd_idx:
          |  dedupindex: /tmp/nowhere
          |  maintain: true
          |  maintainfiles: 0
          |""".stripMargin,
        Files.createTempDirectory("maintfiles-zero").toString, () => T0)
    }
    assert(e.getMessage.contains("maintainfiles must be >= 1"), e.getMessage)
  }

  test("the GC queue is restart-durable: a fresh enrollment re-queues stale generations") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val idx = Files.createTempDirectory("gc-restart").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"gcr seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 2)
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"gcr round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    val yaml =
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"
    val db1 = new GraftDB(spark, yaml,
      Files.createTempDirectory("gcr-db1").toString, () => T0)
    db1.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)
    db1.maintenanceTick() // flip -> -g1; base QUEUED but not yet GC'd
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)))
    // a crashed flip's incomplete dest is also disk garbage
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$idx-g7"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx-g7", "part-stale.parquet"), "junk")
    // "restart" between the flip and its GC: the in-memory queue is gone —
    // the fresh enrollment must re-derive it from disk or the base (and
    // the crash debris) leak forever
    val db2 = new GraftDB(spark, yaml,
      Files.createTempDirectory("gcr-db2").toString, () => T0)
    db2.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)
    assert(db2.maintainedState("nd").exists(_._1 == s"$idx-g1"))
    assert(db2.maintainedStats("nd")._3 === 2,
      "superseded base + incomplete -g7 must be re-queued after restart")
    db2.maintenanceTick()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "re-queued base generation must be GC'd")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g7")),
      "crashed-flip debris must be GC'd")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")))
  }

  test("seeded lifecycle fuzz: random flip/GC/pin/restart schedules never lose index rows") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val yaml =
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"
    for (fseed <- Seq(101, 202)) {
      val rnd = new scala.util.Random(fseed)
      val idx = Files.createTempDirectory(s"lc-fuzz-$fseed").toString + "/i"
      graft.pipeline.Dedup.buildNearDupIndexIfMissing(
        (0L until 30L).map(i => (i, s"fuzz seed $fseed base doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
      var db = new GraftDB(spark, yaml,
        Files.createTempDirectory(s"lc-fuzz-db-$fseed").toString, () => T0)
      db.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
        gcOldGenerations = true)
      def active: String = db.maintainedState("nd").get._1
      def count(): Long = spark.read.parquet(active).count()
      var last = count()
      var round = 0
      val pins = scala.collection.mutable.Buffer.empty[AutoCloseable]
      for (op <- 1 to 12) {
        rnd.nextInt(5) match {
          case 0 | 1 => // append: maximally distinct texts, all rows admit
            round += 1
            graft.pipeline.Dedup.nearDupIncremental(
              (0L until 20L).map(i => (fseed * 100000L + round * 100L + i,
                s"fz s$fseed r$round d$i x${rnd.nextLong()}"))
                .toDF("doc_id", "text"),
              col("text"), col("doc_id"), active, n = 1, numHashes = 64,
              bands = 32, threshold = 0.9, admit = true)
            val c = count()
            assert(c > last, s"seed $fseed op $op: append lost rows")
            last = c
          case 2 => // maintenance tick: a flip must preserve every row
            db.maintenanceTick()
            assert(count() === last,
              s"seed $fseed op $op: tick changed the row count")
          case 3 => // pin the current active / release the oldest pin
            if (pins.nonEmpty && rnd.nextBoolean()) pins.remove(0).close()
            else pins += db.pinPath(active)
          case 4 => // restart: leases die with the process; discovery +
            // the re-derived GC queue must carry the schedule forward.
            // The embedder contract closes the old instance first (quiesce
            // writers, release pins, drop the exec-pin listener) — doing it
            // here puts close() itself under the fuzz's random schedules
            pins.foreach(_.close()); pins.clear()
            db.close()
            db = new GraftDB(spark, yaml,
              Files.createTempDirectory(s"lc-fuzz-db-$fseed-$op").toString,
              () => T0)
            db.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
              gcOldGenerations = true)
            assert(count() === last,
              s"seed $fseed op $op: restart changed the row count")
        }
      }
      // drain: release every pin, tick twice — exactly the live generation
      // remains on disk, nothing pending, nothing leaked
      pins.foreach(_.close()); pins.clear()
      db.maintenanceTick(); db.maintenanceTick()
      assert(count() === last, s"seed $fseed: drain changed the row count")
      assert(db.maintainedStats("nd")._3 === 0,
        s"seed $fseed: pendingGc must be empty after the drain")
      val base = java.nio.file.Paths.get(idx)
      val prefix = base.getFileName.toString + "-g"
      val survivors = {
        val st = java.nio.file.Files.list(base.getParent)
        try {
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          val it = st.iterator()
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            if (n == base.getFileName.toString || n.startsWith(prefix)) b += n
          }
          b.toSeq
        } finally st.close()
      }
      val activeName = java.nio.file.Paths.get(active).getFileName.toString
      assert(survivors == Seq(activeName),
        s"seed $fseed: expected only $activeName on disk, found $survivors")
    }
  }

  test("concurrent soak: SIMSEARCH queries race constant flips, GC and re-ALTERs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("soak-idx").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    def yaml(budget: Double) =
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY server, period(5m)
         |vidx:
         |  annindex: $idx
         |  annvec: embedding
         |  annid: vec_id
         |  maintain: true
         |  maintainbudget: $budget
         |  maintainnprobe: 2
         |  maintaingc: true
         |""".stripMargin
    // budget 0: EVERY tick re-clusters — each one a flip, the worst case
    // for concurrent readers of the just-superseded generation
    val db = new GraftDB(spark, yaml(0.0),
      Files.createTempDirectory("soak-db").toString, () => T0)
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val sql =
      s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id"
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // maintenance thread: back-to-back flip+GC ticks
    val maint = new Thread(() => {
      try for (_ <- 1 to 6 if !stop.get()) db.maintenanceTick()
      catch { case t: Throwable => failures.add(t) }
      finally stop.set(true)
    }, "soak-maint")
    // alter thread: live spec churn through the in-place enroll path
    // (budget stays 0.0-equivalent only while ticking; the final ALTER
    // parks it at 5.0 so the soak ends quiescent)
    val alter = new Thread(() => {
      try while (!stop.get()) { db.alter(yaml(0.0)); Thread.sleep(40) }
      catch { case t: Throwable => failures.add(t) }
    }, "soak-alter")
    val queryThreads = (1 to 3).map(ti => new Thread(() => {
      try {
        var n = 0
        while (!stop.get() || n == 0) {
          val rows = db.sqlTimed(sql, 120000L)
          if (rows.length != 3)
            failures.add(new AssertionError(
              s"thread $ti got ${rows.length} rows"))
          n += 1
        }
      } catch { case t: Throwable => failures.add(t) }
    }, s"soak-query-$ti"))
    // lazy-frame thread: issues a frame, lets flips/GC land under it
    // (issue lease holds the planned generation), then executes a DERIVED
    // frame (exec-pin listener path) before the frame's own first action
    // (issue-lease release path) — the r19 lease-transfer machinery under
    // the same constant-flip race as the eager readers
    val lazyThread = new Thread(() => {
      try {
        var n = 0
        while (!stop.get() || n == 0) {
          val df = db.sql(sql)
          Thread.sleep(60)
          val derived = df.limit(3).collect()
          if (derived.length != 3)
            failures.add(new AssertionError(
              s"lazy derived got ${derived.length} rows"))
          val direct = df.collect()
          if (direct.length != 3)
            failures.add(new AssertionError(
              s"lazy direct got ${direct.length} rows"))
          n += 1
        }
      } catch { case t: Throwable => failures.add(t) }
    }, "soak-lazy")
    maint.start(); alter.start(); queryThreads.foreach(_.start())
    lazyThread.start()
    maint.join(180000); stop.set(true)
    alter.join(30000); queryThreads.foreach(_.join(120000))
    lazyThread.join(120000)
    assert(!maint.isAlive && !alter.isAlive && !lazyThread.isAlive &&
      queryThreads.forall(!_.isAlive), "soak threads must drain")
    assert(failures.isEmpty,
      s"concurrent soak failures: ${failures.toArray.toSeq}")
    // quiesce: park the budget, drain the GC queue; the live generation
    // still serves exactly k rows. Exec-pin releases arrive on the
    // listener bus (async), so the drain is a bounded poll, not a fixed
    // tick count.
    db.alter(yaml(5.0))
    db.maintenanceTick()
    val drainDl = System.currentTimeMillis() + 60000
    while (db.maintainedStats("vidx")._3 != 0 &&
        System.currentTimeMillis() < drainDl) {
      Thread.sleep(100)
      db.maintenanceTick()
    }
    assert(db.sqlTimed(sql, 120000L).length == 3)
    assert(db.maintainedStats("vidx")._3 === 0,
      db.maintainedStats("vidx").toString)
  }

  test("seeded declarative-lifecycle fuzz: random yaml ALTER/restart schedules never leak or mis-serve") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    for (fseed <- Seq(303, 404, 505)) {
      val rnd = new scala.util.Random(fseed)
      val vrnd = new scala.util.Random(fseed + 1)
      val vecs = (0L until 40L).map { i =>
        (i, Seq.fill(6)((vrnd.nextGaussian() * 2).toFloat))
      }.toDF("vec_id", "embedding")
      val idx = Files.createTempDirectory(s"yaml-fuzz-$fseed").toString + "/i"
      graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
        col("vec_id"), nCentroids = 4, idx)
      val tableYaml =
        "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"
      def yaml(maintain: Boolean, budget: Double, gc: Boolean = true) =
        s"""${tableYaml}vidx:
           |  annindex: $idx
           |  annvec: embedding
           |  annid: vec_id
           |""".stripMargin + (if (maintain)
          s"""  maintain: true
             |  maintainbudget: $budget
             |  maintainnprobe: 2
             |  maintaingc: $gc
             |""".stripMargin else "")
      // ONE baseDir for the whole schedule: restarts must find the durable
      // orphan queue and re-derive generation state from disk
      val baseDir =
        Files.createTempDirectory(s"yaml-fuzz-db-$fseed").toString
      var current = yaml(maintain = true, budget = 0.0)
      var db = new GraftDB(spark, current, baseDir, () => T0)
      val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
        .collect()(0).getSeq[Float](0)
      val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
        .toPlainString).mkString(",")
      val sql =
        s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id"
      def assertServes(ctx: String): Unit = {
        val rows = db.sqlTimed(sql, 120000L)
        assert(rows.length == 3,
          s"seed $fseed $ctx: SIMSEARCH returned ${rows.length} rows")
      }
      assertServes("boot")
      // guarantee at least one flip is in play before the random schedule
      // (budget 0.0 re-clusters immediately): every seed then fuzzes with a
      // superseded generation queued, not just a clean base
      val t0 = db.maintenanceTick()
      assert(t0.exists { case (n, s) =>
        n == "vidx" && s == s"re-clustered -> $idx-g1" }, t0.toString)
      for (op <- 1 to 14) {
        rnd.nextInt(6) match {
          case 0 => // attach / re-tune: budget 0 flips on every tick,
            // budget 5 parks the enrollment — both through the yaml path
            current = yaml(maintain = true,
              budget = if (rnd.nextBoolean()) 0.0 else 5.0)
            db.alter(current)
          case 1 => // detach: queued generations move to the orphan GC;
            // the non-enrolled annindex entry must keep serving the
            // newest on-disk generation, never the (possibly GC'd) base
            current = yaml(maintain = false, budget = 0.0)
            db.alter(current)
          case 2 => db.maintenanceTick()
          case 3 => // restart over the SAME baseDir with the CURRENT yaml:
            // generation discovery + the durable orphan queue carry the
            // schedule forward across the process boundary
            db = new GraftDB(spark, current, baseDir, () => T0)
          case 4 => // GC OFF through the yaml: flips now strand superseded
            // generations with NO owner in any queue — the close-out's
            // gc-on re-enroll must re-derive them from disk (the r19
            // false->true in-place path or a fresh enroll's staleSiblings)
            current = yaml(maintain = true,
              budget = if (rnd.nextBoolean()) 0.0 else 5.0, gc = false)
            db.alter(current)
          case 5 => // persist blip: one tick with the durable twin's
            // rewrite failing (degradation recorded + reported), then a
            // healed tick — the idle retry must clear the flag whatever
            // state the queue is in
            db.orphanPersistHook =
              () => throw new java.io.IOException("fuzz blip")
            try db.maintenanceTick()
            finally db.orphanPersistHook = () => ()
            db.maintenanceTick()
            assert(db.orphanGcPersistError.isEmpty,
              s"seed $fseed op $op: persist blip must self-heal")
        }
        assertServes(s"op $op")
      }
      // close out: enroll parked with GC on, drain every queue, and
      // assert exactly the live generation remains on disk
      current = yaml(maintain = true, budget = 5.0)
      db.alter(current)
      db.maintenanceTick(); db.maintenanceTick(); db.maintenanceTick()
      assertServes("final")
      assert(db.maintainedStats("vidx")._3 === 0,
        s"seed $fseed: pendingGc must drain, got ${db.maintainedStats("vidx")}")
      assert(db.orphanGcStats === ((0, 0)),
        s"seed $fseed: orphan queue must drain, got ${db.orphanGcStats}")
      assert(db.orphanGcPersistError.isEmpty,
        s"seed $fseed: durable twin must be healthy at close-out, " +
          s"got ${db.orphanGcPersistError}")
      val active = db.maintainedState("vidx").get._1
      val base = java.nio.file.Paths.get(idx)
      val prefix = base.getFileName.toString + "-g"
      val survivors = {
        val st = java.nio.file.Files.list(base.getParent)
        try {
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          val it = st.iterator()
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            if (n == base.getFileName.toString || n.startsWith(prefix))
              b += n
          }
          b.toSeq
        } finally st.close()
      }
      val activeName = java.nio.file.Paths.get(active).getFileName.toString
      assert(survivors == Seq(activeName),
        s"seed $fseed: expected only $activeName on disk, found $survivors")
    }
  }

  // shared dedup-index fixture for the lifecycle specs below: a near-dup
  // index at `idx` fragmented enough that a maintainfiles: 1 tick compacts
  private def buildFragmentedNearDup(idx: String): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val seed = (0L until 30L).map(i => (i, s"lifecycle seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 2)
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"lifecycle round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
  }

  private val plainTableYaml =
    "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"

  private def dedupYaml(idx: String, gc: Boolean): String =
    s"""${plainTableYaml}nd_idx:
       |  dedupindex: $idx
       |  maintain: true
       |  maintainfiles: 1
       |  maintaingc: $gc
       |""".stripMargin

  test("re-ALTER turning maintaingc on re-queues generations superseded while GC was off") {
    val idx = Files.createTempDirectory("gc-flip-on").toString + "/i"
    buildFragmentedNearDup(idx)
    val db = new GraftDB(spark, dedupYaml(idx, gc = false),
      Files.createTempDirectory("gc-flip-on-db").toString, () => T0)
    val t1 = db.maintenanceTick()
    assert(t1.exists { case (n, s) =>
      n == "nd_idx" && s == s"compacted -> $idx-g1" }, t1.toString)
    // GC was off: the flip queued nothing, the superseded base survives
    assert(db.maintainedStats("nd_idx")._3 === 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)))
    // a live re-ALTER turning GC ON must re-derive the queue from disk —
    // without it the base stays stranded until a process restart rescans
    db.alter(dedupYaml(idx, gc = true))
    assert(db.maintainedStats("nd_idx")._3 === 1,
      "flipping maintaingc on must queue generations superseded while off")
    val t2 = db.maintenanceTick()
    assert(t2.exists { case (n, s) => n == "nd_idx" && s.startsWith("ok") },
      t2.toString)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      "the re-derived queue must drain the stranded base generation")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")))
  }

  test("a detach/re-enroll cycle never duplicates an orphan queue entry") {
    val idx = Files.createTempDirectory("orphan-dup").toString + "/i"
    buildFragmentedNearDup(idx)
    val baseDir = Files.createTempDirectory("orphan-dup-db").toString
    val db = new GraftDB(spark, dedupYaml(idx, gc = true), baseDir, () => T0)
    val t1 = db.maintenanceTick()
    assert(t1.exists { case (n, s) =>
      n == "nd_idx" && s == s"compacted -> $idx-g1" }, t1.toString)
    db.alter(plainTableYaml) // detach: base -> orphan queue
    assert(db.orphanGcStats === ((1, 0)))
    // re-enroll at the same path (staleSiblings re-queues the same base on
    // the fresh state), then detach again: the second handoff replays the
    // SAME directory — the queue must de-duplicate, not double-enter
    db.alter(dedupYaml(idx, gc = true))
    db.alter(plainTableYaml)
    assert(db.orphanGcStats === ((1, 0)),
      "a replayed orphan enqueue must be a no-op, not a duplicate entry")
    val t2 = db.maintenanceTick()
    assert(t2.exists { case (n, s) => n == "_orphans" && s == "gc'd 1" },
      t2.toString)
    assert(db.orphanGcStats === ((0, 0)))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")))
  }

  test("orphan queue entries persist relative to baseDir and survive a baseDir move") {
    val baseDir = Files.createTempDirectory("orphan-move-a").toString
    val idx = s"$baseDir/idx/i"
    buildFragmentedNearDup(idx)
    val db = new GraftDB(spark, dedupYaml(idx, gc = true), baseDir, () => T0)
    val t1 = db.maintenanceTick()
    assert(t1.exists { case (n, s) =>
      n == "nd_idx" && s == s"compacted -> $idx-g1" }, t1.toString)
    db.alter(plainTableYaml) // detach: base -> orphan queue
    assert(db.orphanGcStats === ((1, 0)))
    // entries under baseDir are persisted RELATIVE to it: a moved or
    // re-mounted store tree must still drain its own orphans instead of
    // stranding them as permanent no-op entries pointing at the old mount
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(baseDir, "_orphan_gc.txt"))
    assert(lines.size === 1 && lines.get(0) === "idx/i",
      s"expected a baseDir-relative entry, got $lines")
    val movedDir = Files.createTempDirectory("orphan-move-b").toString
    java.nio.file.Files.delete(java.nio.file.Paths.get(movedDir))
    java.nio.file.Files.move(java.nio.file.Paths.get(baseDir),
      java.nio.file.Paths.get(movedDir))
    val db2 = new GraftDB(spark, plainTableYaml, movedDir, () => T0)
    assert(db2.orphanGcStats === ((1, 0)),
      "the reloaded queue must resolve relative entries against the NEW baseDir")
    val t2 = db2.maintenanceTick()
    assert(t2.exists { case (n, s) => n == "_orphans" && s == "gc'd 1" },
      t2.toString)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(movedDir, "idx", "i")),
      "the moved store's stale generation must be reclaimed")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(movedDir, "idx", "i-g1")),
      "the moved store's live generation must survive the drain")
  }

  test("a spelled-differently serving registration still pins its orphaned dir") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val root = Files.createTempDirectory("orphan-spelling").toString
    val idxI = s"$root/i"
    val idxJ = s"$root/j"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idxI)
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idxJ)
    val db = new GraftDB(spark, plainTableYaml,
      Files.createTempDirectory("orphan-spelling-db").toString, () => T0)
    db.registerAnnMaintenance("vidx", idxI, "embedding", "vec_id",
      nProbe = 4, scanBudget = 0.0, gcOldGenerations = true)
    val t1 = db.maintenanceTick() // budget 0: flip -> -g1, base queued
    assert(t1.exists { case (n, s) =>
      n == "vidx" && s == s"re-clustered -> $idxI-g1" }, t1.toString)
    // re-point the enrollment at a different base: the old queue (holding
    // the superseded base $idxI) moves to the orphan GC
    db.registerAnnMaintenance("vidx", idxJ, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
    val (pending0, _) = db.orphanGcStats
    assert(pending0 >= 1, s"base must be orphaned, got ${db.orphanGcStats}")
    // an explicit SIMSEARCH registration serves the orphaned dir — spelled
    // with a redundant path segment. The serving guard compares CANONICAL
    // paths, so the spelling difference must not defeat the pin (a string
    // comparison would delete the directory out from under the queries)
    db.registerAnnIndex("probe", s"$root/./i", "embedding", "vec_id",
      quantized = false)
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val probeSql =
      s"SELECT score FROM SIMSEARCH('probe', [$vecLit], 3, 4) GROUP BY id"
    db.maintenanceTick()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idxI)),
      "a dir served under a different spelling must survive the drain")
    assert(db.sqlTimed(probeSql, 120000L).length === 3,
      "SIMSEARCH over the pinned spelling must keep working")
    // re-point the probe off the orphaned dir: the next drain reclaims it
    db.registerAnnIndex("probe", s"$idxI-g1", "embedding", "vec_id",
      quantized = false)
    db.maintenanceTick()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idxI)),
      "the orphan must drain once no registration serves it")
    assert(db.sqlTimed(probeSql, 120000L).length === 3)
  }

  test("orphan-queue persistence failure is loud and self-heals") {
    val idx = Files.createTempDirectory("orphan-persist").toString + "/i"
    buildFragmentedNearDup(idx)
    val db = new GraftDB(spark, dedupYaml(idx, gc = true),
      Files.createTempDirectory("orphan-persist-db").toString, () => T0)
    val t1 = db.maintenanceTick()
    assert(t1.exists { case (n, s) =>
      n == "nd_idx" && s == s"compacted -> $idx-g1" }, t1.toString)
    db.orphanPersistHook =
      () => throw new java.io.IOException("injected persist failure")
    try {
      db.alter(plainTableYaml) // detach: enqueue attempts a persist -> fails
      assert(db.orphanGcPersistError.exists(_.contains("injected")),
        s"a failed _orphan_gc.txt rewrite must be recorded, " +
          s"got ${db.orphanGcPersistError}")
      // the in-memory queue still drains, and the degraded durability is
      // visible on the tick's status row — not a silent catch-all swallow
      val t2 = db.maintenanceTick()
      assert(t2.exists { case (n, s) =>
        n == "_orphans" && s.startsWith("gc'd 1") &&
          s.contains("persist error: IOException: injected") }, t2.toString)
    } finally db.orphanPersistHook = () => ()
    // cause resolved: the next tick's idle retry rewrites the file and
    // clears the flag — no restart needed to restore durability
    val t3 = db.maintenanceTick()
    assert(db.orphanGcPersistError.isEmpty,
      "a successful rewrite must clear the persist-error flag")
    assert(!t3.exists(_._1 == "_orphans"),
      s"a healed queue must stop reporting the degradation (got $t3)")
  }

  test("an overlapping tick skips an in-flight pass without disturbing it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val root = Files.createTempDirectory("busy-skip").toString
    val idx = s"$root/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    // an incomplete junk sibling seeds the fresh enrollment's GC queue, so
    // tick A has a gcDelete to block on before its rebuild
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$idx-g1"))
    val db = new GraftDB(spark, plainTableYaml,
      Files.createTempDirectory("busy-skip-db").toString, () => T0)
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 0.0, gcOldGenerations = true)
    assert(db.maintainedStats("vidx")._3 === 1, "junk sibling must be queued")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    db.gcDeleteHook = p => if (p == s"$idx-g1") {
      entered.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
    }
    @volatile var tickA: Seq[(String, String)] = Nil
    val a = new Thread(() => { tickA = db.maintenanceTick() })
    try {
      a.start()
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // tick B overlaps A mid-pass: it must skip the claimed index — no
      // double compaction, no flip, no touch of A's claimed state
      val tickB = db.maintenanceTick()
      assert(tickB.exists { case (n, s) =>
        n == "vidx" && s == "busy (pass in flight)" }, tickB.toString)
      assert(db.maintainedState("vidx").exists(_._1 == idx),
        "the overlapping tick must not flip the in-flight index")
    } finally {
      release.countDown()
      a.join(120000)
      db.gcDeleteHook = _ => ()
    }
    // A owns the pass end-to-end: the junk sibling was GC'd BEFORE dest
    // numbering ran, so the rebuild lands on a fresh -g1 (no on-disk
    // sibling remains to skip) and the base is queued for the NEXT tick
    assert(tickA.exists { case (n, s) =>
      n == "vidx" && s == s"re-clustered -> $idx-g1" }, tickA.toString)
    assert(db.maintainedStats("vidx")._3 === 1, "base queued by A's flip")
    db.maintenanceTick()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")))
  }

  test("a derived frame executing across a flip and GC reads its pinned generation") {
    import org.apache.spark.sql.functions.{col, udf}
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("exec-pin").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val db = new GraftDB(spark, plainTableYaml,
      Files.createTempDirectory("exec-pin-db").toString, () => T0)
    db.registerAnnIndex("vidx", idx, "embedding", "vec_id",
      quantized = false)
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 0.0, gcOldGenerations = true)
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    System.setProperty("graft.queryLeaseGraceMillis", "1")
    try {
      // issue a frame against the BASE generation, then let its issue
      // lease expire (the r18 residual: past the grace window a derived
      // frame held nothing — a flip + GC killed it with FileNotFound)
      val df = db.sql(
        s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id")
      Thread.sleep(10)
      val t1 = db.maintenanceTick() // sweeps the lease; budget 0 flips
      assert(t1.exists { case (n, s) =>
        n == "vidx" && s == s"re-clustered -> $idx-g1" }, t1.toString)
      assert(db.leaseCount(idx) === 0, "the issue lease must be swept")
      assert(db.maintainedStats("vidx")._3 === 1, "base queued for GC")
      // stop further rebuilds (in-place budget retune) so later ticks are
      // GC-only — the spec is about the pin, not repeated flips
      db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
        nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
      // execute a DERIVED frame, held open mid-scan by a gate UDF: the
      // execution-start listener must re-pin the base generation the
      // frame's plan scans
      GraftDBSpecGate.latch = new java.util.concurrent.CountDownLatch(1)
      val gate = udf { d: Double =>
        val l = GraftDBSpecGate.latch
        if (l != null) l.await(60, java.util.concurrent.TimeUnit.SECONDS)
        d >= Double.MinValue
      }
      val derived = df.filter(gate(col("score")))
      @volatile var rows: Array[Row] = null
      @volatile var err: Throwable = null
      val runner = new Thread(() => {
        try rows = derived.collect()
        catch { case e: Throwable => err = e }
      })
      runner.start()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (db.leaseCount(idx) == 0 && err == null &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(err == null, s"derived execution failed early: $err")
      assert(db.leaseCount(idx) > 0,
        "execution start must pin the scanned generation")
      // a GC tick lands MID-EXECUTION: the pinned base must survive it
      db.maintenanceTick()
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
        "an in-flight execution's generation must not be GC'd")
      GraftDBSpecGate.latch.countDown()
      runner.join(120000)
      assert(err == null, s"derived execution failed: $err")
      assert(rows != null && rows.length === 3,
        "the derived frame must read the pinned generation end-to-end")
      // execution end releases the pin; the next tick reclaims the base
      val d2 = System.nanoTime() + 60L * 1000000000L
      while (db.leaseCount(idx) > 0 && System.nanoTime() < d2)
        Thread.sleep(10)
      assert(db.leaseCount(idx) === 0,
        "execution end must release the execution pin")
      db.maintenanceTick()
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
        "the base must be reclaimed once no execution reads it")
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")))
    } finally {
      System.clearProperty("graft.queryLeaseGraceMillis")
      val l = GraftDBSpecGate.latch
      GraftDBSpecGate.latch = null
      if (l != null) l.countDown()
    }
  }

  test("close() quiesces the db's writers and releases session hooks") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("close-db").toString
    val ckpt = Files.createTempDirectory("close-ckpt").toString
    val yaml =
      """st:
        |  sql: >
        |    SELECT v FROM s GROUP BY k, period(1s)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 100000)
    // an attached table-merge stream...
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val stream = mem.toDF().toDF("tsMs", "k", "v")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_millis($"tsMs"))
      .drop("tsMs")
    val tableQs = db.attachStream("s", stream, ckpt)
    mem.addData((T0, "x", 1.0), (T0 + 100, "y", 2.0))
    tableQs.foreach(_.processAllAvailable())
    // ...an enrolled index-maintenance stream...
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 30L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("close-idx").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val vmem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val annQ = graft.streaming.AnnIndexStream.attachIvf(
      vmem.toDF().toDF("vec_id", "embedding"), col("embedding"),
      col("vec_id"), idx, Files.createTempDirectory("close-annck").toString)
    db.registerAnnIndex("vidx", idx, "embedding", "vec_id",
      quantized = false)
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, stream = Some(annQ))
    // ...and an issued-but-never-executed frame holding its lease
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val simSql =
      s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id"
    db.sql(simSql)
    assert(db.leaseCount(idx) === 1)
    assert(tableQs.forall(_.isActive) && annQ.isActive)
    // close: every writer this db owns stops; leases release; state and
    // data survive (the reference's Close never deletes)
    db.close()
    assert(tableQs.forall(!_.isActive),
      "close() must quiesce attached table streams")
    assert(!annQ.isActive,
      "close() must quiesce enrolled index-maintenance streams")
    assert(db.leaseCount(idx) === 0,
      "close() must release issued frames' leases")
    assert(db.maintainedState("vidx").exists(_._1 == idx),
      "enrollment state survives close (only the writer is gone)")
    db.close() // idempotent
    // reads still work: the SparkSession is caller-owned
    assert(db.sqlTimed(simSql, 120000L).length === 3)
    assert(db.sql("SELECT v FROM st GROUP BY k").collect().nonEmpty)
  }

  test("flushAll drains attached streams into the queryable state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("flushall-db").toString
    val ckpt = Files.createTempDirectory("flushall-ckpt").toString
    val yaml =
      """st:
        |  sql: >
        |    SELECT v FROM s GROUP BY k, period(1s)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 100000)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val stream = mem.toDF().toDF("tsMs", "k", "v")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_millis($"tsMs"))
      .drop("tsMs")
    val qs = db.attachStream("s", stream, ckpt)
    try {
      mem.addData((T0, "x", 1.0), (T0 + 100, "x", 2.0))
      // no processAllAvailable, no force_fresh hint: flushAll alone must
      // make the delivered points queryable (the reference's DB.FlushAll)
      db.flushAll()
      val rows = db.sql("SELECT v FROM st GROUP BY k").collect()
      assert(rows.length === 1 && rows(0).getAs[Double]("v") === 3.0)
    } finally { db.close(); assert(qs.forall(!_.isActive)) }
  }

  test("tableStats counts insert dispositions like the reference") {
    import org.apache.spark.sql.functions.timestamp_millis
    import spark.implicits._
    val dir = Files.createTempDirectory("tstats-db").toString
    val yaml =
      """st:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT v FROM s WHERE k = 'keep' GROUP BY k, period(1s)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 100000)
    def batch(rows: (Long, String, Double)*) =
      rows.toSeq.toDF("tsMs", "k", "v")
        .withColumn("ts", timestamp_millis($"tsMs")).drop("tsMs")
    // 6 queued: 3 inserted, 2 filtered by the table WHERE, 1 inside the
    // WHERE but older than retention (WHERE is consulted first, like the
    // reference's insert path)
    db.insert("s", batch(
      (T0, "keep", 1.0), (T0 + 100, "keep", 2.0), (T0 + 200, "keep", 3.0),
      (T0 + 300, "drop", 4.0), (T0 + 400, "drop", 5.0),
      (T0 - 7200000L, "keep", 6.0)))
    assert(db.tableStats("st") ===
      graft.streaming.MaterializedTable.TableStats(6, 3, 2, 1))
    // counters accumulate across inserts (process-lifetime, reference
    // semantics) and surface through allTableStats/printTableStats
    db.insert("s", batch((T0 + 500, "keep", 7.0), (T0 + 600, "drop", 8.0)))
    assert(db.tableStats("st") ===
      graft.streaming.MaterializedTable.TableStats(8, 4, 3, 1))
    assert(db.allTableStats("st").queuedPoints === 8)
    val printed = db.printTableStats("st")
    assert(printed.contains("Filtered: 3") && printed.contains("Inserted: 4"),
      printed)
    // an unknown table reads as zeros, like the reference's nil-table path
    assert(db.tableStats("nope") ===
      graft.streaming.MaterializedTable.TableStats(0, 0, 0, 0))
    // and the merged store holds exactly the inserted points
    val rows = db.sql("SELECT v, _points FROM st GROUP BY k").collect()
    assert(rows.map(_.getAs[Double]("_points")).sum === 4.0)
  }

  test("schema misconfigurations fail loud at parse, named") {
    import graft.schema.SchemaParser
    def bad(yaml: String, mustMention: String): Unit = {
      val e = intercept[IllegalArgumentException](SchemaParser.parse(yaml))
      assert(e.getMessage.contains(mustMention),
        s"expected '$mustMention' in: ${e.getMessage}")
    }
    // duplicate names: resolveSchema keys by name, so the LAST definition
    // would silently eat the first (a copy-paste typo dropping a table)
    bad("""t:
          |  sql: >
          |    SELECT v FROM s GROUP BY k
          |t:
          |  sql: >
          |    SELECT w FROM s GROUP BY k
          |""".stripMargin, "duplicate table 't'")
    // sql-less table: previously surfaced as a bare parser error at db
    // construction, with no hint which entry was broken
    bad("t:\n  retentionperiod: 1h\n", "table 't' needs sql:")
    // negative retention: the truncation cutoff lands in the FUTURE and
    // every inserted point silently drops
    bad("""t:
          |  retentionperiod: -1h
          |  sql: >
          |    SELECT v FROM s GROUP BY k
          |""".stripMargin, "retentionperiod must be positive")
    bad("""t:
          |  maxflushlatency: -5s
          |  sql: >
          |    SELECT v FROM s GROUP BY k
          |""".stripMargin, "maxflushlatency must be positive")
    bad(":\n  sql: >\n    SELECT v FROM s GROUP BY k\n", "empty name")
  }

  test("dedupindex schema entries require maintain: true") {
    val e = intercept[IllegalArgumentException] {
      new GraftDB(spark,
        """combined:
          |  sql: >
          |    SELECT requests FROM inbound GROUP BY server, period(5m)
          |nd_idx:
          |  dedupindex: /tmp/nowhere
          |""".stripMargin,
        Files.createTempDirectory("dedup-inert").toString, () => T0)
    }
    assert(e.getMessage.contains("maintain: true"), e.getMessage)
  }

  test("a lease landing between the GC snapshot and the delete still protects the path") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val root = Files.createTempDirectory("gc-recheck").toString
    val idx = s"$root/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    // two incomplete junk siblings seed the fresh enrollment's GC queue
    // with two deletable paths, so one tick issues two gcDeletes
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$idx-g7"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$idx-g8"))
    val db = new GraftDB(spark, plainTableYaml,
      Files.createTempDirectory("gc-recheck-db").toString, () => T0)
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
    assert(db.maintainedStats("vidx")._3 === 2, "both junk siblings queued")
    // simulate an exec pin landing AFTER the tick snapshotted the lease
    // set (pins arrive asynchronously on the listener bus): the hook for
    // whichever sibling deletes first pins the OTHER — the delete-time
    // lease re-check must requeue it instead of deleting under the pin
    @volatile var pinned: (String, AutoCloseable) = null
    db.gcDeleteHook = p => if (pinned == null) {
      val other = if (p.endsWith("-g7")) s"$idx-g8" else s"$idx-g7"
      pinned = (other, db.pinPath(other))
    }
    try {
      db.maintenanceTick()
      assert(pinned != null, "the tick must have deleted one sibling")
      val alive = pinned._1
      val gone = if (alive.endsWith("-g7")) s"$idx-g8" else s"$idx-g7"
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(gone)))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(alive)),
        "a lease taken after the tick's snapshot must still protect the path")
      assert(db.maintainedStats("vidx")._3 === 1,
        "the protected path must be requeued, not dropped")
    } finally {
      db.gcDeleteHook = _ => ()
      if (pinned != null) pinned._2.close()
    }
    db.maintenanceTick()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g7")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g8")))
  }

  test("an orphan lease landing between the drain snapshot and the delete requeues the entry") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(73)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val root = Files.createTempDirectory("orphan-recheck").toString
    val idxA = s"$root/a"
    val idxB = s"$root/b"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idxA)
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idxB)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$idxA-g7"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$idxA-g8"))
    val db = new GraftDB(spark, plainTableYaml,
      Files.createTempDirectory("orphan-recheck-db").toString, () => T0)
    db.registerAnnMaintenance("vidx", idxA, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
    // re-point at a different base: the two queued junk siblings move to
    // the durable orphan queue
    db.registerAnnMaintenance("vidx", idxB, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
    assert(db.orphanGcStats._1 === 2, db.orphanGcStats.toString)
    @volatile var pinned: (String, AutoCloseable) = null
    db.gcDeleteHook = p => if (pinned == null) {
      val other = if (p.endsWith("-g7")) s"$idxA-g8" else s"$idxA-g7"
      pinned = (other, db.pinPath(other))
    }
    try {
      db.maintenanceTick()
      assert(pinned != null, "the drain must have deleted one orphan")
      val alive = pinned._1
      val gone = if (alive.endsWith("-g7")) s"$idxA-g8" else s"$idxA-g7"
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(gone)))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(alive)),
        "a lease taken after the drain's snapshot must still protect the orphan")
      assert(db.orphanGcStats._1 === 1,
        "the protected orphan must be requeued, not dropped")
    } finally {
      db.gcDeleteHook = _ => ()
      if (pinned != null) pinned._2.close()
    }
    db.maintenanceTick()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idxA-g7")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idxA-g8")))
  }

  test("a flip racing close() must not leave a restarted writer attached") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(79)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val root = Files.createTempDirectory("close-race").toString
    val idx = s"$root/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val db = new GraftDB(spark, plainTableYaml,
      Files.createTempDirectory("close-race-db").toString, () => T0)
    val inRestart = new java.util.concurrent.CountDownLatch(1)
    val closeDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var restarted: org.apache.spark.sql.streaming.StreamingQuery = null
    val restart: String => org.apache.spark.sql.streaming.StreamingQuery =
      dest => {
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float])]
        val q = graft.streaming.AnnIndexStream.attachIvf(
          mem.toDF().toDF("vec_id", "embedding"), col("embedding"),
          col("vec_id"), dest, s"$root/ckpt-${dest.hashCode}")
        restarted = q
        inRestart.countDown()
        // hold the pass here until close() lands: the flip that follows
        // must not leave this freshly restarted writer attached to a
        // closed db (the embedder ordered close wrong — the db must
        // still not leak a stream)
        closeDone.await(120, java.util.concurrent.TimeUnit.SECONDS)
        q
      }
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 0.0, restart = Some(restart))
    @volatile var tick: Seq[(String, String)] = Nil
    val t = new Thread(() => { tick = db.maintenanceTick() })
    t.start()
    assert(inRestart.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "the pass must reach its restart")
    db.close()
    closeDone.countDown()
    t.join(240000)
    assert(tick.exists { case (n, s) =>
      n == "vidx" && s.startsWith("re-clustered") }, tick.toString)
    assert(restarted != null && !restarted.isActive,
      "a stream restarted by a pass racing close() must be quiesced")
    assert(db.maintainedState("vidx").forall(_._2.forall(!_.isActive)),
      "no active stream may stay attached after close()")
    // a tick issued AFTER close is a loud no-op, not a restart vector
    val t2 = db.maintenanceTick()
    assert(t2 === Seq("_closed" -> "db closed; tick skipped"), t2.toString)
  }

  test("a file:-scheme registration resolves, pins, and GCs like its plain-path twin") {
    import org.apache.spark.sql.functions.{col, udf}
    import spark.implicits._
    val rnd = new scala.util.Random(89)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("scheme-pin").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val db = new GraftDB(spark, plainTableYaml,
      Files.createTempDirectory("scheme-pin-db").toString, () => T0)
    // register BOTH fronts under the file:-scheme spelling Hadoop plan
    // roots print — generation discovery, SIMSEARCH meta reads, the
    // serving/lease guards, and exec pins must all behave exactly as the
    // plain-path spelling does
    db.registerAnnIndex("vidx", s"file:$idx", "embedding", "vec_id",
      quantized = false)
    db.registerAnnMaintenance("vidx", s"file:$idx", "embedding", "vec_id",
      nProbe = 4, scanBudget = 0.0, gcOldGenerations = true)
    assert(db.maintainedState("vidx").exists(_._1 == idx),
      "a file:-scheme registration must resolve to its plain path")
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    System.setProperty("graft.queryLeaseGraceMillis", "1")
    try {
      val df = db.sql(
        s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id")
      Thread.sleep(10)
      val t1 = db.maintenanceTick() // sweeps the issue lease; budget 0 flips
      assert(t1.exists { case (n, s) =>
        n == "vidx" && s == s"re-clustered -> $idx-g1" }, t1.toString)
      assert(db.maintainedStats("vidx")._3 === 1, "base queued for GC")
      // retune in place (same file:-spelled base) so later ticks are GC-only
      db.registerAnnMaintenance("vidx", s"file:$idx", "embedding", "vec_id",
        nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
      assert(db.maintainedStats("vidx")._3 === 1,
        "the file:-spelled retune must update in place, not re-enroll")
      // a derived frame executing across the flip: the exec-pin listener
      // must pin the base generation even though registration and plan
      // roots spell the directory differently
      GraftDBSpecGate.latch = new java.util.concurrent.CountDownLatch(1)
      val gate = udf { d: Double =>
        val l = GraftDBSpecGate.latch
        if (l != null) l.await(60, java.util.concurrent.TimeUnit.SECONDS)
        d >= Double.MinValue
      }
      val derived = df.filter(gate(col("score")))
      @volatile var rows: Array[Row] = null
      @volatile var err: Throwable = null
      val runner = new Thread(() => {
        try rows = derived.collect()
        catch { case e: Throwable => err = e }
      })
      runner.start()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (db.leaseCount(idx) == 0 && err == null &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(err == null, s"derived execution failed early: $err")
      assert(db.leaseCount(idx) > 0,
        "execution start must pin the generation under either spelling")
      db.maintenanceTick()
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
        "an in-flight execution's generation must not be GC'd")
      GraftDBSpecGate.latch.countDown()
      runner.join(120000)
      assert(err == null, s"derived execution failed: $err")
      assert(rows != null && rows.length === 3)
      val d2 = System.nanoTime() + 60L * 1000000000L
      while (db.leaseCount(idx) > 0 && System.nanoTime() < d2)
        Thread.sleep(10)
      db.maintenanceTick()
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
        "the base must be reclaimed once no execution reads it")
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx-g1")))
    } finally {
      System.clearProperty("graft.queryLeaseGraceMillis")
      val l = GraftDBSpecGate.latch
      GraftDBSpecGate.latch = null
      if (l != null) l.countDown()
    }
  }

  test("orphan-queue reload rejects entries that escape the store tree") {
    // _orphan_gc.txt is on-disk state an operator or another process can
    // corrupt — the same trust class as schema yaml / insert JSON. A
    // relative entry like ".." resolves OUTSIDE baseDir, and a later
    // drain would recursively delete whatever it lands on; an absolute
    // entry naming an ancestor of the store (or "/") would delete the
    // store itself. Reload must drop them, loudly.
    val baseDir = Files.createTempDirectory("orphan-escape").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(baseDir, "_orphan_gc.txt"),
      Seq(
        "..",                                     // escapes the store tree
        "../../etc",                              // ditto, deeper
        "/",                                      // filesystem root
        java.nio.file.Paths.get(baseDir).getParent.toString, // store ancestor
        baseDir,                                  // the store itself
        "idx/stale"                               // the one legitimate entry
      ).mkString("", "\n", "\n"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(baseDir, "idx", "stale"))
    val db = new GraftDB(spark, plainTableYaml, baseDir, () => T0)
    assert(db.orphanGcStats._1 === 1,
      s"only the in-tree entry may reload, got ${db.orphanGcStats}")
    assert(db.orphanGcReloadRejects.size === 5, db.orphanGcReloadRejects)
    val t = db.maintenanceTick()
    assert(t.exists { case (n, s) =>
      n == "_orphans" && s.startsWith("gc'd 1") &&
        s.contains("rejected 5 invalid reload entries") }, t.toString)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(baseDir, "idx", "stale")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(baseDir)),
      "the store tree itself must never be a drain target")
    // the rewritten durable twin carries none of the rejected garbage
    val rewritten = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(baseDir, "_orphan_gc.txt"))
    assert(!rewritten.iterator().hasNext ||
      rewritten.size == 1 && rewritten.get(0).isEmpty, rewritten.toString)
  }

  test("an orphan entry that is an ancestor of a live path stays pinned") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(101)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val root = Files.createTempDirectory("ancestor-pin").toString
    val idx = s"$root/nest/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val baseDir = Files.createTempDirectory("ancestor-pin-db").toString
    // a (corrupt or operator-written) queue entry naming the PARENT of a
    // live index: exact-equality guards don't see it, but deleting it
    // would take the live generation down with it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(baseDir, "_orphan_gc.txt"), s"$root/nest\n")
    val db = new GraftDB(spark, plainTableYaml, baseDir, () => T0)
    assert(db.orphanGcStats._1 === 1)
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
    val t = db.maintenanceTick()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
      s"an ancestor of a live path must never be drained (tick: $t)")
    assert(db.orphanGcStats._1 === 1,
      "the ancestor entry stays pending while anything lives under it")
    // re-point the enrollment elsewhere (programmatic enrollments survive
    // schema ALTERs by design): nothing lives under the entry anymore,
    // so the next drain reclaims it normally
    val idxB = s"$root/other/j"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idxB)
    db.registerAnnMaintenance("vidx", idxB, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
    db.maintenanceTick()
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/nest")),
      "once nothing lives under it, the ancestor entry drains normally")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idxB)))
  }

  test("a corrupt MANIFEST refuses loudly, never re-initializes the store") {
    val dir = Files.createTempDirectory("manifest-corrupt").toString
    val db = new GraftDB(spark, plainTableYaml, dir, () => T0)
    db.insert("inbound", points())
    assert(db.sql("SELECT requests FROM combined GROUP BY server")
      .collect().nonEmpty)
    // corrupt the on-disk manifest the way a partial edit or bit rot
    // would; a silent fall-back to an EMPTY manifest here would treat the
    // populated store as fresh (re-running backfill bounds, re-merging
    // ledgered batches) — the refusal must name the file and the remedy
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "combined", "MANIFEST"), "v=junk\nnope")
    val db2 = new GraftDB(spark, plainTableYaml, dir, () => T0)
    val e = intercept[IllegalStateException] {
      db2.sql("SELECT requests FROM combined GROUP BY server").collect()
    }
    assert(e.getMessage.contains("corrupt table manifest") &&
      e.getMessage.contains("MANIFEST") &&
      e.getMessage.contains("refusing to treat the store as fresh"),
      e.getMessage)
  }

  test("GC-enabled enrollment refuses a remote-scheme path loudly") {
    val db = new GraftDB(spark, plainTableYaml,
      Files.createTempDirectory("remote-scheme-db").toString, () => T0)
    // the maintenance machinery lists siblings and deletes generations via
    // java.nio — on an object-store URI those silently no-op, so GC there
    // would leak every superseded generation while reporting success
    val e = intercept[IllegalArgumentException] {
      db.registerAnnMaintenance("vidx", "s3a://bucket/idx", "embedding",
        "vec_id", nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
    }
    assert(e.getMessage.contains("local filesystem index path"), e.getMessage)
    // without GC the enrollment is legitimate (pins and guards compare
    // remote URIs correctly; nothing lists or deletes)
    db.registerAnnMaintenance("vidx2", "s3a://bucket/idx", "embedding",
      "vec_id", nProbe = 4, scanBudget = 2.0)
    assert(db.maintainedState("vidx2").exists(_._1 == "s3a://bucket/idx"))
  }

  test("an execution starting after its generation was GC'd names the remedy") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("gc-remedy").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val db = new GraftDB(spark, plainTableYaml,
      Files.createTempDirectory("gc-remedy-db").toString, () => T0)
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 0.0, gcOldGenerations = true)
    val t1 = db.maintenanceTick() // budget 0: flip -> -g1, base queued
    assert(t1.exists { case (n, s) =>
      n == "vidx" && s == s"re-clustered -> $idx-g1" }, t1.toString)
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
    db.maintenanceTick() // GC the superseded base
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)))
    // a registration still pointing at the reclaimed generation: a query
    // through it must fail with the remedy, not a raw FileNotFound
    db.registerAnnIndex("stale", idx, "embedding", "vec_id",
      quantized = false)
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val e = intercept[Exception] {
      db.sqlTimed(
        s"SELECT score FROM SIMSEARCH('stale', [$vecLit], 3, 4) GROUP BY id",
        120000L)
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("was GC'd by index maintenance") &&
      e.getMessage.contains("re-issue the query") &&
      e.getMessage.contains(idx),
      s"expected the GC-loss remedy message, got: $e")
  }

  test("a failure naming the CURRENT generation is not misreported as GC loss") {
    // Sibling generations are named <base>-gN, so any failure message
    // naming the current generation also CONTAINS the GC'd base path as a
    // prefix. Pre-fix, the raw substring match in rethrowIfGcLoss turned a
    // corrupt current-generation meta into "generation <base> was GC'd;
    // re-issue the query" — a remedy the caller can retry forever (this
    // spec failed with exactly that message before the path-boundary
    // match).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(92)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("gc-sibling").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val db = new GraftDB(spark, plainTableYaml,
      Files.createTempDirectory("gc-sibling-db").toString, () => T0)
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 0.0, gcOldGenerations = true)
    db.maintenanceTick() // budget 0: flip -> -g1, base queued
    db.registerAnnMaintenance("vidx", idx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, gcOldGenerations = true)
    db.maintenanceTick() // GC the superseded base: idx lands in gcHistory
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)))
    // corrupt the CURRENT generation's meta: the probe's refusal names
    // <idx>-g1, whose message substring-contains the GC'd <idx>
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx-g1", "_centroids.txt"), "garbage\n")
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val e = intercept[Exception] {
      db.sqlTimed(
        s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id",
        120000L)
    }
    assert(e.getMessage == null ||
      !e.getMessage.contains("was GC'd by index maintenance"),
      s"current-generation corruption misreported as GC loss: $e")
    // boundary unit cases: the prefix relation that caused the misreport
    assert(!GraftDB.namesWholePath(s"no meta at $idx-g1", idx))
    assert(GraftDB.namesWholePath(s"no meta at $idx", idx))
    assert(GraftDB.namesWholePath(s"read '$idx' failed", idx))
    assert(GraftDB.namesWholePath(s"$idx/post missing", idx))
  }

}

/** Static holder for the exec-pin spec's gate latch: the UDF body reaches
  * it as a static reference, so nothing non-serializable rides the closure
  * (local-mode executors share the JVM).
  */
object GraftDBSpecGate {
  @volatile var latch: java.util.concurrent.CountDownLatch = null
}
