package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Similarity

/** End-to-end dialect → DataFrame tests over the README quickstart fixture
  * (/root/reference/README.md:78-395, FIXTURES.md §1): 8 points on stream
  * `inbound`, queried with the README's golden queries.
  */
class EngineSpec extends AnyFunSuite with TestSession {

  private val EPS = 1e-5 // reference fuzzy float epsilon (expr/floatequals.go)

  private val T0 = 1700000000000L // fixed epoch for deterministic tests

  lazy val catalog: Catalog = {
    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("server", StringType),
      StructField("path", StringType),
      StructField("status", IntegerType),
      StructField("requests", DoubleType),
      StructField("load_avg", DoubleType)))
    def ts(offMs: Long) = new java.sql.Timestamp(T0 + offMs)
    val rows = Seq(
      Row(ts(0), "56.234.163.23", "/index.html", Integer.valueOf(200), Double.box(56.0), null),
      Row(ts(1000), "56.234.163.23", "/login", Integer.valueOf(200), Double.box(34.0), null),
      Row(ts(2000), "56.234.163.23", "/login", Integer.valueOf(500), Double.box(12.0), null),
      Row(ts(3000), "56.234.163.23", null, null, null, Double.box(1.7)),
      Row(ts(4000), "56.234.163.24", "/index.html", Integer.valueOf(200), Double.box(523.0), null),
      Row(ts(5000), "56.234.163.24", "/login", Integer.valueOf(200), Double.box(411.0), null),
      Row(ts(6000), "56.234.163.24", "/login", Integer.valueOf(500), Double.box(28.0), null),
      Row(ts(7000), "56.234.163.24", null, null, null, Double.box(0.3)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    new Catalog(Map("inbound" -> Catalog.classify("inbound", df)))
  }

  private def sql(q: String): DataFrame = Engine.sql(catalog, q, () => T0 + 8000)

  private def d(v: Any): Double = v match {
    case null      => Double.NaN
    case x: Double => x
    case x: Number => x.doubleValue()
  }
  private def approx(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= EPS * math.max(1.0, math.abs(b))

  test("pipeline dim fns in the dialect: SIMHASH/URLHOST/NORMTEXT/URLNORM group keys") {
    import org.apache.spark.sql.functions.{col, lit}
    val rows = sql(
      """SELECT requests FROM inbound WHERE path IS NOT NULL
        |GROUP BY SIMHASH(path) AS sh,
        |  URLHOST(CONCAT('', 'http://Host-', SUBSTR(path, 2, 5), '.com/x')) AS h,
        |  NORMTEXT(CONCAT('', 'A! ', path)) AS n,
        |  URLNORM(CONCAT('', 'HTTP://Host-', SUBSTR(path, 2, 5),
        |    '.com:8080/x?utm_source=a&q=1#frag')) AS un,
        |  URLDOMAINPSL(CONCAT('', 'http://blog.Host-', SUBSTR(path, 2, 5),
        |    '.github.io/x')) AS dp
        |ORDER BY h""".stripMargin).collect()
    assert(rows.length == 2) // /index.html and /login
    // the dialect values equal the pipeline operators applied directly
    val expectSh = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("/login"))),
        StructType(Seq(StructField("p", StringType))))
      .select(graft.pipeline.Dedup.simHash(col("p"))).collect()(0).getLong(0)
    val login = rows.find(_.getAs[String]("h").startsWith("host-login")).get
    assert(login.getAs[Long]("sh") == expectSh)
    assert(login.getAs[String]("h") == "host-login.com")
    assert(login.getAs[String]("n") == "a login")
    // non-default port survives, tracking param + fragment drop, case folds
    assert(login.getAs[String]("un") == "http://host-login.com:8080/x?q=1")
    // PSL resolution: github.io is a public suffix, so the registered
    // domain keeps the site label (the heuristic would collapse it)
    assert(login.getAs[String]("dp") == "host-login.github.io")
    assert(d(login.getAs[Any]("requests")) == 34.0 + 12.0 + 411.0 + 28.0)
  }

  test("SIMSEARCH dialect ≡ ivfTopK pipeline; WHERE is the PRE-filter") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 60L).map { i =>
      (i, Seq.fill(8)((rnd.nextGaussian() * 2).toFloat), (i % 5).toInt)
    }.toDF("vec_id", "embedding", "label")
    val idx = java.nio.file.Files
      .createTempDirectory("simsearch-dialect").toString + "/i"
    Similarity.ivfBuildIfMissing(vecs, col("embedding"), col("vec_id"), 4, idx)
    val cat = catalog.addAnn("vecs_idx",
      AnnIndexDef(idx, "embedding", "vec_id"))
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = q.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    // filtered search from the dialect == the pipeline call with the same
    // predicate as extraFilter — per-row equality on (id, score)
    val dialect = Engine.sql(cat,
      s"""SELECT score FROM SIMSEARCH('vecs_idx', [$vecLit], 5, 4)
         |WHERE label IN (0, 2) GROUP BY id ORDER BY id""".stripMargin,
      () => T0)
      .collect().map(r => (r.getAs[Long]("id"), d(r.getAs[Any]("score"))))
    val pipeline = Similarity.ivfTopK(spark, idx,
        Similarity.loadIvfCentroids(idx), col("embedding"), col("vec_id"),
        q, 5, nProbe = 4, quantized = true,
        extraFilter = Some(col("label").isin(0, 2)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(dialect.toSeq === pipeline.toSeq)
    assert(dialect.nonEmpty)
    // every hit satisfies the predicate — the WHERE reached the probe as a
    // PRE-filter (a post-filter could return non-matching rows or < k
    // matching ones); and at full probe the top-k is the exact filtered one
    val labels = vecs.filter(col("vec_id").isin(dialect.map(_._1): _*))
      .select(col("label")).collect().map(_.getInt(0)).toSet
    assert(labels.subsetOf(Set(0, 2)))
    // the dialect result composes with the ordinary pipeline: ORDER BY
    // score DESC + LIMIT ride the engine's sort/limit stages
    val top = Engine.sql(cat,
      s"""SELECT score FROM SIMSEARCH('vecs_idx', [$vecLit], 5, 4)
         |GROUP BY id ORDER BY score DESC LIMIT 2""".stripMargin,
      () => T0).collect()
    assert(top.length == 2)
    assert(d(top(0).getAs[Any]("score")) >= d(top(1).getAs[Any]("score")))
    // unregistered index name fails with guidance
    val e = intercept[IllegalArgumentException] {
      Engine.sql(cat,
        s"SELECT score FROM SIMSEARCH('nope', [$vecLit], 5, 4) GROUP BY id",
        () => T0).collect()
    }
    assert(e.getMessage.contains("not registered"), e.getMessage)
    // an IN-subquery in a SIMSEARCH WHERE refuses with the dialect's
    // targeted message (not Builders.dim's internal lowering invariant):
    // the WHERE pre-filters inside the probe, where no semi-join can run
    val e2 = intercept[IllegalArgumentException] {
      Engine.sql(cat,
        s"""SELECT score FROM SIMSEARCH('vecs_idx', [$vecLit], 5, 4)
           |WHERE label IN (SELECT label FROM SIMSEARCH('vecs_idx',
           |  [$vecLit], 5, 4) GROUP BY label) GROUP BY id""".stripMargin,
        () => T0).collect()
    }
    assert(e2.getMessage.contains("SIMSEARCH WHERE does not support IN (SELECT"),
      e2.getMessage)
    // ...including buried under OR/NOT, where the two-phase rewrite would
    // otherwise pick it up post-scan
    val e3 = intercept[IllegalArgumentException] {
      Engine.sql(cat,
        s"""SELECT score FROM SIMSEARCH('vecs_idx', [$vecLit], 5, 4)
           |WHERE label = 0 OR NOT (label IN (SELECT label FROM
           |  SIMSEARCH('vecs_idx', [$vecLit], 5, 4) GROUP BY label))
           |GROUP BY id""".stripMargin,
        () => T0).collect()
    }
    assert(e3.getMessage.contains("SIMSEARCH WHERE does not support IN (SELECT"),
      e3.getMessage)
    // batch mode: TABLE of query vectors ≡ the ivfTopKBatch pipeline with
    // the same predicate as extraFilter, per-row on (qid, id, rank, score)
    val queries = vecs.filter(col("vec_id") < 8)
    val cat2 = cat.add(Catalog.classify("qvecs", queries))
    val dialectB = Engine.sql(cat2,
      """SELECT score FROM SIMSEARCH('vecs_idx', TABLE qvecs, 3, 4)
        |WHERE label IN (0, 2) GROUP BY qid, id, rank
        |ORDER BY qid, rank""".stripMargin,
      () => T0).collect().map(r => (r.getAs[Long]("qid"),
        r.getAs[Long]("id"), r.getAs[Long]("rank"), d(r.getAs[Any]("score"))))
    val pipelineB = Similarity.ivfTopKBatch(spark, idx,
        Similarity.loadIvfCentroids(idx), queries, col("vec_id"),
        col("embedding"), col("vec_id"), col("embedding"), k = 3,
        nProbe = 4, quantized = true,
        extraFilter = Some(col("label").isin(0, 2)))
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Long]("rank"), r.getAs[Double]("score")))
      .sortBy(t => (t._1, t._3))
    assert(dialectB.toSeq === pipelineB.toSeq)
    assert(dialectB.nonEmpty)
    // a query table missing the index's columns refuses with guidance
    val e4 = intercept[IllegalArgumentException] {
      Engine.sql(cat2.add(Catalog.classify("badq",
          vecs.select(col("vec_id").as("other_id"), col("embedding")))),
        "SELECT score FROM SIMSEARCH('vecs_idx', TABLE badq, 3, 4) GROUP BY qid",
        () => T0).collect()
    }
    assert(e4.getMessage.contains("must carry the index's"), e4.getMessage)
  }

  test("SIMSEARCH over an IVF-PQ index: ADC-only, base-table re-rank, batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val vecs = (0L until 60L).map { i =>
      (i, Seq.fill(8)((rnd.nextGaussian() * 2).toFloat), (i % 5).toInt)
    }.toDF("vec_id", "embedding", "label")
    val idx = java.nio.file.Files
      .createTempDirectory("simsearch-pq").toString + "/i"
    val (coarse, books) = Similarity.ivfPqBuildIfMissing(vecs,
      col("embedding"), col("vec_id"), nCentroids = 4, m = 4, k = 8, idx,
      keep = Seq("label"))
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = q.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    // 1) no base table registered → raw ADC rankings, filtered on the
    //    KEPT label column inside the pruned codes scan
    val catAdc = catalog
      .addAnn("pq_idx", AnnIndexDef(idx, "embedding", "vec_id"))
    val dialectAdc = Engine.sql(catAdc,
      s"""SELECT score FROM SIMSEARCH('pq_idx', [$vecLit], 5, 4)
         |WHERE label IN (0, 2) GROUP BY id ORDER BY id""".stripMargin,
      () => T0).collect().map(r => (r.getAs[Long]("id"),
        d(r.getAs[Any]("score"))))
    val pipeAdc = Similarity.ivfPqTopK(spark, idx, coarse, books, vecs,
        col("embedding"), col("vec_id"), q, k = 5, nProbe = 4, refineK = 0,
        extraFilter = Some(col("label").isin(0, 2)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(dialectAdc.toSeq === pipeAdc.toSeq)
    assert(dialectAdc.nonEmpty)
    // 2) base table registered → exact re-rank of the ADC candidates
    val catRr = catAdc
      .add(Catalog.classify("vtab", vecs))
      .addAnn("pq_idx", AnnIndexDef(idx, "embedding", "vec_id",
        baseTable = Some("vtab"), refineK = 20))
    val dialectRr = Engine.sql(catRr,
      s"""SELECT score FROM SIMSEARCH('pq_idx', [$vecLit], 5, 4)
         |WHERE label IN (0, 2) GROUP BY id ORDER BY id""".stripMargin,
      () => T0).collect().map(r => (r.getAs[Long]("id"),
        d(r.getAs[Any]("score"))))
    val pipeRr = Similarity.ivfPqTopK(spark, idx, coarse, books, vecs,
        col("embedding"), col("vec_id"), q, k = 5, nProbe = 4, refineK = 20,
        extraFilter = Some(col("label").isin(0, 2)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(dialectRr.toSeq === pipeRr.toSeq)
    // re-rank scores are exact cosines of the query's own vector: the top
    // hit at full-probe settings includes vec 0 itself with score 1.0
    assert(dialectRr.exists { case (id, s) => id == 0L && s > 0.999999 })
    // 3) batch mode over the PQ index ≡ ivfPqTopKBatch with the re-rank
    val queries = vecs.filter(col("vec_id") < 8)
    val catB = catRr.add(Catalog.classify("qvecs", queries))
    val dialectB = Engine.sql(catB,
      """SELECT score FROM SIMSEARCH('pq_idx', TABLE qvecs, 3, 4)
        |WHERE label IN (0, 2) GROUP BY qid, id, rank
        |ORDER BY qid, rank""".stripMargin,
      () => T0).collect().map(r => (r.getAs[Long]("qid"),
        r.getAs[Long]("id"), r.getAs[Long]("rank"), d(r.getAs[Any]("score"))))
    val pipeB = Similarity.ivfPqTopKBatch(spark, idx, coarse, books, vecs,
        col("embedding"), col("vec_id"), queries, col("vec_id"),
        col("embedding"), k = 3, nProbe = 4, refineK = 20,
        extraFilter = Some(col("label").isin(0, 2)))
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Long]("rank"), r.getAs[Double]("score")))
      .sortBy(t => (t._1, t._3))
    assert(dialectB.toSeq === pipeB.toSeq)
    assert(dialectB.nonEmpty)
  }

  test("PQ base table with refineK left at default: full k rows, not 1") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val vecs = (0L until 60L).map { i =>
      (i, Seq.fill(8)((rnd.nextGaussian() * 2).toFloat), (i % 5).toInt)
    }.toDF("vec_id", "embedding", "label")
    val idx = java.nio.file.Files
      .createTempDirectory("simsearch-pq-dflt").toString + "/i"
    Similarity.ivfPqBuildIfMissing(vecs, col("embedding"), col("vec_id"),
      nCentroids = 4, m = 4, k = 8, idx)
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = q.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    // a registration declaring `annbase:` but no `annrefinek:` (refineK 0)
    // used to clamp the re-rank window to 1 candidate — every SIMSEARCH
    // silently returned at most 1 row; the floor is now the query's k
    val cat = catalog.add(Catalog.classify("vtab", vecs))
      .addAnn("pq_dflt", AnnIndexDef(idx, "embedding", "vec_id",
        baseTable = Some("vtab")))
    val hits = Engine.sql(cat,
      s"""SELECT score FROM SIMSEARCH('pq_dflt', [$vecLit], 5, 4)
         |GROUP BY id ORDER BY id""".stripMargin, () => T0).collect()
    assert(hits.length == 5, s"expected full k=5 rows, got ${hits.length}")
    // re-rank scores are exact cosines: the query's own vector scores 1.0
    assert(hits.exists(r => r.getAs[Long]("id") == 0L &&
      d(r.getAs[Any]("score")) > 0.999999))
    // batch form under the same default: k rows PER query
    val queries = vecs.filter(col("vec_id") < 4)
    val catB = cat.add(Catalog.classify("qvecs", queries))
    val batch = Engine.sql(catB,
      """SELECT score FROM SIMSEARCH('pq_dflt', TABLE qvecs, 3, 4)
        |GROUP BY qid, id, rank ORDER BY qid, rank""".stripMargin,
      () => T0).collect()
    assert(batch.length == 12, s"expected 4 queries x k=3, got ${batch.length}")
  }

  test("README: group by server with _points, SUM default and AVG") {
    val rows = sql(
      """SELECT _points, requests, AVG(load_avg) AS load_avg
        |FROM inbound GROUP BY server ORDER BY requests DESC""".stripMargin)
      .collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[String]("server") == "56.234.163.24")
    assert(approx(d(r0.getAs[Any]("_points")), 4.0))
    assert(approx(d(r0.getAs[Any]("requests")), 962.0))
    assert(approx(d(r0.getAs[Any]("load_avg")), 0.3))
    val r1 = rows(1)
    assert(approx(d(r1.getAs[Any]("requests")), 102.0))
    assert(approx(d(r1.getAs[Any]("load_avg")), 1.7))
  }

  test("README: IF conditional aggregation and derived error_rate") {
    val rows = sql(
      """SELECT IF(status <> 200, requests) AS errors, requests,
        |  IF(status <> 200, requests) / requests AS error_rate
        |FROM inbound GROUP BY server ORDER BY server""".stripMargin).collect()
    assert(rows.length == 2)
    assert(approx(d(rows(0).getAs[Any]("errors")), 12.0))
    assert(approx(d(rows(0).getAs[Any]("error_rate")), 12.0 / 102.0))
    assert(approx(d(rows(1).getAs[Any]("errors")), 28.0))
    assert(approx(d(rows(1).getAs[Any]("error_rate")), 28.0 / 962.0))
  }

  test("zenodb division-by-zero rule") {
    // both fields unset (null/null division) => the row is skipped entirely,
    // matching the reference's Flatten (core/flatten.go:11-89)
    val rows = sql(
      """SELECT IF(status = 404, requests) / requests AS zero_over,
        |  requests / IF(status = 404, requests) AS over_zero
        |FROM inbound GROUP BY _""".stripMargin).collect()
    assert(rows.isEmpty)
    // null numerator: null/x = null in Spark; zenodb unset propagates — both "no value"
    // denominator null => division yields null as well; the explicit 0-denominator
    // rule needs a 0 (not null) denominator:
    val rows2 = sql(
      """SELECT COUNT(BOUNDED(requests, -1, -0.5)) AS zero_cnt,
        |  requests / COUNT(BOUNDED(requests, -1, -0.5)) AS div0,
        |  COUNT(BOUNDED(requests, -1, -0.5)) / COUNT(BOUNDED(requests, -2, -1.5)) AS zz
        |FROM inbound GROUP BY _""".stripMargin).collect()
    assert(approx(d(rows2(0).getAs[Any]("zero_cnt")), 0.0))
    assert(d(rows2(0).getAs[Any]("div0")) == Double.MaxValue)
    assert(approx(d(rows2(0).getAs[Any]("zz")), 0.0))
  }

  test("HAVING filters on computed fields") {
    val rows = sql(
      """SELECT requests, IF(status <> 200, requests) / requests AS error_rate
        |FROM inbound GROUP BY server HAVING error_rate > 0.05
        |ORDER BY server""".stripMargin).collect()
    assert(rows.length == 1)
    assert(approx(d(rows(0).getAs[Any]("requests")), 102.0))
  }

  test("WAVG weighted average") {
    val rows = sql(
      "SELECT WAVG(status, requests) AS ws FROM inbound GROUP BY server ORDER BY server")
      .collect()
    // server .23: (200*56+200*34+500*12)/(56+34+12)
    val exp0 = (200.0 * 56 + 200 * 34 + 500 * 12) / 102.0
    assert(approx(d(rows(0).getAs[Any]("ws")), exp0))
  }

  test("MIN/MAX/COUNT and arithmetic on aggregates") {
    val rows = sql(
      """SELECT MIN(requests) AS mn, MAX(requests) AS mx, COUNT(requests) AS cnt,
        |  MAX(requests) - MIN(requests) AS range
        |FROM inbound GROUP BY _""".stripMargin).collect()
    assert(approx(d(rows(0).getAs[Any]("mn")), 12.0))
    assert(approx(d(rows(0).getAs[Any]("mx")), 523.0))
    assert(approx(d(rows(0).getAs[Any]("cnt")), 6.0))
    assert(approx(d(rows(0).getAs[Any]("range")), 511.0))
  }

  test("BOUNDED discards out-of-range, does not clamp") {
    val rows = sql(
      "SELECT AVG(BOUNDED(requests, 20, 100)) AS b FROM inbound GROUP BY _")
      .collect()
    assert(approx(d(rows(0).getAs[Any]("b")), (56.0 + 34.0 + 28.0) / 3))
  }

  test("WHERE over dims with LIKE, IN, IS NULL") {
    val rows = sql(
      """SELECT requests FROM inbound
        |WHERE path LIKE 'log' AND status IN (200, 500) AND server IS NOT NULL
        |GROUP BY server ORDER BY server""".stripMargin).collect()
    assert(rows.length == 2)
    assert(approx(d(rows(0).getAs[Any]("requests")), 46.0))  // 34+12
    assert(approx(d(rows(1).getAs[Any]("requests")), 439.0)) // 411+28
  }

  test("time bucketing with period() emits _time") {
    val rows = sql(
      """SELECT _points FROM inbound GROUP BY _, period('2s')
        |ORDER BY _time""".stripMargin).collect()
    assert(rows.length == 4) // 8 points, 1s apart, 2s buckets
    assert(rows.forall(r => approx(d(r.getAs[Any]("_points")), 2.0)))
  }

  test("CROSSTAB pivots path into columns") {
    val df = sql(
      """SELECT requests FROM inbound
        |WHERE path IS NOT NULL GROUP BY server, CROSSTAB(path)
        |ORDER BY server""".stripMargin)
    val cols = df.columns.toSeq
    assert(cols.contains("/index.html_requests") && cols.contains("/login_requests"))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(approx(d(rows(0).getAs[Any]("/index.html_requests")), 56.0))
    assert(approx(d(rows(0).getAs[Any]("/login_requests")), 46.0))
    assert(approx(d(rows(1).getAs[Any]("/index.html_requests")), 523.0))
  }

  test("multi-arg CROSSTAB joins values with underscore, lowercased") {
    val df = sql(
      """SELECT requests FROM inbound WHERE path IS NOT NULL
        |GROUP BY CROSSTAB(path, status)""".stripMargin)
    // zenodb: multi-arg ctab values sorted + '_' joined (core/group.go)
    val cols = df.columns.toSet
    assert(cols.contains("/login_200_requests"), cols.mkString(", "))
    assert(cols.contains("/login_500_requests"))
    assert(cols.contains("/index.html_200_requests"))
    val r = df.collect()(0) // single global row (no dims)
    assert(approx(d(r.getAs[Any]("/login_200_requests")), 445.0)) // 34+411
    assert(approx(d(r.getAs[Any]("/login_500_requests")), 40.0))  // 12+28
  }

  test("UNTIL without ASOF bounds only the upper end") {
    val rows = sql(
      "SELECT _points FROM inbound UNTIL '-4s' GROUP BY _").collect()
    // now = T0+8000; until T0+4000 => first 4 points
    assert(rows.length == 1)
    assert(approx(d(rows(0).getAs[Any]("_points")), 4.0))
  }

  test("CROSSTAB with -- crosstab_values pivots only the supplied values") {
    val df = sql(
      """SELECT requests FROM inbound
        |-- crosstab_values /login
        |WHERE path IS NOT NULL GROUP BY server, CROSSTAB(path)
        |ORDER BY server""".stripMargin)
    assert(df.columns.toSeq == Seq("server", "/login_requests"))
    val rows = df.collect()
    assert(approx(d(rows(0).getAs[Any]("/login_requests")), 46.0))
    assert(approx(d(rows(1).getAs[Any]("/login_requests")), 439.0))
  }

  test("many distinct CROSSTABs keep session storage bounded (FIFO cache cap)") {
    // each data-dependent CROSSTAB persists its pre-agg; without the FIFO
    // cap in graft.PersistCache a long session accretes one storage entry
    // per distinct query forever
    def cachedCrosstabs(): Int = spark.sparkContext.getPersistentRDDs.size
    val before = cachedCrosstabs()
    for (i <- 0 until (graft.PersistCache.maxEntries * 3)) {
      sql(s"""SELECT requests, $i AS tag FROM inbound
             |WHERE path IS NOT NULL GROUP BY server, CROSSTAB(path)
             |ORDER BY server""".stripMargin).collect()
    }
    val after = cachedCrosstabs()
    assert(after - before <= graft.PersistCache.maxEntries,
      s"crosstab caches grew unboundedly: $before -> $after")
  }

  test("PersistCache: racing persists of one plan enroll a single FIFO entry") {
    import org.apache.spark.sql.functions.col
    // fill the FIFO, remember the oldest entry, then hammer ONE new plan
    // from many threads: with the check-then-act race each racer would push
    // its own FIFO entry and the duplicates would evict the live caches
    // below; under the lock they collapse to one entry, so at most one
    // eviction can follow
    val sentinels = (0 until graft.PersistCache.maxEntries).map { i =>
      graft.PersistCache.persist(
        spark.range(5).select((col("id") + (7000 + i)).as("v")).toDF())
    }
    val hot = spark.range(5).select((col("id") + 9999).as("v")).toDF()
    val threads = (0 until 8).map(_ => new Thread(() => {
      graft.PersistCache.persist(hot).collect()
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    // only the FIFO head may have been evicted to admit `hot`; duplicate
    // enrollment would have unpersisted more of the sentinels
    val stillCached = sentinels.count(
      _.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(stillCached >= graft.PersistCache.maxEntries - 1,
      s"racing persists evicted ${sentinels.size - stillCached} sentinels")
    (sentinels :+ hot).foreach(_.unpersist(blocking = false))
  }

  test("PersistCache: a 20-distinct-site session stays fully resident at the default cap") {
    import org.apache.spark.sql.functions.col
    // the r13/r15 churn precondition was live sites exceeding the cap
    // (FIFO round-robin turned every rerun into a full recompute). The
    // r19 cap (24) must hold a 20-distinct-query session — MORE sites
    // than the r15 cap of 16 — with zero evictions, so reruns of every
    // one of them stay cache hits. Skipped when the suite runs with an
    // overridden cap below 20.
    assume(sys.props.get("graft.maxPersistedCaches").isEmpty)
    val frames = (0 until 20).map { i =>
      graft.PersistCache.persist(
        spark.range(5).select((col("id") + (11000 + i)).as("v")).toDF())
    }
    val resident = frames.count(
      _.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(resident === 20,
      s"only $resident/20 sites resident at cap " +
        s"${graft.PersistCache.maxEntries}: rerun churn is back")
    frames.foreach(_.unpersist(blocking = false))
  }

  test("CROSSTAB past the pivot-width guard fails fast with guidance") {
    import org.apache.spark.sql.functions.{col, lit, timestamp_millis}
    val big = spark.range(graft.planner.Planner.MaxPivotValues + 1).select(
      timestamp_millis(lit(T0)).as("ts"),
      col("id").cast("string").as("k"), lit(1.0).as("v"))
    val cat = new Catalog(Map("big" -> Catalog.classify("big", big)))
    val ex = intercept[IllegalArgumentException] {
      Engine.sql(cat, "SELECT v FROM big GROUP BY CROSSTAB(k)", () => T0)
    }
    assert(ex.getMessage.contains("crosstab_values"))
    // explicit values sail past the guard on the same data
    val ok = Engine.sql(cat,
      "SELECT v FROM big GROUP BY CROSSTAB(k) -- crosstab_values 7,11",
      () => T0)
    assert(ok.columns.toSet == Set("11_v", "7_v"))
  }

  test("SHIFT composes inside CROSSTAB (per-pivot-series shift)") {
    val df = sql(
      """SELECT requests, SHIFT(requests, '-2s') AS prev
        |FROM inbound WHERE path IS NOT NULL
        |GROUP BY CROSSTAB(path), period('2s') ORDER BY _time""".stripMargin)
    val rows = df.collect()
    // series: /index.html = [56, -, 523], /login = [34, 12, 411, 28]:
    // dense INSIDE each pivot series' span (the b1 /index gap row carries
    // only the shifted value), nothing past a series' last data bucket
    assert(rows.length == 4)
    assert(rows(1).getAs[Any]("/index.html_requests") == null)
    assert(approx(d(rows(1).getAs[Any]("/index.html_prev")), 56.0))
    assert(approx(d(rows(1).getAs[Any]("/login_prev")), 34.0))
    assert(rows(2).getAs[Any]("/index.html_prev") == null) // no b1 /index data
    assert(approx(d(rows(2).getAs[Any]("/login_prev")), 12.0))
    assert(approx(d(rows(3).getAs[Any]("/login_prev")), 411.0))
    assert(rows(3).getAs[Any]("/index.html_prev") == null) // b3 > /index span
  }

  test("positive SHIFT looks forward (the reference's sign semantics)") {
    // '-2s' compares each bucket to the PREVIOUS one (look-back, the
    // idiom); '2s' must compare to the NEXT one — the reference keeps the
    // duration's sign (seq.go:244 shiftBack = -1*Shift()), and the old
    // abs() here silently collapsed both spellings onto look-back
    val df = sql(
      """SELECT requests, SHIFT(requests, '2s') AS next
        |FROM inbound WHERE path IS NOT NULL
        |GROUP BY _, period('2s') ORDER BY _time""".stripMargin)
    val rows = df.collect()
    // totals series per 2s bucket: [90, 12, 934, 28]
    assert(rows.length == 4)
    assert(approx(d(rows(0).getAs[Any]("next")), 12.0))
    assert(approx(d(rows(1).getAs[Any]("next")), 934.0))
    assert(approx(d(rows(2).getAs[Any]("next")), 28.0))
    assert(rows(3).getAs[Any]("next") == null,
      "nothing lies beyond the last bucket")
  }

  test("SHIFT inside CROSSTABT shifts the totals series too") {
    val df = sql(
      """SELECT requests, SHIFT(requests, '-2s') AS prev
        |FROM inbound WHERE path IS NOT NULL
        |GROUP BY CROSSTABT(path), period('2s') ORDER BY _time""".stripMargin)
    val rows = df.collect()
    // totals series: [90, 12, 934, 28]
    assert(approx(d(rows(1).getAs[Any]("total_prev")), 90.0))
    assert(approx(d(rows(2).getAs[Any]("total_prev")), 12.0))
    assert(approx(d(rows(3).getAs[Any]("total_requests")), 28.0))
  }

  test("CROSSTABT adds total_ columns") {
    val df = sql(
      """SELECT requests FROM inbound
        |WHERE path IS NOT NULL GROUP BY server, CROSSTABT(path)
        |ORDER BY server""".stripMargin)
    assert(df.columns.contains("total_requests"))
    val rows = df.collect()
    assert(approx(d(rows(0).getAs[Any]("total_requests")), 102.0))
    assert(approx(d(rows(1).getAs[Any]("total_requests")), 962.0))
  }

  test("SHIFT reads prior bucket value") {
    val rows = sql(
      """SELECT requests, SHIFT(requests, '-2s') AS prev
        |FROM inbound GROUP BY _, period('2s') ORDER BY _time""".stripMargin)
      .collect()
    // bucket sums: [90, 12, 934, 28]; prev shifts by one 2s bucket. The
    // series is dense WITHIN its data span only — nothing past the last
    // data bucket (reference sequences end at the last flushed bucket).
    assert(rows.length == 4)
    assert(rows(0).getAs[Any]("prev") == null)
    assert(approx(d(rows(1).getAs[Any]("prev")), 90.0))
    assert(approx(d(rows(2).getAs[Any]("prev")), 12.0))
    assert(approx(d(rows(3).getAs[Any]("prev")), 934.0))
  }

  test("SHIFT aligns across NULL dim keys (null-safe self-join)") {
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("k", StringType),
      StructField("v", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Timestamp(T0), null, Double.box(1.0)),
      Row(new java.sql.Timestamp(T0 + 2000), null, Double.box(5.0)),
      Row(new java.sql.Timestamp(T0 + 2000), "a", Double.box(7.0))), 1), sch)
    val cat = new Catalog(Map("t" -> Catalog.classify("t", df)))
    val rows = Engine.sql(cat,
      """SELECT v, SHIFT(v, '-2s') AS prev FROM t
        |GROUP BY k, period('2s') ORDER BY k, _time""".stripMargin,
      () => T0 + 8000).collect()
    // NULL-keyed bucket at T0+2s must see the NULL-keyed value from T0
    // (no trailing row: the series span ends at T0+2s)
    val nullRows = rows.filter(_.getAs[String]("k") == null)
    assert(nullRows.length == 2)
    assert(approx(d(nullRows(1).getAs[Any]("prev")), 1.0))
    val aRow = rows.filter(_.getAs[String]("k") == "a")
    assert(aRow.head.getAs[Any]("prev") == null)
  }

  test("FROM subquery re-aggregates") {
    val rows = sql(
      """SELECT _points, requests FROM
        |  (SELECT requests FROM inbound GROUP BY server, path)
        |GROUP BY _""".stripMargin).collect()
    assert(rows.length == 1)
    // inner: 4 (server,path) groups with requests set; the 2 null-path
    // groups have no selected value and are flatten-skipped
    assert(approx(d(rows(0).getAs[Any]("_points")), 4.0))
    assert(approx(d(rows(0).getAs[Any]("requests")), 1064.0))
  }

  test("IN-subquery lowers to semi-join") {
    val rows = sql(
      """SELECT requests FROM inbound
        |WHERE path IN (SELECT path FROM inbound WHERE status = 500 GROUP BY path)
        |GROUP BY server ORDER BY server""".stripMargin).collect()
    assert(rows.length == 2)
    assert(approx(d(rows(0).getAs[Any]("requests")), 46.0))
    assert(approx(d(rows(1).getAs[Any]("requests")), 439.0))
  }

  test("NOT IN subquery lowers to anti-join") {
    val rows = sql(
      """SELECT requests FROM inbound
        |WHERE path NOT IN (SELECT path FROM inbound WHERE status = 500 GROUP BY path)
        |GROUP BY server, path ORDER BY server, path""".stripMargin).collect()
    // /login excluded (had 500s); null-path rows excluded by anti-join? no —
    // anti keeps rows whose key doesn't match; null never matches => kept,
    // but those rows have null requests => flatten-skipped
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("path") == "/index.html"))
  }

  test("IN-subquery under OR/NOT executes two-phase (collect + membership)") {
    // OR shape: 500-path rows OR index rows — everything with a path matches
    val rows = sql(
      """SELECT requests FROM inbound
        |WHERE path IN (SELECT path FROM inbound WHERE status = 500 GROUP BY path)
        |   OR path = '/index.html'
        |GROUP BY server ORDER BY server""".stripMargin).collect()
    assert(rows.length == 2)
    assert(approx(d(rows(0).getAs[Any]("requests")), 102.0)) // 56+34+12
    assert(approx(d(rows(1).getAs[Any]("requests")), 962.0)) // 523+411+28
    // NOT(...) wrapping forces the membership path; equals the anti-join
    val notWrapped = sql(
      """SELECT requests FROM inbound
        |WHERE NOT (path IN (SELECT path FROM inbound WHERE status = 500 GROUP BY path))
        |GROUP BY server, path ORDER BY server, path""".stripMargin).collect()
    val anti = sql(
      """SELECT requests FROM inbound
        |WHERE path NOT IN (SELECT path FROM inbound WHERE status = 500 GROUP BY path)
        |GROUP BY server, path ORDER BY server, path""".stripMargin).collect()
    assert(notWrapped.map(_.toString).toSeq == anti.map(_.toString).toSeq)
  }

  test("two-phase IN membership collect is bounded (fail-fast, not driver OOM)") {
    System.setProperty("graft.maxInMembershipValues", "1")
    try {
      val ex = intercept[IllegalArgumentException] {
        sql(
          """SELECT requests FROM inbound
            |WHERE NOT (path IN (SELECT path FROM inbound GROUP BY path))
            |GROUP BY server""".stripMargin).collect()
      }
      assert(ex.getMessage.contains("distinct values"), ex.getMessage)
    } finally System.clearProperty("graft.maxInMembershipValues")
  }

  test("null dims are first-class IN-subquery members (join ≡ membership)") {
    // The reference collects subquery dims (nil included) into a set and
    // tests membership (planner/subquery.go:54-72) — two-valued, never SQL
    // three-valued. The ungrouped-path subquery below yields the nil path
    // group, so both null-path points must match on BOTH execution paths.
    val semi = sql(
      """SELECT _points FROM inbound
        |WHERE path IN (SELECT path FROM inbound GROUP BY path)
        |GROUP BY _""".stripMargin).collect()
    assert(approx(d(semi(0).getAs[Any]("_points")), 8.0))
    // same predicate forced through the two-phase membership path (OR shape)
    val member = sql(
      """SELECT _points FROM inbound
        |WHERE path IN (SELECT path FROM inbound GROUP BY path)
        |   OR server = 'nope'
        |GROUP BY _""".stripMargin).collect()
    assert(approx(d(member(0).getAs[Any]("_points")), 8.0))
    // complement is exactly empty — a null in the set does NOT drop every
    // row under NOT (SQL NOT IN would); membership is simply inverted
    val anti = sql(
      """SELECT _points FROM inbound
        |WHERE path NOT IN (SELECT path FROM inbound GROUP BY path)
        |GROUP BY _""".stripMargin).collect()
    assert(anti.isEmpty)
    val notMember = sql(
      """SELECT _points FROM inbound
        |WHERE NOT (path IN (SELECT path FROM inbound GROUP BY path))
        |GROUP BY _""".stripMargin).collect()
    assert(notMember.isEmpty)
    // non-null set: null dims are NOT members, so NOT keeps them — anti-join
    // and membership paths agree (4 = 2× /index.html + 2× nil path)
    val antiKeep = sql(
      """SELECT _points FROM inbound
        |WHERE path NOT IN (SELECT path FROM inbound WHERE status = 500 GROUP BY path)
        |GROUP BY _""".stripMargin).collect()
    assert(approx(d(antiKeep(0).getAs[Any]("_points")), 4.0))
    val notMemberKeep = sql(
      """SELECT _points FROM inbound
        |WHERE NOT (path IN (SELECT path FROM inbound WHERE status = 500 GROUP BY path))
        |GROUP BY _""".stripMargin).collect()
    assert(approx(d(notMemberKeep(0).getAs[Any]("_points")), 4.0))
  }

  test("nested FROM-subqueries re-aggregate at each level") {
    val rows = sql(
      """SELECT requests, _points FROM
        |  (SELECT requests, _points FROM
        |    (SELECT requests FROM inbound GROUP BY server, path)
        |   GROUP BY server)
        |GROUP BY _""".stripMargin).collect()
    assert(rows.length == 1)
    assert(approx(d(rows(0).getAs[Any]("requests")), 1064.0))
    // _points propagates by summation: 4 inner rows -> 2+2 across servers
    assert(approx(d(rows(0).getAs[Any]("_points")), 4.0))
  }

  test("ASOF/UNTIL filter the time range") {
    val rows = sql(
      """SELECT _points FROM inbound ASOF '-6s' UNTIL '-2s' GROUP BY _""")
      .collect()
    // now = T0+8000; range [T0+2000, T0+6000) = 4 points
    assert(rows.length == 1)
    assert(approx(d(rows(0).getAs[Any]("_points")), 4.0))
  }

  test("LIMIT and OFFSET page through sorted rows") {
    val rows = sql(
      """SELECT requests FROM inbound GROUP BY server, path
        |ORDER BY requests DESC LIMIT 1, 2""".stripMargin).collect()
    assert(rows.length == 2)
    // (server,path) groups desc: 523, 439, 56, 46, null, null
    assert(approx(d(rows(0).getAs[Any]("requests")), 439.0))
    assert(approx(d(rows(1).getAs[Any]("requests")), 56.0))
  }

  test("LN/LOG2/LOG10 and constant fields") {
    val rows = sql(
      """SELECT LN(requests) AS l1, LOG2(requests) AS l2, LOG10(requests) AS l3,
        |  5.1 AS cval FROM inbound GROUP BY _""".stripMargin).collect()
    val total = 1064.0
    assert(approx(d(rows(0).getAs[Any]("l1")), math.log(total)))
    assert(approx(d(rows(0).getAs[Any]("l2")), math.log(total) / math.log(2)))
    assert(approx(d(rows(0).getAs[Any]("l3")), math.log10(total)))
    assert(approx(d(rows(0).getAs[Any]("cval")), 5.1))
  }

  test("STRIDE keeps first resolution slice per stride") {
    val rows = sql(
      """SELECT _points FROM inbound GROUP BY _, period('2s'), STRIDE('4s')
        |ORDER BY _time""".stripMargin).collect()
    // 4s strides starting at bucket T0 (T0 divisible by 4s? T0=1.7e12:
    // 1700000000000 % 4000 = 0) — slices keep ts in first 2s of each 4s
    assert(rows.length == 2)
    assert(rows.forall(r => approx(d(r.getAs[Any]("_points")), 2.0)))
  }

  test("GROUP BY * groups by all dims") {
    val rows = sql("SELECT requests FROM inbound GROUP BY * ORDER BY requests DESC")
      .collect()
    // 6 groups carry requests; the 2 load_avg-only groups are flatten-skipped
    assert(rows.length == 6)
  }

  test("CROSSHIFT expands to shifted field columns") {
    val rows = sql(
      """SELECT _points, CROSSHIFT(requests, '-4s', '2s') AS r
        |FROM inbound GROUP BY _, period('2s') ORDER BY _time""".stripMargin)
      .collect()
    assert(rows.length == 4)
    // bucket sums: [90, 12, 934, 28]; r_2s reads one 2s bucket back
    assert(approx(d(rows(1).getAs[Any]("r")), 12.0))
    assert(approx(d(rows(1).getAs[Any]("r_2s")), 90.0))
    assert(rows(0).getAs[Any]("r_2s") == null)
    assert(approx(d(rows(3).getAs[Any]("r_2s")), 934.0))
  }

  test("IF(cond, _) marks groups with any matching point") {
    val rows = sql(
      """SELECT IF(status = 500, _) AS had_errors FROM inbound
        |GROUP BY server, path ORDER BY server, path""".stripMargin).collect()
    val byKey = rows.map(r => (r.getAs[String]("server"), r.getAs[String]("path")) ->
      d(r.getAs[Any]("had_errors"))).toMap
    assert(byKey(("56.234.163.23", "/login")) == 1.0)
    assert(byKey(("56.234.163.23", "/index.html")) == 0.0)
  }

  test("pluggable dim-function providers (broadcast-lookup style)") {
    val cityMap = Map("56.234.163.23" -> "lisbon", "56.234.163.24" -> "porto")
    graft.exprs.Builders.registerDimFnProvider("CITY", cols =>
      org.apache.spark.sql.functions.udf((ip: String) =>
        if (ip == null) null else cityMap.getOrElse(ip, "unknown")).apply(cols.head))
    val rows = sql(
      """SELECT requests FROM inbound GROUP BY CITY(server) AS city
        |ORDER BY city""".stripMargin).collect()
    assert(rows.map(_.getAs[String]("city")).toSeq == Seq("lisbon", "porto"))
    assert(approx(d(rows(0).getAs[Any]("requests")), 102.0))
    assert(approx(d(rows(1).getAs[Any]("requests")), 962.0))
  }

  test("dimension functions derive group keys") {
    val rows = sql(
      """SELECT requests FROM inbound WHERE path IS NOT NULL
        |GROUP BY SPLIT(server, '.', 3) AS last_octet
        |ORDER BY last_octet""".stripMargin).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("last_octet") == "23")
    assert(rows(1).getAs[String]("last_octet") == "24")
  }

  test("query deadline: expiry cancels the job group; fast queries finish") {
    // fast query, generous deadline: returns normally
    val ok = Engine.sqlTimed(catalog,
      "SELECT requests FROM inbound GROUP BY server", 60000L, () => T0 + 8000)
    assert(ok.length == 2)
    // slow query (sleeping rows), 300ms deadline: TimeoutException, promptly
    import org.apache.spark.sql.functions._
    val slowUdf = udf { (x: Long) => Thread.sleep(500L); x.toDouble }
    val slow = spark.range(64).select(
      org.apache.spark.sql.functions.col("id"),
      slowUdf(org.apache.spark.sql.functions.col("id")).as("v"),
      lit(new java.sql.Timestamp(T0)).as("ts"))
    val cat = new Catalog(Map("slowt" -> Catalog.classify("slowt", slow)))
    val t0 = System.nanoTime()
    intercept[java.util.concurrent.TimeoutException] {
      Engine.sqlTimed(cat, "SELECT SUM(v) AS s FROM slowt GROUP BY _",
        300L, () => T0 + 8000)
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs < 10000, s"cancel was not prompt: ${elapsedMs}ms")
  }

  test("sqlWithStats reports QueryStats on both completing and expiring queries") {
    // completing: rows + completed=true + a real elapsed time
    val ok = Engine.sqlWithStats(catalog,
      "SELECT requests FROM inbound GROUP BY server", 60000L, () => T0 + 8000)
    assert(ok.stats.completed)
    assert(ok.rows.length == 2 && ok.stats.rows == 2)
    assert(ok.stats.elapsedMs >= 0)
    // expiring: no throw — empty rows with completed=false
    import org.apache.spark.sql.functions._
    val slowUdf = udf { (x: Long) => Thread.sleep(500L); x.toDouble }
    val slow = spark.range(64).select(
      org.apache.spark.sql.functions.col("id"),
      slowUdf(org.apache.spark.sql.functions.col("id")).as("v"),
      lit(new java.sql.Timestamp(T0)).as("ts"))
    val cat = new Catalog(Map("slowt" -> Catalog.classify("slowt", slow)))
    val expired = Engine.sqlWithStats(cat,
      "SELECT SUM(v) AS s FROM slowt GROUP BY _", 300L, () => T0 + 8000)
    assert(!expired.stats.completed)
    assert(expired.rows.isEmpty && expired.stats.rows == 0)
  }

  test("no GROUP BY clause defaults to grouping by every dim (sql.go:601)") {
    val rows = sql("SELECT requests FROM inbound").collect()
    // one row per distinct (server, path, status) combination; the two
    // load_avg-only points have `requests` unset and are skipped (Flatten
    // drops rows where every selected field is unset)
    assert(rows.length == 6)
    assert(rows.head.schema.fieldNames.toSet ==
      Set("server", "path", "status", "requests"))
  }

  test("GROUP BY * composes with explicit extra dims (planner_test.go \"group by all\")") {
    val all = sql("SELECT requests FROM inbound GROUP BY *").collect()
    val plus = sql("SELECT requests FROM inbound GROUP BY *, CONCAT('_', server, path) AS c")
      .collect()
    assert(plus.length >= all.length)
    assert(plus.head.schema.fieldNames.contains("c"))
  }

  test("period wider than the ASOF/UNTIL window re-buckets at the window (local.go:152)") {
    val q =
      s"""SELECT requests FROM inbound
         |ASOF '${java.time.Instant.ofEpochMilli(T0 + 2000)}'
         |UNTIL '${java.time.Instant.ofEpochMilli(T0 + 6000)}'
         |GROUP BY _, period('1h')""".stripMargin
    val times = sql(q).collect().map(_.getAs[java.sql.Timestamp]("_time")).distinct
    // 1h is capped to the 4s window; T0 is 4s-aligned, so rows at +2,+3s and
    // +4,+5s land in two distinct 4s buckets (uncapped 1h would give one)
    assert(times.length == 2, times.toSeq.toString)
  }

  test("DATE-typed time columns participate in period()/ASOF as midnight UTC") {
    // real-world parquet often carries DATE (e.g. an orderdate); classify
    // promotes it to the table's time column instead of rejecting period()
    val sch = StructType(Seq(
      StructField("d", DateType), StructField("v", DoubleType)))
    val day = 86400000L
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Date(T0 - (T0 % day)), Double.box(1.0)),
      Row(new java.sql.Date(T0 - (T0 % day) + day), Double.box(2.0)),
      Row(new java.sql.Date(T0 - (T0 % day) + day), Double.box(4.0))), 1), sch)
    val cat = new Catalog(Map("bydate" -> Catalog.classify("bydate", df)))
    assert(cat.get("bydate").timeCol.contains("d"))
    val rows = Engine.sql(cat,
      "SELECT v FROM bydate GROUP BY _, period('1d') ORDER BY _time",
      () => T0 + 3 * day).collect()
    assert(rows.length == 2)
    assert(approx(d(rows(0).getAs[Any]("v")), 1.0))
    assert(approx(d(rows(1).getAs[Any]("v")), 6.0))
  }
}
