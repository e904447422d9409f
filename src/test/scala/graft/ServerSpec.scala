package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.server.HttpServer

/** README quickstart over the HTTP surface (web/handler.go parity):
  * JSON-lines insert, dialect query, cardinality estimates.
  */
class ServerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val T0 = 1700000000000L

  test("HTTP insert + run round trip") {
    val dir = Files.createTempDirectory("graft-http").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests, AVG(load_avg) AS load_avg
        |    FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new HttpServer(spark, db, 0)
    val port = srv.start()
    try {
      val points = Seq(
        s"""{"ts": ${T0}, "dims": {"server": "s1", "path": "/a", "status": 200}, "vals": {"requests": 56}}""",
        s"""{"ts": ${T0 + 1000}, "dims": {"server": "s1", "path": "/b", "status": 500}, "vals": {"requests": 12}}""",
        s"""{"ts": ${T0 + 2000}, "dims": {"server": "s2", "path": "/a", "status": 200}, "vals": {"requests": 30}}""",
        s"""{"ts": ${T0 + 3000}, "dims": {"server": "s1"}, "vals": {"load_avg": 1.5}}"""
      ).mkString("\n")
      val client = HttpClient.newHttpClient()
      val ins = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/insert/inbound"))
          .POST(HttpRequest.BodyPublishers.ofString(points)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ins.statusCode() == 200, ins.body())
      assert(ins.body().contains("\"inserted\":4"))

      val sql = java.net.URLEncoder.encode(
        "SELECT _points, requests, load_avg FROM combined GROUP BY server ORDER BY requests DESC",
        "UTF-8")
      val run = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/run?sql=$sql"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(run.statusCode() == 200, run.body())
      val body = run.body()
      assert(body.contains("\"rows\":["))
      assert(body.contains("\"server\":\"s1\"") && body.contains("\"server\":\"s2\""))
      assert(body.contains("\"requests\":68.0")) // 56+12 on s1
      assert(body.contains("\"load_avg\":1.5"))
      assert(body.contains("\"cardinalities\""))
      // QueryStats surface (common/common.go:57-64 analogue)
      assert(body.contains("\"stats\":{") &&
        body.contains("\"completed\":true"), body)
      // a generous explicit timeout completes normally too
      val runT = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/run?sql=$sql&timeout=60s"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(runT.body().contains("\"completed\":true"), runT.body())
      assert(runT.body().contains("\"requests\":68.0"), runT.body())

      // RFC3339 ts strings parse too (web/insert.go accepts both)
      val iso = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/insert/inbound"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"ts": "2023-11-14T22:13:21Z", "dims": {"server": "s2", "path": "/a", "status": 200}, "vals": {"requests": 5}}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(iso.statusCode() == 200, iso.body())
      val run2 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/run?sql=$sql"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(run2.body().contains("\"requests\":35.0"), run2.body()) // 30+5 on s2

      // malformed query → structured 400
      val bad = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/run?sql=NOT%20SQL"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("\"error\""))

      // ops compaction: POST /compact/{table} consolidates generations
      // (two inserts above → >1 gen) and queries answer unchanged after
      val comp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/compact/combined"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(comp.statusCode() == 200, comp.body())
      assert(comp.body().contains("\"day_dirs_rewritten\""), comp.body())
      val run3 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/run?sql=$sql"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(run3.body().contains("\"requests\":68.0"), run3.body())
      // GET is rejected — compaction is a mutation
      val compGet = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/compact/combined"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(compGet.statusCode() == 400, compGet.body())
      // unknown table → structured 400, not a handler crash
      val compBad = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/compact/nosuch"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(compBad.statusCode() == 400 && compBad.body().contains("\"error\""),
        compBad.body())

      // async + cached permalink (web/handler.go:117-124, web/cache.go):
      // /async returns a permalink immediately; /cached/{permalink} polls it
      def get(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
          .GET().build(), HttpResponse.BodyHandlers.ofString()).body()
      val asy = get(s"/async?sql=$sql")
      val permalink = "\"permalink\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(asy).map(_.group(1)).get
      var cached = get(s"/cached/$permalink")
      val deadline = System.currentTimeMillis() + 30000
      while (!cached.contains("\"status\":\"succeeded\"") &&
             !cached.contains("\"status\":\"failed\"") &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(100); cached = get(s"/cached/$permalink")
      }
      assert(cached.contains("\"status\":\"succeeded\""), cached)
      assert(cached.contains("\"rows\":["))
      // same SQL within the TTL reuses the SAME cache entry/permalink
      assert(get(s"/async?sql=$sql").contains(permalink))
      // unknown permalink is a structured miss
      assert(get("/cached/nope").contains("\"status\":\"unknown\""))
      // /immediate skips the cache and answers inline
      assert(get(s"/immediate?sql=$sql").contains("\"rows\":["))
    } finally srv.stop()
  }

  test("the root serves the embedded query console; unknown paths 404") {
    val dir = Files.createTempDirectory("graft-web").toString
    val yaml = "t:\n  sql: >\n    SELECT v FROM s GROUP BY k, period(5m)\n"
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new HttpServer(spark, db, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      val idx = get("/")
      assert(idx.statusCode() == 200, idx.body())
      assert(idx.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/html"))
      // the page is the /run console: textarea + fetch('/run') wiring, and
      // it renders rows, cardinalities and the stats line
      for (marker <- Seq("<textarea", "fetch('/run'", "cardinalities", "stats"))
        assert(idx.body().contains(marker), s"console page lost '$marker'")
      assert(get("/index.html").statusCode() == 200)
      val miss = get("/no/such/path")
      assert(miss.statusCode() == 404, miss.body())
      assert(miss.body().contains("not found"))
      // a %5C-encoded backslash (or control chars) must still yield VALID
      // JSON — the error body is parsed by clients
      val esc = get("/a%5Cb%22c")
      assert(esc.statusCode() == 404, esc.body())
      assert(esc.body().contains("\\\\") && esc.body().contains("\\\""),
        s"404 body must JSON-escape the path: ${esc.body()}")
    } finally srv.stop()
  }

  test("async cache evicts expired entries (no permalink leak)") {
    val dir = Files.createTempDirectory("graft-http-ttl").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    // ttl=0: every entry is expired by the time the next request sweeps
    val srv = new HttpServer(spark, db, 0, cacheTtlMillis = 0L)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
          .GET().build(), HttpResponse.BodyHandlers.ofString()).body()
      val sql = java.net.URLEncoder.encode(
        "SELECT requests FROM combined GROUP BY server", "UTF-8")
      val asy = get(s"/async?sql=$sql")
      val permalink = "\"permalink\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(asy).map(_.group(1)).get
      // a second async with the same SQL does NOT reuse the expired entry...
      val asy2 = get(s"/async?sql=$sql")
      assert(!asy2.contains(permalink), asy2)
      // ...and the expired permalink has been swept from the cache
      assert(get(s"/cached/$permalink").contains("\"status\":\"unknown\""))
    } finally srv.stop()
  }

  test("deadline expiry over HTTP: prompt partial response, consistent counts, truncated flag") {
    val dir = Files.createTempDirectory("graft-http-deadline").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new HttpServer(spark, db, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      // 64 distinct servers so the slow per-group dim function dominates
      val lines = (1 to 64).map(i =>
        s"""{"ts": $T0, "dims": {"server": "s$i"}, "vals": {"requests": $i}}""")
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/insert/inbound"))
          .POST(HttpRequest.BodyPublishers.ofString(lines.mkString("\n")))
          .build(), HttpResponse.BodyHandlers.ofString())
      val slowUdf = org.apache.spark.sql.functions.udf {
        (s: String) => Thread.sleep(500L); s
      }
      graft.functions.Redis.registerScript("spec_slow", (a, _) => slowUdf(a))
      val sql = java.net.URLEncoder.encode(
        "SELECT requests FROM combined GROUP BY LUA('spec_slow', server, server) AS sv",
        "UTF-8")
      val t0 = System.nanoTime()
      val resp = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/run?sql=$sql&timeout=300ms"))
          .GET().build(), HttpResponse.BodyHandlers.ofString()).body()
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      // 64 groups × 500 ms sleeps cannot finish in 300 ms; the response must
      // come back promptly (cancel worked), marked incomplete AND truncated
      assert(elapsedMs < 35000, s"deadline did not cancel promptly: ${elapsedMs}ms")
      assert(resp.contains("\"completed\":false"), resp)
      assert(resp.contains("\"truncated\":true"), resp)
      // stats.rows must equal the number of rows actually serialized — both
      // come from one post-cancel snapshot of the drain queue
      val nRows = "\"rows\":\\[([^\\]]*)\\]".r.findFirstMatchIn(resp)
        .map(m => if (m.group(1).isEmpty) 0 else m.group(1).count(_ == '{')).get
      val statRows = "\"stats\":\\{[^}]*\"rows\":(\\d+)".r
        .findFirstMatchIn(resp).map(_.group(1).toInt).get
      assert(nRows == statRows, resp)

      // gzip negotiation (the reference gzips query results,
      // web/query.go:129): a large result with Accept-Encoding: gzip comes
      // back compressed and decodes to the same JSON a plain request gets
      val plainSql = java.net.URLEncoder.encode(
        "SELECT requests FROM combined GROUP BY server ORDER BY requests DESC",
        "UTF-8")
      val plain = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/run?sql=$plainSql"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(plain.headers().firstValue("Content-Encoding").isEmpty)
      val zipped = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/run?sql=$plainSql"))
          .header("Accept-Encoding", "gzip")
          .GET().build(), HttpResponse.BodyHandlers.ofByteArray())
      assert(zipped.headers().firstValue("Content-Encoding").orElse("") == "gzip")
      assert(zipped.body().length < plain.body().getBytes("UTF-8").length)
      val unzipped = new String(
        new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(zipped.body())).readAllBytes(), "UTF-8")
      def rowsOf(s: String) = "\"rows\":\\[[^\\]]*\\]".r.findFirstIn(s).get
      assert(rowsOf(unzipped) == rowsOf(plain.body()))
      // an explicit q=0 is a REFUSAL (RFC 7231), not an acceptance
      val refused = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/run?sql=$plainSql"))
          .header("Accept-Encoding", "gzip;q=0, identity")
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(refused.headers().firstValue("Content-Encoding").isEmpty)
      assert(rowsOf(refused.body()) == rowsOf(plain.body()))
      // "*" accepts gzip when gzip isn't named (RFC 9110 §12.5.3)...
      val star = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/run?sql=$plainSql"))
          .header("Accept-Encoding", "*")
          .GET().build(), HttpResponse.BodyHandlers.ofByteArray())
      assert(star.headers().firstValue("Content-Encoding").orElse("") == "gzip")
      // ...but an EXPLICIT gzip;q=0 outranks "*": still a refusal
      val starRefused = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/run?sql=$plainSql"))
          .header("Accept-Encoding", "gzip;q=0, *")
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(starRefused.headers().firstValue("Content-Encoding").isEmpty)
      assert(rowsOf(starRefused.body()) == rowsOf(plain.body()))
      // a malformed qvalue is a refusal, not a silent acceptance: garbage is
      // not an opt-in to compression
      val malformed = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/run?sql=$plainSql"))
          .header("Accept-Encoding", "gzip;q=junk")
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(malformed.headers().firstValue("Content-Encoding").isEmpty)
      // duplicate members resolve first-wins: "gzip;q=1, gzip;q=0" accepts,
      // "gzip;q=0, gzip;q=1" refuses
      val dupAccept = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/run?sql=$plainSql"))
          .header("Accept-Encoding", "gzip;q=1, gzip;q=0")
          .GET().build(), HttpResponse.BodyHandlers.ofByteArray())
      assert(dupAccept.headers().firstValue("Content-Encoding").orElse("") == "gzip")
      val dupRefuse = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/run?sql=$plainSql"))
          .header("Accept-Encoding", "gzip;q=0, gzip;q=1")
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(dupRefuse.headers().firstValue("Content-Encoding").isEmpty)
    } finally srv.stop()
  }

  test("oversized request bodies get a clean 400, not an OOM buffer") {
    val dir = Files.createTempDirectory("graft-http-body").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new HttpServer(spark, db, 0, maxBodyBytes = 4096)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val big = "x" * 8192
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/insert/inbound"))
          .POST(HttpRequest.BodyPublishers.ofString(big)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 400, resp.body())
      assert(resp.body().contains("request body exceeds"), resp.body())
      // the server survives and still accepts a sane insert afterwards
      val ok = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/insert/inbound"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"ts": $T0, "dims": {"server": "s1"}, "vals": {"requests": 1}}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
      assert(ok.body().contains("\"inserted\":1"), ok.body())
    } finally srv.stop()
  }

  test("daemon: --maintain-interval compacts an enrolled fragmented index; stream resumes, no rows lost") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-maint-daemon").toString
    val schemaFile = Files.createTempFile("maint-schema", ".yaml")
    Files.writeString(schemaFile,
      """combined:
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin)
    // a near-dup index fragmented by three streamed admit rounds (~one
    // file per touched prefix per batch), with its maintenance stream
    // attached — exactly the state an operator enrolls with the daemon
    val idx = Files.createTempDirectory("maint-idx").toString + "/i"
    val ckpt = Files.createTempDirectory("maint-ckpt").toString
    val seed = (0L until 40L).map(i => (i, s"seed corpus text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    def attachAt(path: String) = graft.streaming.NearDupIndexStream.attach(
      mem.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"),
      path, ckpt, n = 1, numHashes = 64, bands = 32, threshold = 0.9)
    val q0 = attachAt(idx)
    for (r <- 1 to 3) {
      mem.addData((0L until 30L).map(i => (1000L * r + i, s"round r$r doc i$i")))
      q0.processAllAvailable()
    }
    val rowsBefore = spark.read.parquet(idx).count()
    // boot the daemon with a short maintenance period and enroll the index
    val running = Server.start(spark, schemaFile.toString, dir,
      watchSchema = false, maintainIntervalMs = 250L)
    try {
      running.db.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
        stream = Some(q0), restart = Some(p => attachAt(p)),
        gcOldGenerations = true)
      // the DAEMON's thread must run the tick: poll its observed statuses
      val deadline = System.currentTimeMillis() + 30000
      while (!running.db.lastMaintenance.exists(_._2.startsWith("compacted")) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val status = running.db.lastMaintenance
      assert(status.exists { case (n, s) =>
        n == "nd" && s == s"compacted -> $idx-g1" }, status.toString)
      assert(!q0.isActive, "daemon must have quiesced the old stream")
      // dest complete (meta carried), defragmented, no rows lost
      val dest = s"$idx-g1"
      assert(Files.readString(java.nio.file.Paths.get(dest, "_index.txt"))
        .contains("appends=3"))
      val perPrefix = spark.read.parquet(dest).inputFiles
        .groupBy(f => f.split("/").takeRight(2).head).values.map(_.length).max
      assert(perPrefix === 1, s"dest still fragmented: $perPrefix")
      assert(spark.read.parquet(dest).count() === rowsBefore)
      // the restarted stream admits into the DEST; the next tick reports ok
      mem.addData(Seq((9000L, "post compact novel doc")))
      val deadline2 = System.currentTimeMillis() + 30000
      while (!spark.read.parquet(dest).select(col("id"))
               .filter(col("id") === 9000L).head(1).nonEmpty &&
             System.currentTimeMillis() < deadline2) {
        Thread.sleep(200)
      }
      assert(spark.read.parquet(dest).filter(col("id") === 9000L).count() === 1,
        "restarted stream not admitting into dest")
      val deadline3 = System.currentTimeMillis() + 30000
      while (!running.db.lastMaintenance.exists { case (n, s) =>
               n == "nd" && s.startsWith("ok") } &&
             System.currentTimeMillis() < deadline3)
        Thread.sleep(100)
      assert(running.db.lastMaintenance.exists { case (n, s) =>
        n == "nd" && s.startsWith("ok") }, running.db.lastMaintenance.toString)
      // gcOldGenerations: the superseded generation (here the original
      // source dir) is deleted by the tick AFTER the flip — one full
      // period for readers of the old path to drain
      assert(!Files.exists(java.nio.file.Paths.get(idx)),
        "old generation not GC'd by the post-flip tick")
      // the ops surface exposes the daemon's last pass per enrolled index.
      // With maxFilesPerPrefix = 1, the post-compaction admit above puts a
      // second file into a prefix of g1 whenever doc 9000 hashes to an
      // occupied prefix (it does here), so a later tick rightly compacts
      // once more, to g2. Wait for the lifecycle to settle: last pass ok,
      // the active generation's deletion queue drained.
      def metrics(): String = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(
              s"http://localhost:${running.httpPort}/metrics"))
          .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      val settled = (java.util.regex.Pattern.quote(s""""nd":{"path":"$idx-g""") +
        """(\d+)","generation":(\d+),"pendingGc":0,"leasedGc":0}""").r
      def settledGen(body: String): Option[Int] =
        if (!body.contains("\"maintenance\":{\"nd\":\"ok")) None
        else settled.findFirstMatchIn(body).filter(m => m.group(1) == m.group(2))
          .map(_.group(1).toInt)
      val deadline4 = System.currentTimeMillis() + 30000
      var met = metrics()
      while (settledGen(met).isEmpty && System.currentTimeMillis() < deadline4) {
        Thread.sleep(100)
        met = metrics()
      }
      assert(met.contains("\"maintenance\":{\"nd\":\"ok"), met)
      // scan-saver cache pressure is part of the same ops surface
      assert(met.contains("\"persistCache\":{\"sites\":"), met)
      // per-index lifecycle state: the flip and its (already-GC'd, so
      // empty) deletion queue are visible to the operator
      assert(settledGen(met).exists(_ >= 1), met)
    } finally {
      running.db.maintainedState("nd").flatMap(_._2).foreach(_.stop())
      running.stop()
      if (q0.isActive) q0.stop()
    }
  }

  test("daemon recovers a drifted IVF-PQ index from its registered source corpus") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(53)
    // 4 tight 15-vector clusters at distinct corners: the seed geometry
    def cluster(cid: Int, base: Long, n: Int): Seq[(Long, Seq[Float], Int)] = {
      val center = Seq.tabulate(8)(d => if (d == cid % 8) 10.0f else 0.0f)
      (0 until n).map { j =>
        (base + j,
          center.map(c => c + (rnd.nextGaussian() * 0.4).toFloat), cid)
      }
    }
    val seed = (0 until 4).flatMap(c => cluster(c, 100L * c, 15))
      .toDF("vec_id", "embedding", "label")
    val idx = Files.createTempDirectory("pq-maint-idx").toString + "/i"
    val ckpt = Files.createTempDirectory("pq-maint-ckpt").toString
    graft.pipeline.Similarity.ivfPqBuildIfMissing(seed, col("embedding"),
      col("vec_id"), nCentroids = 6, m = 4, k = 8, idx)
    // drift: a memory stream delivers 60 vectors ALL in a new region —
    // they crowd the nearest frozen cells, so the top-nProbe probed
    // fraction rises over budget (the PQ family's trigger statistic)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float], Int)]
    def attachAt(path: String) = graft.streaming.AnnIndexStream.attachIvfPq(
      mem.toDF().toDF("vec_id", "embedding", "label"), col("embedding"),
      col("vec_id"), path, ckpt)
    val q0 = attachAt(idx)
    val drift = cluster(5, 900L, 60)
    mem.addData(drift)
    q0.processAllAvailable()
    val pfDrifted = graft.pipeline.Similarity.probedFraction(spark, idx, 2)
    val budget = 0.5
    assert(pfDrifted > budget,
      f"fixture must be drifted over budget: $pfDrifted%.2f")
    val dir = Files.createTempDirectory("pq-maint-db").toString
    val schemaFile = Files.createTempFile("pq-maint-schema", ".yaml")
    Files.writeString(schemaFile,
      """combined:
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin)
    val running = Server.start(spark, schemaFile.toString, dir,
      watchSchema = false, maintainIntervalMs = 250L)
    try {
      // the rebuild corpus (seed + everything streamed) is a registered
      // catalog table, resolved by the TICK — codes cannot re-cluster
      // from themselves, so the spec names where the vectors live
      val corpus = seed.unionByName(drift.toDF("vec_id", "embedding", "label"))
      running.db.registerTable("corpus", corpus)
      running.db.registerAnnIndex("pqm", idx, "embedding", "vec_id")
      running.db.registerPqMaintenance("pqm", idx, "corpus",
        "embedding", "vec_id", nProbe = 2, scanBudget = budget,
        stream = Some(q0), restart = Some(p => attachAt(p)))
      // the DAEMON's thread must run the recovery: poll its statuses
      val deadline = System.currentTimeMillis() + 60000
      while (!running.db.lastMaintenance.exists(_._2.startsWith("rebuilt")) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(running.db.lastMaintenance.exists { case (n, s) =>
        n == "pqm" && s == s"rebuilt -> $idx-g1" },
        running.db.lastMaintenance.toString)
      assert(!q0.isActive, "daemon must have quiesced the old stream")
      val dest = s"$idx-g1"
      // the rebuilt index holds exactly the corpus's rows, re-coded with
      // FRESH coarse cells + codebooks, and is complete (meta sentinel)
      graft.pipeline.Similarity.requireIndexComplete(dest)
      assert(spark.read.parquet(dest).count() === 120)
      // recovered: the trigger statistic is back under budget, so the
      // next passes report ok instead of rebuilding forever
      val deadline2 = System.currentTimeMillis() + 60000
      while (!running.db.lastMaintenance.exists { case (n, s) =>
               n == "pqm" && s.startsWith("ok") } &&
             System.currentTimeMillis() < deadline2)
        Thread.sleep(100)
      assert(running.db.lastMaintenance.exists { case (n, s) =>
        n == "pqm" && s.startsWith("ok") },
        running.db.lastMaintenance.toString)
      // the SIMSEARCH registration followed the flip: the dialect probes
      // the new generation and finds a drift vector's own neighborhood
      val qv = drift.head._2
      val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
        .toPlainString).mkString(",")
      val hits = running.db.sql(
        s"""SELECT score FROM SIMSEARCH('pqm', [$vecLit], 3, 3)
           |GROUP BY id ORDER BY id""".stripMargin).collect()
      assert(hits.length == 3)
      assert(hits.map(_.getAs[Long]("id")).forall(_ >= 900L),
        s"drift-region probe must hit drift vectors: ${hits.mkString(",")}")
      // the restarted stream admits into the DEST generation
      mem.addData(Seq((9999L, Seq.tabulate(8)(d =>
        if (d == 5) 10.0f else 0.0f), 5)))
      // the PQ index stores codes under its own layout (__id/__codes/__c)
      val deadline3 = System.currentTimeMillis() + 60000
      while (spark.read.parquet(dest).filter(col("__id") === 9999L)
               .head(1).isEmpty &&
             System.currentTimeMillis() < deadline3)
        Thread.sleep(200)
      assert(spark.read.parquet(dest).filter(col("__id") === 9999L)
        .count() === 1, "restarted stream not admitting into dest")
    } finally {
      running.db.maintainedState("pqm").flatMap(_._2).foreach(_.stop())
      running.stop()
      if (q0.isActive) q0.stop()
    }
  }

  test("POST /maintain forces a one-shot maintenance pass") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val idx = Files.createTempDirectory("http-maint-idx").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"http maint seed $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 2)
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"hm round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    val dir = Files.createTempDirectory("http-maint-db").toString
    val schemaFile = Files.createTempFile("http-maint-schema", ".yaml")
    Files.writeString(schemaFile,
      """combined:
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin)
    // NO --maintain-interval: the endpoint is the manual counterpart
    val running = Server.start(spark, schemaFile.toString, dir,
      watchSchema = false)
    try {
      running.db.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1)
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:${running.httpPort}/maintain"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      assert(resp.body().contains(s""""nd":"compacted -> $idx-g1""""),
        resp.body())
      // the forced pass is visible on /metrics like a daemon tick's
      val met = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:${running.httpPort}/metrics"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(met.body().contains("\"maintenance\":{\"nd\":\"compacted"),
        met.body())
      // GET refuses: the pass mutates state
      val get = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:${running.httpPort}/maintain"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 400, get.body())
    } finally running.stop()
  }

  test("registry stays responsive while a maintenance pass is mid-flight") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a fragmented near-dup index whose tick WILL compact
    val idx = Files.createTempDirectory("lock-idx").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"lock seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 2)
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"lock round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    val dir = Files.createTempDirectory("lock-db").toString
    val schemaFile = Files.createTempFile("lock-schema", ".yaml")
    Files.writeString(schemaFile,
      """combined:
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin)
    val running = Server.start(spark, schemaFile.toString, dir,
      watchSchema = false)
    val db = running.db
    db.registerDedupMaintenance("slow", idx, maxFilesPerPrefix = 1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    graft.pipeline.Dedup.crashHook = p =>
      if (p == "dedup.compact-data") { entered.countDown(); release.await() }
    @volatile var statuses: Seq[(String, String)] = Nil
    val tick = new Thread(() => { statuses = db.maintenanceTick() })
    tick.start()
    try {
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "compaction never reached the mid-flight hook")
      // with the pass mid-compaction, registry reads and registrations
      // must return promptly — neither may block behind the Spark job
      val probe = new Thread(() => {
        assert(db.maintainedState("slow").exists(_._1 == idx))
        db.registerDedupMaintenance("other",
          Files.createTempDirectory("lock-other").toString)
        assert(db.maintainedState("other").isDefined)
      })
      probe.start()
      probe.join(5000)
      assert(!probe.isAlive,
        "registry blocked behind a mid-flight maintenance pass")
      // an overlapping tick skips the claimed index instead of
      // double-compacting it
      val overlap = new java.util.concurrent.atomic.AtomicReference[Seq[(String, String)]](Nil)
      val t2 = new Thread(() => overlap.set(db.maintenanceTick()))
      t2.start(); t2.join(30000)
      assert(!t2.isAlive, "overlapping tick blocked behind the first pass")
      assert(overlap.get().exists { case (n, s) =>
        n == "slow" && s.startsWith("busy") }, overlap.get().toString)
    } finally {
      release.countDown()
      graft.pipeline.Dedup.crashHook = _ => ()
      tick.join(120000)
      running.stop()
    }
    assert(statuses.exists { case (n, s) =>
      n == "slow" && s == s"compacted -> $idx-g1" }, statuses.toString)
  }

  test("daemon maintenance driven purely by the schema yaml") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    def cluster(cid: Int, base: Long, n: Int): Seq[(Long, Seq[Float])] = {
      val center = Seq.tabulate(6)(d => if (d == cid % 6) 10.0f else 0.0f)
      (0 until n).map { j =>
        (base + j, center.map(c => c + (rnd.nextGaussian() * 0.4).toFloat))
      }
    }
    val seed = (0 until 4).flatMap(c => cluster(c, 100L * c, 15))
      .toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("yaml-maint-idx").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(seed, col("embedding"),
      col("vec_id"), nCentroids = 6, idx)
    // drift the IVF index: 120 appends all in ONE direction (corner 0)
    // crowd that direction's frozen cell(s); a rebuild with fresh
    // centroids re-balances by splitting the dense direction's angular
    // noise across several cells
    graft.pipeline.Similarity.ivfAppend(spark, idx,
      cluster(0, 900L, 120).toDF("vec_id", "embedding"),
      col("embedding"), col("vec_id"))
    val pfDrifted = graft.pipeline.Similarity.probedFraction(spark, idx, 2)
    // budget from the MEASURED drifted statistic: the trigger is
    // guaranteed, and the recovery assertion below then checks the policy's
    // actual promise — a fresh re-cluster lands meaningfully under the
    // drifted probe cost
    val budget = pfDrifted - 0.02
    assert(budget > 0.2, f"fixture not drifted enough: $pfDrifted%.2f")
    val dir = Files.createTempDirectory("yaml-maint-db").toString
    val schemaFile = Files.createTempFile("yaml-maint-schema", ".yaml")
    // EVERYTHING is declared: the index registration AND its maintenance
    // enrollment — no Scala call touches the db after boot
    Files.writeString(schemaFile,
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY *, period(5m)
         |vidx:
         |  annindex: $idx
         |  annvec: embedding
         |  annid: vec_id
         |  maintain: true
         |  maintainbudget: $budget
         |  maintainnprobe: 2
         |""".stripMargin)
    val running = Server.start(spark, schemaFile.toString, dir,
      watchSchema = false, maintainIntervalMs = 250L)
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (!running.db.lastMaintenance.exists(_._2.startsWith("re-clustered")) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(running.db.lastMaintenance.exists { case (n, s) =>
        n == "vidx" && s == s"re-clustered -> $idx-g1" },
        running.db.lastMaintenance.toString)
      assert(running.db.maintainedState("vidx").exists(_._1 == s"$idx-g1"))
      // the declared SIMSEARCH registration follows the flip
      val qv = seed.filter(col("vec_id") === 0L).select(col("embedding"))
        .collect()(0).getSeq[Float](0)
      val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
        .toPlainString).mkString(",")
      val hits = running.db.sql(
        s"""SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 6)
           |GROUP BY id ORDER BY id""".stripMargin).collect()
      assert(hits.length == 3)
      assert(hits.map(_.getAs[Long]("id")).contains(0L))
      // recovered: later passes report ok
      val deadline2 = System.currentTimeMillis() + 60000
      while (!running.db.lastMaintenance.exists { case (n, s) =>
               n == "vidx" && s.startsWith("ok") } &&
             System.currentTimeMillis() < deadline2)
        Thread.sleep(100)
      assert(running.db.lastMaintenance.exists { case (n, s) =>
        n == "vidx" && s.startsWith("ok") },
        running.db.lastMaintenance.toString)
    } finally running.stop()
  }

  test("daemon maintenance of a dedup-family index driven purely by the schema yaml") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a fragmented near-dup index: appended admit rounds leave >1 file per
    // prefix, so the daemon's first pass WILL compact — no Scala call
    // touches the db after boot (the ANN twin of this test is above)
    val idx = Files.createTempDirectory("yaml-dedup-idx").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"yaml dedup seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 2)
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"yaml dedup round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    val dir = Files.createTempDirectory("yaml-dedup-db").toString
    val schemaFile = Files.createTempFile("yaml-dedup-schema", ".yaml")
    Files.writeString(schemaFile,
      s"""combined:
         |  sql: >
         |    SELECT requests FROM inbound GROUP BY *, period(5m)
         |nd_idx:
         |  dedupindex: $idx
         |  maintain: true
         |  maintainfiles: 1
         |  maintaingc: true
         |""".stripMargin)
    val running = Server.start(spark, schemaFile.toString, dir,
      watchSchema = false, maintainIntervalMs = 250L)
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (!running.db.lastMaintenance.exists(_._2.startsWith("compacted")) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(running.db.lastMaintenance.exists { case (n, s) =>
        n == "nd_idx" && s == s"compacted -> $idx-g1" },
        running.db.lastMaintenance.toString)
      assert(running.db.maintainedState("nd_idx").exists(_._1 == s"$idx-g1"))
      // with maintaingc declared, a later daemon pass GC's the superseded
      // base generation once no lease pins it
      val deadline2 = System.currentTimeMillis() + 60000
      while (java.nio.file.Files.exists(java.nio.file.Paths.get(idx)) &&
             System.currentTimeMillis() < deadline2)
        Thread.sleep(100)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx)),
        "declared maintaingc must GC the superseded generation")
      // the compacted index still serves: one file per band prefix, same rows
      assert(spark.read.parquet(s"$idx-g1").count() > 0)
      // the lifecycle is visible on /metrics
      val client = HttpClient.newHttpClient()
      val met = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:${running.httpPort}/metrics"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(met.body().contains("\"nd_idx\""), met.body())
      assert(met.body().contains("\"orphanGc\":{\"pending\":0,\"leased\":0}"),
        met.body())
    } finally running.stop()
  }

  test("daemon: one schema boots both surfaces over a shared db (zeno.go parity)") {
    val dir = Files.createTempDirectory("graft-daemon").toString
    val schemaFile = Files.createTempFile("daemon-schema", ".yaml")
    Files.writeString(schemaFile,
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin)
    val running = Server.start(spark, schemaFile.toString, dir,
      watchSchema = false)
    try {
      // insert over HTTP... (wall-clock ts: the daemon runs on the real
      // clock, so a 2023 fixture timestamp would fall outside retention)
      val now = System.currentTimeMillis()
      val client = HttpClient.newHttpClient()
      val ins = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:${running.httpPort}/insert/inbound"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"ts": $now, "dims": {"server": "s1"}, "vals": {"requests": 41}}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
      assert(ins.body().contains("\"inserted\":1"), ins.body())
      // ...query it back over RPC (compressed transport): same embedded db
      val rpc = new graft.server.RpcClient("localhost", running.rpcPort,
        snappy = true)
      val (cols, rows) = rpc.query(
        "SELECT requests FROM combined GROUP BY server")
      assert(cols.contains("requests"), cols)
      assert(rows.exists(_.contains("\"requests\":41.0")), rows)

      // /metrics ops surface (web/metrics.go parity, minus the cluster
      // partition state that dissolved into Spark): store generation/days/
      // bytes per table, journal depth per stream (the RPC server enabled
      // journaling, so the insert above journaled), streams, cache, uptime
      val reg = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:${running.httpPort}/async?sql=" +
              java.net.URLEncoder.encode(
                "SELECT requests FROM combined GROUP BY server", "UTF-8")))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(reg.statusCode() == 200, reg.body())
      val met = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:${running.httpPort}/metrics"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(met.statusCode() == 200, met.body())
      val m = met.body()
      assert(m.contains("\"uptimeMs\":"), m)
      assert(m.contains("\"activeStreams\":0"), m)
      assert(m.contains("\"asyncCacheEntries\":1"), m)
      val combined =
        // [,}]: the row continues with the insert-disposition counters
        // (queuedPoints...) since r19 — tolerate more fields after these
        ("\"combined\":\\{\"generation\":(\\d+),\"days\":(\\d+),\"bytes\":(\\d+)," +
          "\"liveGenerations\":(\\d+),\"cachedRelations\":(\\d+)[,}]").r
      val cm = combined.findFirstMatchIn(m).getOrElse(fail(s"no table stats: $m"))
      assert(cm.group(1).toLong >= 1 && cm.group(2).toInt >= 1 &&
        cm.group(3).toLong > 0, m)
      assert(cm.group(4).toInt >= 1, m) // live generations: compaction health
      // the r19 insert-disposition counters ride the same row: the one
      // inserted point must be counted
      assert(m.contains("\"queuedPoints\":1") &&
        m.contains("\"insertedPoints\":1"), m)
      val journal =
        "\"inbound\":\\{\"entries\":(\\d+),\"bytes\":(\\d+)\\}".r
      val jm = journal.findFirstMatchIn(m).getOrElse(fail(s"no journal stats: $m"))
      assert(jm.group(1).toInt >= 1 && jm.group(2).toLong > 0, m)
      assert(m.contains("\"maintenance\":{}"), m) // no indexes enrolled
    } finally running.stop()
  }

  test("cross-feature soak: streaming sink + embedded inserts + ALTER + GC + queries + follower") {
    // every subsystem is soaked alone elsewhere (GC, journal, crash-replay);
    // this composes them on ONE db for the interactions: concurrent
    // streaming micro-batches and embedded journaled inserts into the same
    // table, a live schema ALTER mid-run, commit GC on a short grace,
    // continuous readers, and an attached follower. Invariants: no torn
    // reads, reader totals monotonic, dense markers, exactly-once totals,
    // bounded commits dir, the ALTERed field queryable.
    System.setProperty("graft.commitGcGraceMillis", "3000")
    try {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-x-soak").toString
      val ckpt = Files.createTempDirectory("graft-x-soak-ckpt").toString
      // partitionby (r10): the soak's generation swaps + GC + ALTER now run
      // against the BUCKETED layout — the per-generation basePath read and
      // the listing-level bucket pruning must stay untorn across a swap
      val yaml =
        """combined:
          |  partitionby: [server]
          |  sql: >
          |    SELECT requests FROM inbound GROUP BY *, period(5m)
          |""".stripMargin
      val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
      val srv = new graft.server.RpcServer(spark, db, 0) // journaling on
      val port = srv.start()
      try {
        // follower attached before any data
        val embeddedBatches = 16
        val markers = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val fErr = new java.util.concurrent.atomic.AtomicReference[String]()
        val fLatch = new java.util.concurrent.CountDownLatch(embeddedBatches)
        val follower = new graft.server.RpcClient("localhost", port)
          .followSince("inbound", Some(0L)) { (m, _, end) =>
            if (end) { markers.add(m); fLatch.countDown() }
          }(onError = e => fErr.set(e))

        // streaming sink on the same stream
        implicit val sq = spark.sqlContext
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String, Double)]
        val stream = mem.toDF().toDF("tsMs", "server", "requests")
          .withColumn("ts",
            org.apache.spark.sql.functions.timestamp_millis($"tsMs"))
          .drop("tsMs")
        val queries = db.attachStream("inbound", stream, ckpt)

        // continuous readers: any torn read (FileNotFound under a swapped
        // generation) or regressing total fails the soak
        val readErrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val totals = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
        @volatile var stopReaders = false
        val dimTotals = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
        val reader = new Thread(() => {
          while (!stopReaders) {
            try {
              val rows = db.sql(
                "SELECT requests FROM combined GROUP BY _, period('10d')").collect()
              if (rows.nonEmpty) rows(0).getAs[Any]("requests") match {
                case dd: java.lang.Double => totals.add(dd.doubleValue)
                case _ => ()
              }
              // dim-equality rides the bucket-pruned path (driver-computed
              // bucket id → constructed __day/__bucket dirs): a generation
              // swapped under it must not tear the pruned listing either
              val dimRows = db.sql(
                "SELECT requests FROM combined WHERE server = 'emb0' " +
                  "GROUP BY _, period('10d')").collect()
              if (dimRows.nonEmpty) dimRows(0).getAs[Any]("requests") match {
                case dd: java.lang.Double => dimTotals.add(dd.doubleValue)
                case _ => ()
              }
            } catch {
              // before the first merge commits, the table genuinely doesn't
              // exist yet — that's startup, not a torn read
              case e: IllegalArgumentException
                  if String.valueOf(e.getMessage).contains("not found") => ()
              case e: Throwable => readErrs.add(e)
            }
          }
        })
        reader.setDaemon(true); reader.start()

        // writers: 2 embedded-insert threads (journaled) + a stream feeder,
        // with a live ALTER landing mid-run
        val streamedPoints = 60
        val insErrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val feeders = Seq.tabulate(2) { t =>
          new Thread(() => {
            try (1 to embeddedBatches / 2).foreach { i =>
              db.insert("inbound", Seq(
                (new java.sql.Timestamp(T0 + (t * 1000 + i) * 10), s"emb$t", 1.0))
                .toDF("ts", "server", "requests"))
            } catch { case e: Throwable => insErrs.add(e) }
          })
        } :+ new Thread(() => {
          try (1 to streamedPoints / 5).foreach { i =>
            mem.addData((1 to 5).map(j =>
              (T0 + (i * 5 + j).toLong, s"st${j % 3}", 1.0)): _*)
            Thread.sleep(100)
          } catch { case e: Throwable => insErrs.add(e) }
        })
        feeders.foreach(_.start())
        Thread.sleep(1000) // mid-run: consolidate generations under readers
        db.compact("combined") // same swap+grace-GC mechanism as a flush
        Thread.sleep(500) // mid-run: widen the schema while everything runs
        db.alter(
          """combined:
            |  sql: >
            |    SELECT requests, AVG(requests) AS avg_req
            |    FROM inbound GROUP BY *, period(5m)
            |""".stripMargin)
        feeders.foreach(_.join(120000))
        assert(insErrs.isEmpty, insErrs.toArray.take(2).mkString("; "))
        queries.foreach(_.processAllAvailable())
        assert(queries.forall(_.exception.isEmpty),
          queries.flatMap(_.exception).mkString("; "))
        stopReaders = true
        reader.join(10000)

        assert(readErrs.isEmpty,
          readErrs.toArray.take(2).map(String.valueOf).mkString("; ").take(800))
        val seen = totals.toArray(Array.empty[java.lang.Double]).map(_.doubleValue)
        assert(seen.sameElements(seen.sorted), "reader saw a regressing total")
        val dimSeen = dimTotals.toArray(Array.empty[java.lang.Double]).map(_.doubleValue)
        assert(dimSeen.sameElements(dimSeen.sorted),
          "dim-equality reader saw a regressing total across a generation swap")

        // exactly-once: every point carried requests=1.0, so the drained
        // total is exactly the number of points either path delivered
        val fin = db.sql(
          "SELECT requests FROM combined GROUP BY _, period('10d') -- force_fresh")
          .collect()
        val total = fin(0).getAs[Any]("requests").asInstanceOf[Double]
        assert(total == (embeddedBatches + streamedPoints).toDouble, total)

        // the ALTERed field is live (pre-ALTER days read it as NULL-merged)
        val alt = db.sql(
          "SELECT avg_req FROM combined GROUP BY server ORDER BY server").collect()
        assert(alt.nonEmpty)

        // follower: every journaled (embedded) batch arrived, dense
        assert(fLatch.await(60, java.util.concurrent.TimeUnit.SECONDS),
          s"follower saw ${markers.size}/$embeddedBatches, err=${fErr.get()}")
        assert(fErr.get() == null, s"err=${fErr.get()}")
        assert(markers.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq ==
          (1L to embeddedBatches.toLong))
        follower.close()

        // GC: once the grace passes, one more merge sweeps superseded
        // generations — the commits dir must be bounded, not O(merges)
        Thread.sleep(3500)
        db.insert("inbound", Seq(
          (new java.sql.Timestamp(T0 + 99999), "embX", 1.0))
          .toDF("ts", "server", "requests"))
        val commitDirs = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$dir/combined/commits")).count()
        assert(commitDirs <= 3, s"commits dir not bounded: $commitDirs dirs")
        // the bucket layout survived ALTER + GC + every generation swap,
        // and the dim-equality path still answers exactly on the GC'd store
        val manifest = java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$dir/combined/MANIFEST"))
        assert(manifest.contains("p=32\tserver"), manifest.take(300))
        val dimFin = db.sql(
          "SELECT requests FROM combined WHERE server = 'emb0' " +
            "GROUP BY _, period('10d')").collect()
        assert(dimFin.length == 1 &&
          dimFin(0).getAs[Any]("requests").asInstanceOf[Double] ==
            (embeddedBatches / 2).toDouble,
          dimFin.mkString(";"))
      } finally srv.stop()
    } finally System.clearProperty("graft.commitGcGraceMillis")
  }

  test("daemon crash-replay: restart on the same checkpoint+store is exactly-once; wiped checkpoint degrades to at-least-once") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import scala.jdk.CollectionConverters._
    // ledger semantics proven END-TO-END through the daemon: a restart that
    // re-delivers an already-merged micro-batch (the crash window between a
    // completed merge and the checkpoint commit) must not double-count —
    // the reference's applied-WAL-offset header behavior
    // (row_store.go:455-530); a WIPED checkpoint means a fresh query id, so
    // the ledger steps aside and ingest degrades to documented
    // at-least-once (MaterializedTable.sink scaladoc)
    val store = Files.createTempDirectory("graft-crash-store").toString
    val ckpt = Files.createTempDirectory("graft-crash-ckpt").toString
    val input = Files.createTempDirectory("graft-crash-in")
    val schemaFile = Files.createTempFile("crash-schema", ".yaml")
    Files.writeString(schemaFile,
      "st:\n  sql: >\n    SELECT v FROM s GROUP BY k, period(1s)\n")
    val inSchema = StructType(Seq(StructField("tsMs", LongType),
      StructField("k", StringType), StructField("v", DoubleType)))

    def boot() = {
      val r = Server.start(spark, schemaFile.toString, store, watchSchema = false)
      val stream = spark.readStream.schema(inSchema).json(input.toString)
        .withColumn("ts", timestamp_millis(col("tsMs"))).drop("tsMs")
      (r, r.db.attachStream("s", stream, ckpt))
    }
    def addFile(name: String, lines: String*): Unit = {
      // write outside + atomic move: the file source must never list a
      // half-written file
      val tmp = Files.createTempFile("pts", ".json")
      Files.writeString(tmp, lines.mkString("\n"))
      Files.move(tmp, input.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def point(k: String, v: Double) =
      s"""{"tsMs": $T0, "k": "$k", "v": $v}"""
    def totals(db: GraftDB): Map[String, Double] =
      db.sql("SELECT v FROM st GROUP BY k, period('100s')").collect()
        .map(r => r.getAs[String]("k") -> r.getAs[Double]("v")).toMap

    // run 1: two committed micro-batches
    val (r1, q1) = boot()
    addFile("f1.json", point("x", 1.0), point("x", 2.0))
    q1.foreach(_.processAllAvailable())
    addFile("f2.json", point("x", 10.0))
    q1.foreach(_.processAllAvailable())
    assert(totals(r1.db) == Map("x" -> 13.0))
    q1.foreach(_.stop()); r1.stop()

    // crash simulation: drop the newest checkpoint commit marker — Spark
    // will re-deliver that batch (same batchId, same offsets) on restart,
    // exactly what a crash between merge and checkpoint commit produces
    val commits = java.nio.file.Paths.get(ckpt, "st", "commits")
    val newest = Files.list(commits).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    // and its checksum sidecar, or the local fs refuses the re-written marker
    Files.deleteIfExists(commits.resolve(s".${newest.getFileName}.crc"))

    // run 2: the re-delivered batch is recognized via the manifest ledger
    // and skipped; genuinely new data still merges
    val (r2, q2) = boot()
    q2.foreach(_.processAllAvailable()) // replays f2's batch
    assert(totals(r2.db) == Map("x" -> 13.0), "replayed batch double-counted")
    addFile("f3.json", point("y", 5.0))
    q2.foreach(_.processAllAvailable())
    assert(totals(r2.db) == Map("x" -> 13.0, "y" -> 5.0))
    q2.foreach(_.stop()); r2.stop()

    // wiped checkpoint: fresh query id → fresh ledger key → the file source
    // re-reads everything and every batch merges again (at-least-once, the
    // documented degradation — NOT silent data loss)
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).forEach(rm)
      Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(ckpt))
    val (r3, q3) = boot()
    q3.foreach(_.processAllAvailable())
    assert(totals(r3.db) == Map("x" -> 26.0, "y" -> 10.0),
      "wiped checkpoint should re-merge (at-least-once), never drop")
    q3.foreach(_.stop()); r3.stop()
  }

  test("async cache: concurrent same-SQL submissions share one permalink; entry cap evicts oldest") {
    val dir = Files.createTempDirectory("graft-http-cap").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new HttpServer(spark, db, 0, maxCacheEntries = 3)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
          .GET().build(), HttpResponse.BodyHandlers.ofString()).body()
      def plOf(body: String): String = "\"permalink\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(body).map(_.group(1)).get

      // seed the table so the async query has something to succeed against
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/insert/inbound"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"ts": $T0, "dims": {"server": "s1"}, "vals": {"requests": 9}}"""))
          .build(), HttpResponse.BodyHandlers.ofString())

      // RACE: 8 threads register the SAME sql concurrently — compute() is
      // atomic per key, so every response must carry the same permalink and
      // the query must run once, not 8 times racing one cache slot
      val sql = java.net.URLEncoder.encode(
        "SELECT requests FROM combined GROUP BY server", "UTF-8")
      val pls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (1 to 8).map(_ => new Thread(() =>
        pls.add(plOf(get(s"/async?sql=$sql")))))
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      val distinct = pls.toArray(new Array[String](0)).toSet
      assert(distinct.size == 1, s"racing submissions split the cache entry: $distinct")
      val permalink = distinct.head
      var cached = get(s"/cached/$permalink")
      val deadline = System.currentTimeMillis() + 30000
      while (!cached.contains("\"status\":\"succeeded\"") &&
             !cached.contains("\"status\":\"failed\"") &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(100); cached = get(s"/cached/$permalink")
      }
      assert(cached.contains("\"status\":\"succeeded\""), cached)

      // CAP: maxCacheEntries=3 — distinct queries beyond the bound evict
      // oldest-first instead of holding payloads without limit
      val extraPls = (1 to 4).map { k =>
        Thread.sleep(5) // distinct created-ms so oldest-first is well-defined
        val s = java.net.URLEncoder.encode(
          s"SELECT requests FROM combined GROUP BY server LIMIT $k", "UTF-8")
        plOf(get(s"/async?sql=$s"))
      }
      // the original entry (oldest of the 5) must have been evicted...
      assert(get(s"/cached/$permalink").contains("\"status\":\"unknown\""))
      // ...while the newest survivors still resolve
      assert(!get(s"/cached/${extraPls.last}").contains("\"status\":\"unknown\""))
    } finally srv.stop()
  }

  test("query endpoints refuse nasty params loudly: bad timeouts, async backlog, timeout-keyed cache") {
    val dir = Files.createTempDirectory("graft-http-nasty").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new HttpServer(spark, db, 0, maxPendingAsync = 1)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def getR(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      def plOf(body: String): String = "\"permalink\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(body).map(_.group(1))
        .getOrElse(fail(s"no permalink in: $body"))
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/insert/inbound"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"ts": $T0, "dims": {"server": "s1"}, "vals": {"requests": 9}}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
      val sql = java.net.URLEncoder.encode(
        "SELECT requests FROM combined GROUP BY server", "UTF-8")

      // non-positive and malformed timeouts: 400 naming the problem — NOT
      // a degenerate completed=false partial result (timeout=0s used to
      // submit a job group just to cancel it immediately)
      for (t <- Seq("0s", "-5s")) {
        val r = getR(s"/run?sql=$sql&timeout=$t")
        assert(r.statusCode() == 400, s"$t -> ${r.statusCode()} ${r.body()}")
        assert(r.body().contains("timeout must be positive"), r.body())
      }
      locally {
        val r = getR(s"/run?sql=$sql&timeout=junk")
        assert(r.statusCode() == 400, s"junk -> ${r.statusCode()} ${r.body()}")
        assert(r.body().contains("bad duration"), r.body())
      }

      def awaitSettled(pl: String): Unit = {
        val deadline = System.currentTimeMillis() + 30000
        var c = getR(s"/cached/$pl").body()
        while (c.contains("\"status\":\"pending\"") &&
               System.currentTimeMillis() < deadline) {
          Thread.sleep(100); c = getR(s"/cached/$pl").body()
        }
        assert(!c.contains("\"status\":\"pending\""), c)
      }

      // the timeout is part of the async cache identity: the same SQL with
      // and without a deadline must not share a permalink (a truncated
      // result must never serve a caller who asked for the full one).
      // Settle each before the next — maxPendingAsync=1 here, so two
      // in-flight submissions would (correctly) trip the backlog refusal
      val plPlain = plOf(getR(s"/async?sql=$sql").body())
      awaitSettled(plPlain)
      val plTimed = plOf(getR(s"/async?sql=$sql&timeout=60s").body())
      awaitSettled(plTimed)
      assert(plPlain != plTimed, "timeout must be part of the cache key")
      assert(plOf(getR(s"/async?sql=$sql&timeout=60s").body()) == plTimed,
        "same sql+timeout must reuse its entry")

      // async backlog cap (maxPendingAsync=1): while one slow query runs,
      // a SECOND distinct submission refuses loudly instead of stacking
      // another driver thread or silently orphaning the running job
      val slowUdf = org.apache.spark.sql.functions.udf {
        (s: String) => Thread.sleep(3000L); s
      }
      graft.functions.Redis.registerScript("spec_slow_async", (a, _) => slowUdf(a))
      val slowSql = java.net.URLEncoder.encode(
        "SELECT requests FROM combined GROUP BY LUA('spec_slow_async', server, server) AS sv",
        "UTF-8")
      val plSlow = plOf(getR(s"/async?sql=$slowSql").body())
      val refused = getR(s"/async?sql=$sql&timeout=59s")
      assert(refused.statusCode() == 400, s"${refused.statusCode()} ${refused.body()}")
      assert(refused.body().contains("async query backlog full"), refused.body())
      // the in-flight query is untouched by the refusal, and once it
      // settles the backlog admits new submissions again
      awaitSettled(plSlow)
      assert(getR(s"/cached/$plSlow").body().contains("\"status\":\"succeeded\""))
      val after = getR(s"/async?sql=$sql&timeout=59s")
      assert(after.statusCode() == 200, s"${after.statusCode()} ${after.body()}")
    } finally srv.stop()
  }

  test("/metrics surfaces an orphan-queue persistence failure until it heals") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val idx = Files.createTempDirectory("persist-err-idx").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"persist err seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 2)
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * r + i, s"persist err round $r doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    val tableYaml =
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY *, period(5m)\n"
    val db = new GraftDB(spark,
      s"""${tableYaml}nd_idx:
         |  dedupindex: $idx
         |  maintain: true
         |  maintainfiles: 1
         |  maintaingc: true
         |""".stripMargin,
      Files.createTempDirectory("persist-err-db").toString, () => T0)
    val srv = new HttpServer(spark, db, 0)
    val port = srv.start()
    try {
      val t1 = db.maintenanceTick() // flip -> -g1, base queued
      assert(t1.exists { case (n, s) =>
        n == "nd_idx" && s == s"compacted -> $idx-g1" }, t1.toString)
      db.orphanPersistHook =
        () => throw new java.io.IOException("injected metrics failure")
      try {
        // detach: the orphan enqueue attempts a persist, which fails —
        // the degraded restart durability must be visible on /metrics,
        // not only in the daemon's tick log
        db.alter(tableYaml)
        val client = HttpClient.newHttpClient()
        val met = client.send(
          HttpRequest.newBuilder(
              URI.create(s"http://localhost:$port/metrics"))
            .GET().build(), HttpResponse.BodyHandlers.ofString())
        assert(met.body().contains(
          "\"persistError\":\"IOException: injected metrics failure\""),
          met.body())
        assert(met.body().contains("\"pending\":1"), met.body())
      } finally db.orphanPersistHook = () => ()
      // healed: the drain's post-delete rewrite succeeds and the flag
      // disappears from the surface
      val t2 = db.maintenanceTick()
      assert(t2.exists { case (n, s) =>
        n == "_orphans" && s.startsWith("gc'd 1") }, t2.toString)
      val client2 = HttpClient.newHttpClient()
      val met2 = client2.send(
        HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port/metrics"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(!met2.body().contains("persistError"), met2.body())
      assert(met2.body().contains(
        "\"orphanGc\":{\"pending\":0,\"leased\":0}"), met2.body())
    } finally srv.stop()
  }

  test("malformed insert JSON fails the request instead of inserting garbage dims") {
    val dir = Files.createTempDirectory("graft-badjson").toString
    val yaml =
      """combined:
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new HttpServer(spark, db, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      // one good line, one truncated line: PERMISSIVE json parsing used to
      // fold the bad line into a `_corrupt_record` column that merged into
      // the store as a literal dim — the batch must 400 instead
      val bad = Seq(
        s"""{"ts": $T0, "dims": {"server": "s1"}, "vals": {"requests": 5}}""",
        s"""{"ts": $T0, "dims": {"server"""
      ).mkString("\n")
      val ins = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/insert/inbound"))
          .POST(HttpRequest.BodyPublishers.ofString(bad)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ins.statusCode() == 400, ins.body())
      assert(db.tableStats("combined").queuedPoints === 0,
        "a rejected batch must not reach the merge")
      // heterogeneous-but-valid lines still insert (points carry
      // different dim/val sets by design)
      val ok = Seq(
        s"""{"ts": $T0, "dims": {"server": "s1"}, "vals": {"requests": 5}}""",
        s"""{"ts": $T0, "dims": {"path": "/a"}, "vals": {"requests": 7}}"""
      ).mkString("\n")
      val ins2 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/insert/inbound"))
          .POST(HttpRequest.BodyPublishers.ofString(ok)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ins2.statusCode() == 200 && ins2.body().contains("\"inserted\":2"),
        ins2.body())
    } finally srv.stop()
  }
}
