package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Schema shared by the point workloads: one stream feeding an hourly
  * table partitioned by user and a daily rollup.
  */
object PointSchema {
  val Stream = "events"
  val Yaml: String =
    """events_1h:
      |  partitionby: [user_id]
      |  sql: >
      |    SELECT value FROM events GROUP BY user_id, event_type, period(1h)
      |
      |events_1d:
      |  sql: >
      |    SELECT value FROM events GROUP BY event_type, period(1d)
      |""".stripMargin

  /** Start the daemon on a fresh data directory under `dir`. */
  def start(spark: SparkSession, dir: Path): graft.Server.Running = {
    Files.createDirectories(dir)
    val schema = dir.resolve("schema.yaml")
    Files.writeString(schema, Yaml)
    graft.Server.start(spark, schema.toString, dir.resolve("data").toString,
      watchSchema = false)
  }

  /** Per-day (SUM(value), _points) of a table, read over HTTP /run. */
  def dayTotals(c: Clients, table: String): Map[Long, (Double, Double)] = {
    val (node, _) = c.run(s"SELECT value, _points FROM $table GROUP BY _, period(1d)")
    c.rows(node).map { r =>
      val day = Math.floorDiv(java.time.Instant.parse(r("_time").asText).toEpochMilli, Gen.DayMs)
      day -> (r("value").asDouble, r("_points").asDouble)
    }.toMap
  }

  /** Both tables hold exactly the expected per-day totals. */
  def checkTotals(out: Outcome, c: Clients, expect: Map[Long, (Long, Long)]): Unit =
    Seq("events_1h", "events_1d").foreach { t =>
      out.check(s"$t per-day SUM(value) and _points match the generator") {
        val got = dayTotals(c, t)
        val ok = got.keySet == expect.keySet && expect.forall { case (d, (s, n)) =>
          Gen.cents(got(d)._1) == s && got(d)._2 == n.toDouble
        }
        if (!ok) out.failures += s"$t: got ${got.toSeq.sortBy(_._1).take(5)} " +
          s"expected ${expect.toSeq.sortBy(_._1).take(5)}"
        ok
      }
    }

  def storeBytes(db: graft.GraftDB): Long = db.tables.values.map(_.storeStats._3).sum
}

/** `ingest_live`: one RPC writer in a closed loop sends fixed-size point
  * batches into the stream while one HTTP reader asks for the latest hour
  * on a fixed schedule (open loop). The points are the next arrivals of an
  * sf0.1-shaped event stream (Gen), in time order as in sf0.1.
  */
final class IngestLive(spark: SparkSession, seed: Long, smoke: Boolean) extends Workload {
  /** The smaller batch of the sizing probe this benchmark was specified
    * with (5 000 and 20 000 points per insert): about 36 h of sf0.1 traffic.
    */
  private val batchPoints = if (smoke) 500 else 5000
  /** One live query every 2 s: the shortest whole-second period above the
    * latest-hour query's latency under this load (median 1.23 s, at most
    * 1.41 s over ten seeds on a 4-core host), so the open-loop reader does
    * not queue behind itself.
    */
  private val readPeriodMs = 2000L
  /** Two live queries run during set-up, after one batch: the batch pre-builds
    * the store (a day and a half of sf0.1 traffic), and both take the
    * cold-JVM cost of the first calls of their path.
    */
  private val setupQueries = if (smoke) 1 else 2
  /** The writer sends at least this many batches, and at least --seconds
    * worth: at today's speed (5-6 s a batch on a 4-core host) every
    * run measures the same seeded batches, with the same mix of new days
    * and rewritten ones. store_bytes_per_point is read after them, so it
    * too covers the same ingest on every run, whatever its speed.
    */
  private val minBatches = if (smoke) 1 else 4

  private var srv: graft.Server.Running = _
  private var clients: Clients = _
  private var rng: java.util.SplittableRandom = _
  private val clock = new AtomicLong(0L)
  /** End of the virtual time the acknowledged batches cover. */
  private val committed = new AtomicLong(0L)
  private var ackedTotals = Map.empty[Long, (Long, Long)]
  private var storedPoints = 0L

  private val ingestMs = ArrayBuffer.empty[Double]
  private val readMs = ArrayBuffer.empty[Double]
  private val readLateMs = ArrayBuffer.empty[Double]

  /** The next batch: the stream's next arrivals; the clock moves to just
    * after the last of them.
    */
  private def nextBatch(): IndexedSeq[Gen.Point] = {
    val ps = Gen.arrivals(rng, batchPoints, clock.get())
    clock.set(ps.last.ts + 1)
    ps
  }

  private def send(ps: IndexedSeq[Gen.Point], until: Long): Unit = {
    val n = clients.rpc.insert(PointSchema.Stream, Seq(Gen.jsonLines(ps)))
    require(n == ps.size, s"insert acknowledged $n of ${ps.size} points")
    record(ps, until)
  }

  private def record(ps: IndexedSeq[Gen.Point], until: Long): Unit = {
    ackedTotals = Gen.addTotals(ackedTotals, Gen.dayTotals(ps))
    storedPoints += ps.size
    committed.set(until)
  }

  /** The latest hour of acknowledged data. Bounds round up to the table's
    * hour buckets, so the window always holds the last acknowledged batch.
    */
  private def liveSql(): String = {
    val c = committed.get()
    s"SELECT value, _points FROM events_1h ASOF '${Util.iso(c - Gen.HourMs)}' " +
      s"UNTIL '${Util.iso(c)}' GROUP BY event_type"
  }

  def setup(dir: Path): Unit = {
    srv = PointSchema.start(spark, dir)
    clients = new Clients(srv.httpPort, srv.rpcPort)
    rng = Gen.rng(seed, 1)
    ackedTotals = Map.empty
    storedPoints = 0L
    clock.set(Gen.Epoch)
    send(nextBatch(), clock.get())
    for (_ <- 1 to setupQueries) clients.run(liveSql())
  }

  def teardown(): Unit = if (srv != null) { srv.stop(); srv = null }

  def measure(seconds: Int, out: Outcome): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    @volatile var readerFailures = List.empty[String]
    @volatile var writing = true
    val reader = new Thread(() => {
      var i = 1L
      while (writing) {
        val due = t0 + i * readPeriodMs * 1000000L
        // wait for the due time in short sleeps, so that the reader ends
        // soon after the writer
        while (writing && System.nanoTime() < due) Thread.sleep(10)
        val sent = System.nanoTime()
        if (writing) try {
          val (node, _) = clients.run(liveSql())
          if (clients.rows(node).isEmpty) throw new IllegalStateException("latest hour came back empty")
          readMs.synchronized {
            readMs += (System.nanoTime() - due) / 1e6
            readLateMs += (sent - due) / 1e6
          }
        } catch {
          case e: Exception => readerFailures ::= s"live query: ${e.getMessage}"
        }
        i += 1
      }
    }, "perfbench-reader")
    reader.start()
    var last = t0
    var ingested = 0L
    var bytesPerPoint = Double.NaN
    var paused = 0L
    var batches = 0
    while (System.nanoTime() < deadline || batches < minBatches) {
      val batch = nextBatch()
      val until = clock.get()
      val s0 = System.nanoTime()
      out.attempted += 1
      batches += 1
      try {
        send(batch, until)
        last = System.nanoTime()
        ingestMs += (last - s0) / 1e6
        ingested += batch.size
      } catch { case e: Exception => out.fail(s"insert: ${e.getMessage}") }
      if (batches == minBatches) {
        // after a fixed seeded ingest: at the end of the run the figure would
        // depend on how many batches the run held (per-file overhead dominates)
        val p0 = System.nanoTime()
        bytesPerPoint = PointSchema.storeBytes(srv.db).toDouble / storedPoints
        paused += System.nanoTime() - p0
      }
    }
    writing = false
    reader.join()
    out.attempted += readMs.size + readerFailures.size
    readerFailures.foreach(out.fail)
    out.e2e("ingest_points_per_s") =
      (ingested / math.max((last - t0 - paused) / 1e9, 1e-9), "points/s")
    out.e2e("ingest_p50_ms") = (Util.median(ingestMs.toSeq), "ms")
    out.e2e("query_p50_ms") = (Util.median(readMs.toSeq), "ms")
    out.e2e("store_bytes_per_point") = (bytesPerPoint, "bytes/point")
    out.notes("batch_ms") = ingestMs.toSeq
    out.notes("live_query_ms") = readMs.toSeq
    out.notes("batch_points") = batchPoints
    out.notes("store_read_after_batches") = 1 + minBatches
    out.notes("batches") = batches
    out.notes("live_queries") = readMs.size
    out.notes("read_rate_per_s") = 1000.0 / readPeriodMs
    out.notes("reader_late_p50_ms") = Util.median(readLateMs.toSeq)
    out.notes("reader_late_max_ms") = if (readLateMs.isEmpty) 0.0 else readLateMs.max
  }

  def gated(out: Outcome): Seq[(String, Double)] = Seq(
    "op_p50_ms" -> out.e2e("ingest_p50_ms")._1,
    "op_per_s" -> out.e2e("ingest_points_per_s")._1,
    "store_bytes_per_item" -> out.e2e("store_bytes_per_point")._1)

  /** One client: each request inserts a batch (decode + GraftDB.insert in
    * process, the calls the RPC handler makes) and then runs the live query
    * in process and over HTTP (every other traced request over RPC).
    */
  def traced(seconds: Int, out: Outcome, l: BenchListener, t: Tracer): Unit = {
    Layered.init(out)
    val db = srv.db
    val days = ArrayBuffer.empty[Double]
    val points = ArrayBuffer.empty[Double]
    val respBytes = ArrayBuffer.empty[Double]
    // four requests at least: the traced ones cover both RPC and HTTP
    val (untraced, tracedOps) = Layered.alternate(spark, seconds, 4, l, t) { req =>
      val batch = nextBatch()
      out.attempted += 1
      try {
        val lines = Gen.jsonLines(batch)
        val flat = t("server.decode") {
          val df = graft.server.PointsJson.toDataFrame(spark, lines)
          require(df.count() == batch.size, "decoded point count differs")
          df
        }
        t("GraftDB.insert")(db.insert(PointSchema.Stream, flat))
        record(batch, clock.get())
        val sql = liveSql()
        Layered.inProcess(db, sql, t)
        val (rows, bytes) =
          if (req % 4 == 2) t("server.rpc_query")(clients.query(sql))
          else t("server.http_run") {
            val (node, b) = clients.run(sql)
            (clients.rows(node), b)
          }
        if (t.enabled) {
          days += batch.map(p => Math.floorDiv(p.ts, Gen.DayMs)).distinct.size
          points += batch.size
          respBytes += bytes
        }
        if (rows.isEmpty) throw new IllegalStateException("latest hour came back empty")
      } catch { case e: Exception => out.fail(s"traced op: ${e.getMessage}") }
    }
    val jobs = l.allJobs
    Layered.queryMetrics(out, t, l, jobs)
    Layered.set(out, "server.response_bytes", Util.median(respBytes.toSeq))
    ingestMetrics(out, t, l, jobs, days.toSeq, points.toSeq)
    Layered.selfTimes(out, t, tracedOps.size)
    Layered.overhead(out, untraced, tracedOps)
  }

  /** mergeBatch is reached only through GraftDB.insert, so its extent is
    * read from the jobs it launches (their long call site names it): from
    * its first job's start to its last job's end. Its phases follow the
    * call site of each job: the touched-day collect (split where the
    * persisted partial aggregate is complete), the day-partition parquet
    * write, and the remainder (listing, manifest, compaction). The tables
    * over the stream merge one after another, so each phase is summed over
    * its consecutive runs of jobs.
    */
  private def ingestMetrics(out: Outcome, t: Tracer, l: BenchListener, jobs: Seq[JobRec],
                            days: Seq[Double], points: Seq[Double]): Unit = {
    val inserts = t.named("GraftDB.insert")
    final case class Merge(wall: Double, jobs: Int, taskMs: Double, partial: Double,
                           touched: Double, rewrite: Double, written: Double)
    val merges = inserts.map { ins =>
      val mj = l.jobsWithin(ins, jobs).filter(_.longSite.contains("MaterializedTable.mergeBatch"))
      if (mj.isEmpty) Merge(0, 0, 0, 0, 0, 0, 0)
      else {
        def phase(j: JobRec) =
          if (j.shortSite.startsWith("collect at MaterializedTable")) "collect"
          else if (j.shortSite.startsWith("parquet at MaterializedTable") &&
            !j.longSite.contains("compactLocked")) "rewrite"
          else "other"
        // one table after another: consecutive jobs of one phase form a run
        val runs = mj.foldLeft(List.empty[List[JobRec]]) {
          case (cur :: done, j) if phase(cur.head) == phase(j) => (j :: cur) :: done
          case (acc, j) => List(j) :: acc
        }
        var partial, touched, rewrite = 0.0
        runs.foreach { run =>
          val s = run.map(_.startMs).min
          val e = run.map(_.endMs).max
          phase(run.head) match {
            case "collect" =>
              val cached = run.flatMap(l.stagesRun).filter(_.materializesCache)
              val split = if (cached.isEmpty) e else cached.map(_.completedMs).max
              partial += split - s
              touched += e - split
            case "rewrite" => rewrite += e - s
            case _ =>
          }
        }
        val wall = (mj.map(_.endMs).max - mj.map(_.startMs).min).toDouble
        val tot = l.totals(mj)
        Merge(wall, mj.size, tot.taskMs.toDouble, partial, touched, rewrite, tot.outputBytes.toDouble)
      }
    }
    def med(f: Merge => Double) = Util.median(merges.map(f))
    Layered.set(out, "GraftDB.insert_ms", Util.median(inserts.map(_.ms)))
    Layered.set(out, "GraftDB.journal_ms",
      Util.median(inserts.zip(merges).map { case (i, m) => i.ms - m.wall }))
    Layered.set(out, "server.decode_ms", Util.median(t.named("server.decode").map(_.ms)))
    Layered.set(out, "streaming.merge_ms", med(_.wall))
    Layered.set(out, "streaming.merge_jobs", med(_.jobs.toDouble))
    Layered.set(out, "streaming.merge_task_ms", med(_.taskMs))
    Layered.set(out, "streaming.partial_agg_ms", med(_.partial))
    Layered.set(out, "streaming.touched_collect_ms", med(_.touched))
    Layered.set(out, "streaming.day_rewrite_ms", med(_.rewrite))
    Layered.set(out, "streaming.commit_ms", med(m => m.wall - m.partial - m.touched - m.rewrite))
    Layered.set(out, "streaming.days_touched", Util.median(days))
    Layered.set(out, "streaming.bytes_written_per_point",
      Util.median(merges.zip(points).map { case (m, n) => m.written / n }))
    val stats = srv.db.tables.values.map(_.storeStats)
    Layered.set(out, "streaming.store_bytes", stats.map(_._3).sum.toDouble)
    Layered.set(out, "streaming.store_days", stats.map(_._2).sum.toDouble)
    Layered.set(out, "streaming.live_generations", stats.map(_._4).sum.toDouble)
    out.notes("merge_job_sites") = jobs.filter(_.longSite.contains("MaterializedTable.mergeBatch"))
      .groupBy(_.shortSite).map { case (k, v) => k -> v.size }
  }

  def verify(out: Outcome): Unit = PointSchema.checkTotals(out, clients, ackedTotals)
}
