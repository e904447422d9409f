package graftbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `dashboard_read`: read-only traffic against a pre-built store. Three
  * closed-loop clients — two on HTTP /run, one on RPC QUERY — draw from a
  * seeded mix of dashboard query templates.
  */
final class DashboardRead(spark: SparkSession, seed: Long, smoke: Boolean) extends Workload {
  private val days = 3
  /** `days` of sf0.1 traffic (3 333 points a day). */
  private val points = if (smoke) 3000 else 10000
  /** Users the dim-equality lookups draw from: few enough that their
    * bucket-pruned relations stay inside the table's 64-entry relation
    * cache. The window pool (start hour x length) is far larger.
    */
  private val lookupUsers = 16

  private var srv: graft.Server.Running = _
  private var clients: Clients = _
  private var events: IndexedSeq[Gen.Point] = _

  import DashboardRead._

  /** One instance of a template with its parameters drawn from `r`. */
  private def draw(r: java.util.SplittableRandom): (String, String) = {
    val kind = Templates(r.nextInt(Templates.size))
    kind -> sql(kind, r)
  }

  private def sql(kind: String, r: java.util.SplittableRandom): String = kind match {
    case "lookup" =>
      s"SELECT value, _points FROM events_1h WHERE user_id = ${1 + r.nextInt(lookupUsers)} " +
        "GROUP BY event_type, period(1d)"
    case "window" =>
      val len = 1 + r.nextInt(days)
      val startH = r.nextInt((days - len) * 24 + 1)
      val a = Gen.Epoch + startH * Gen.HourMs
      s"SELECT value, _points FROM events_1h ASOF '${Util.iso(a)}' " +
        s"UNTIL '${Util.iso(a + len * Gen.DayMs)}' GROUP BY event_type, period(1h)"
    case "rollup" =>
      "SELECT value, _points FROM events_1h GROUP BY event_type, period(1d)"
    case "topn" =>
      // one 30-day bucket holds every generated day (2023-12-19..2024-01-17)
      "SELECT value FROM events_1h GROUP BY user_id, period(30d) ORDER BY value DESC LIMIT 10"
    case "crosstab" =>
      "SELECT value FROM events_1d GROUP BY CROSSTAB(event_type), period(1d) ORDER BY _time"
    case "shift" =>
      "SELECT value, SHIFT(value, '-1d') AS prev FROM events_1d " +
        "GROUP BY event_type, period(1d)"
  }

  def setup(dir: Path): Unit = {
    srv = PointSchema.start(spark, dir)
    clients = new Clients(srv.httpPort, srv.rpcPort)
    val r = Gen.rng(seed, 2)
    events = Gen.arrivals(r, points, Gen.Epoch - 1)
    val n = clients.rpc.insert(PointSchema.Stream, Seq(Gen.jsonLines(events)))
    require(n == events.size, s"pre-build acknowledged $n of ${events.size} points")
    // warm-up: every template once, and the RPC surface once
    val w = Gen.rng(seed, 20)
    Templates.foreach(k => clients.run(sql(k, w)))
    clients.query(sql("lookup", w))
  }

  def teardown(): Unit = if (srv != null) { srv.stop(); srv = null }

  def measure(seconds: Int, out: Outcome): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val lat = ArrayBuffer.empty[(String, Double)]
    val failures = ArrayBuffer.empty[String]
    val lastDone = new AtomicLong(t0)
    def client(i: Int, rpc: Boolean) = new Thread(() => {
      val r = Gen.rng(seed, 100 + i)
      while (System.nanoTime() < deadline) {
        val (kind, q) = draw(r)
        val s0 = System.nanoTime()
        try {
          val rows =
            if (rpc) clients.query(q)._1 else clients.rows(clients.run(q)._1)
          if (rows.isEmpty) throw new IllegalStateException(s"$kind came back empty")
          val done = System.nanoTime()
          lat.synchronized { lat += kind -> (done - s0) / 1e6 }
          lastDone.accumulateAndGet(done, math.max)
        } catch {
          case e: Exception => failures.synchronized { failures += s"$kind: ${e.getMessage}" }
        }
      }
    }, s"perfbench-client-$i")
    val threads = Seq(client(0, rpc = false), client(1, rpc = false), client(2, rpc = true))
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.attempted += lat.size + failures.size
    failures.foreach(out.fail)
    val all = lat.map(_._2).toSeq
    val wallS = (lastDone.get - t0) / 1e9
    out.e2e("query_per_s") = (lat.size / math.max(wallS, 1e-9), "queries/s")
    out.e2e("query_p50_ms") = (Util.median(all), "ms")
    // a tail percentile needs at least ten samples beyond it
    if (all.size >= 100) out.e2e("query_p90_ms") = (Util.quantile(all, 0.9), "ms")
    out.e2e("store_bytes_per_point") =
      (PointSchema.storeBytes(srv.db).toDouble / events.size, "bytes/point")
    out.notes("queries") = lat.size
    out.notes("clients") = "2 http /run + 1 rpc QUERY, closed loop"
    out.notes("p50_ms_by_template") =
      lat.groupBy(_._1).map { case (k, v) => k -> Util.median(v.map(_._2).toSeq) }
  }

  def gated(out: Outcome): Seq[(String, Double)] = Seq(
    "op_p50_ms" -> out.e2e("query_p50_ms")._1,
    "op_per_s" -> out.e2e("query_per_s")._1,
    "store_bytes_per_item" -> out.e2e("store_bytes_per_point")._1)

  /** One client: each request runs the in-process path and the same query
    * over its surface (two in three on HTTP), alternating which goes first
    * so neither side always finds the other's warm caches.
    */
  def traced(seconds: Int, out: Outcome, l: BenchListener, t: Tracer): Unit = {
    Layered.init(out)
    val db = srv.db
    val r = Gen.rng(seed, 200)
    val respBytes = ArrayBuffer.empty[Double]
    val (untraced, tracedOps) = Layered.alternate(spark, seconds, 4, l, t) { req =>
      val (kind, q) = draw(r)
      val rpc = r.nextInt(3) == 2
      out.attempted += 1
      try {
        def endpoint(): Int =
          if (rpc) t("server.rpc_query")(clients.query(q)._2)
          else t("server.http_run")(clients.run(q)._2)
        val bytes =
          if (req / 2 % 2 == 0) { Layered.inProcess(db, q, t); endpoint() }
          else { val b = endpoint(); Layered.inProcess(db, q, t); b }
        if (t.enabled) respBytes += bytes
      } catch { case e: Exception => out.fail(s"traced $kind: ${e.getMessage}") }
    }
    Layered.queryMetrics(out, t, l, l.allJobs)
    Layered.set(out, "server.response_bytes", Util.median(respBytes.toSeq))
    val stats = db.tables.values.map(_.storeStats)
    Layered.set(out, "streaming.store_bytes", stats.map(_._3).sum.toDouble)
    Layered.set(out, "streaming.store_days", stats.map(_._2).sum.toDouble)
    Layered.set(out, "streaming.live_generations", stats.map(_._4).sum.toDouble)
    Layered.selfTimes(out, t, tracedOps.size)
    Layered.overhead(out, untraced, tracedOps)
  }

  /** A fixed-parameter instance of each template, over HTTP, against the
    * same question answered by plain DataFrame operations on the raw
    * generated events.
    */
  def verify(out: Outcome): Unit = {
    import spark.implicits._
    val raw = events.map(p => (new java.sql.Timestamp(p.ts), p.userId, p.eventType, p.value))
      .toDF("ts", "user_id", "event_type", "value")
    val day = (floor(unix_millis(col("ts")) / Gen.DayMs) * Gen.DayMs).cast("long")
    val hour = (floor(unix_millis(col("ts")) / Gen.HourMs) * Gen.HourMs).cast("long")
    def agg(df: DataFrame, keys: Column*) =
      df.groupBy(keys: _*).agg(sum("value").as("value"), count(lit(1)).cast("double").as("_points"))
    def ms(n: JsonNode) = java.time.Instant.parse(n.asText).toEpochMilli
    def got(q: String) = clients.rows(clients.run(q)._1)

    def sameRows(name: String, q: String, ref: DataFrame)(key: Map[String, JsonNode] => Any,
                                                         refKey: Row => Any,
                                                         cols: Seq[String]): Unit =
      out.check(s"dashboard $name matches the DataFrame reference") {
        val g = got(q).map(r => key(r) -> cols.map(c => r.get(c).map(v => Gen.cents(v.asDouble))))
        val e = ref.collect().map(r => refKey(r) -> cols.map(c =>
          Option(r.getAs[Any](c)).map(v => Gen.cents(v.toString.toDouble)))).toSeq
        val ok = g.toMap == e.toMap && g.size == e.size
        if (!ok) out.failures += s"$name: got ${g.sortBy(_._1.toString).take(4)} " +
          s"expected ${e.sortBy(_._1.toString).take(4)}"
        ok
      }

    val vp = Seq("value", "_points")
    val byTypeTime = (r: Map[String, JsonNode]) => (r("event_type").asText, ms(r("_time")))
    val refTypeTime = (r: Row) => (r.getString(0), r.getLong(1))
    val u = 3L
    sameRows("lookup", s"SELECT value, _points FROM events_1h WHERE user_id = $u " +
      "GROUP BY event_type, period(1d)",
      agg(raw.filter(col("user_id") === u), col("event_type"), day.as("t")))(
      byTypeTime, refTypeTime, vp)
    val a = Gen.Epoch + 5 * Gen.HourMs
    val b = a + Gen.DayMs * math.min(2, days - 1)
    sameRows("window", s"SELECT value, _points FROM events_1h ASOF '${Util.iso(a)}' " +
      s"UNTIL '${Util.iso(b)}' GROUP BY event_type, period(1h)",
      agg(raw.filter(unix_millis(col("ts")) >= a && unix_millis(col("ts")) < b),
        col("event_type"), hour.as("t")))(byTypeTime, refTypeTime, vp)
    sameRows("rollup", sql("rollup", null),
      agg(raw, col("event_type"), day.as("t")))(byTypeTime, refTypeTime, vp)

    // top-N: ties make the chosen users ambiguous, so compare the values
    // and that each returned user carries its own total (sums of two-decimal
    // values compare in whole cents: summation order moves the last bits)
    out.check("dashboard topn matches the DataFrame reference") {
      val perUser = raw.groupBy("user_id").agg(sum("value").as("v")).collect()
        .map(r => r.getLong(0) -> Gen.cents(r.getDouble(1))).toMap
      val g = got(sql("topn", null))
      val top = perUser.values.toSeq.sorted(Ordering[Long].reverse).take(10)
      g.map(r => Gen.cents(r("value").asDouble)) == top &&
        g.forall(r => perUser.get(r("user_id").asLong).contains(Gen.cents(r("value").asDouble)))
    }

    out.check("dashboard crosstab matches the DataFrame reference") {
      val ref = raw.groupBy(day.as("t")).pivot("event_type", Gen.EventTypes)
        .agg(sum("value")).collect()
        .map(r => r.getLong(0) -> Gen.EventTypes.indices.map(i => Gen.cents(r.getDouble(i + 1)))).toMap
      val g = got(sql("crosstab", null)).map(r =>
        ms(r("_time")) -> Gen.EventTypes.map(et => Gen.cents(r(s"${et}_value").asDouble))).toMap
      g == ref
    }

    out.check("dashboard shift matches the DataFrame reference") {
      val perDay = raw.groupBy(col("event_type"), day.as("t")).agg(sum("value").as("v"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> Gen.cents(r.getDouble(2))).toMap
      val g = got(sql("shift", null))
      g.size == perDay.size && g.forall { r =>
        val k = (r("event_type").asText, ms(r("_time")))
        val prev = perDay.get((k._1, k._2 - Gen.DayMs))
        perDay.get(k).contains(Gen.cents(r("value").asDouble)) &&
          r.get("prev").filterNot(_.isNull).map(v => Gen.cents(v.asDouble)) == prev
      }
    }
  }
}

object DashboardRead {
  val Templates: IndexedSeq[String] =
    IndexedSeq("lookup", "window", "rollup", "topn", "crosstab", "shift")
}
