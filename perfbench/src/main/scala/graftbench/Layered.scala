package graftbench

import graft.GraftDB

/** The traced run's layer calls and the per-layer metrics computed from
  * their spans and the listener's job records.
  *
  * The in-process query path repeats what `GraftDB.sql` does for these
  * queries (they reference no ANN index, so it takes no leases): dialect
  * parse, catalog, IR → DataFrame plan, Catalyst, then execution.
  */
object Layered {

  /** Every per-layer metric with its unit. A traced run reports all of
    * them; a layer the workload does not exercise reads 0.
    */
  val Units: Seq[(String, String)] = Seq(
    "server.run_ms" -> "ms", "server.delivery_ms" -> "ms",
    "server.jobs_per_request" -> "count", "server.response_bytes" -> "bytes",
    "server.rpc_run_ms" -> "ms", "server.rpc_delivery_ms" -> "ms",
    "server.decode_ms" -> "ms",
    "sqlx.parse_ms" -> "ms", "planner.plan_ms" -> "ms",
    "planner.driver_jobs" -> "count", "catalyst.optimize_ms" -> "ms",
    "GraftDB.catalog_ms" -> "ms", "GraftDB.insert_ms" -> "ms",
    "GraftDB.journal_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.task_ms" -> "ms", "exec.scan_bytes" -> "bytes",
    "exec.shuffle_bytes" -> "bytes", "exec.busy_frac" -> "ratio",
    "streaming.merge_ms" -> "ms", "streaming.merge_jobs" -> "count",
    "streaming.merge_task_ms" -> "ms", "streaming.partial_agg_ms" -> "ms",
    "streaming.touched_collect_ms" -> "ms", "streaming.day_rewrite_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.days_touched" -> "count",
    "streaming.bytes_written_per_point" -> "bytes/point",
    "streaming.store_bytes" -> "bytes", "streaming.store_days" -> "count",
    "streaming.live_generations" -> "count",
    "pipeline.exact_ms" -> "ms", "pipeline.neardup_ms" -> "ms",
    "pipeline.containment_ms" -> "ms", "pipeline.jobs" -> "count",
    "pipeline.task_ms" -> "ms", "pipeline.persisted_rdds" -> "count",
    "pipeline.index_bytes" -> "bytes",
    "self.server_ms" -> "ms", "self.sqlx_ms" -> "ms", "self.GraftDB_ms" -> "ms",
    "self.planner_ms" -> "ms", "self.catalyst_ms" -> "ms", "self.exec_ms" -> "ms",
    "self.pipeline_ms" -> "ms",
    "trace.requests" -> "count", "trace.overhead_ms" -> "ms",
    "trace.overhead_frac" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB", "host.cal_s" -> "s",
    "host.load_s" -> "s")

  val SelfLayers: Seq[String] =
    Seq("server", "sqlx", "GraftDB", "planner", "catalyst", "exec", "pipeline")

  def init(out: Outcome): Unit =
    Units.foreach { case (n, u) => if (!out.layers.contains(n)) out.layers(n) = (0.0, u) }

  def set(out: Outcome, name: String, v: Double): Unit = {
    require(Units.exists(_._1 == name), s"undeclared per-layer metric $name")
    out.layers(name) = (if (v.isNaN) 0.0 else v, Units.find(_._1 == name).get._2)
  }

  /** Runs `op(request)` until `seconds` have passed and at least
    * `minRequests` (two or more) have run, alternating untraced and traced
    * requests so that both see the same warm-up. The listener is attached
    * only around traced requests. Returns the wall times of the untraced
    * and of the traced requests.
    */
  def alternate(spark: org.apache.spark.sql.SparkSession, seconds: Int, minRequests: Int,
                l: BenchListener, t: Tracer)(op: Long => Unit): (Seq[Double], Seq[Double]) = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + seconds * 1000000000L
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    var req = 0L
    while (System.nanoTime() < deadline || req < math.max(2, minRequests)) {
      req += 1
      t.request = req
      t.enabled = req % 2 == 0
      if (t.enabled) sc.addSparkListener(l)
      val s0 = System.nanoTime()
      op(req)
      (if (t.enabled) traced else untraced) += (System.nanoTime() - s0) / 1e6
      if (t.enabled) { l.drain(sc); sc.removeSparkListener(l) }
    }
    t.enabled = false
    (untraced.toSeq, traced.toSeq)
  }

  /** The in-process query path with one span per layer; returns the rows. */
  def inProcess(db: GraftDB, sql: String, t: Tracer): Array[org.apache.spark.sql.Row] =
    t("bench.inprocess") {
      val q = t("sqlx.parse")(graft.sqlx.Parser.parse(sql))
      val cat = t("GraftDB.catalog")(db.catalog)
      val df = t("planner.plan")(new graft.planner.Planner(cat).plan(q))
      t("catalyst.optimize")(df.queryExecution.executedPlan)
      t("exec.collect")(df.collect())
    }

  /** Query-path metrics from the spans of the traced requests. */
  def queryMetrics(out: Outcome, t: Tracer, l: BenchListener, jobs: Seq[JobRec]): Unit = {
    val spans = t.spans.toSeq
    val byReq = spans.groupBy(_.request)
    def med(xs: Iterable[Double]) = Util.median(xs.toSeq)
    def ms(name: String) = med(spans.filter(_.name == name).map(_.ms))
    set(out, "sqlx.parse_ms", ms("sqlx.parse"))
    set(out, "GraftDB.catalog_ms", ms("GraftDB.catalog"))
    set(out, "planner.plan_ms", ms("planner.plan"))
    set(out, "catalyst.optimize_ms", ms("catalyst.optimize"))
    set(out, "exec.ms", ms("exec.collect"))
    set(out, "planner.driver_jobs",
      med(spans.filter(_.name == "planner.plan").map(s => l.jobsWithin(s, jobs).size.toDouble)))
    val execs = spans.filter(_.name == "exec.collect")
    val execTot = execs.map(s => l.totals(l.jobsWithin(s, jobs)))
    set(out, "exec.jobs", med(execTot.map(_.jobs.toDouble)))
    set(out, "exec.tasks", med(execTot.map(_.tasks.toDouble)))
    set(out, "exec.task_ms", med(execTot.map(_.taskMs.toDouble)))
    set(out, "exec.scan_bytes", med(execTot.map(_.scanBytes.toDouble)))
    set(out, "exec.shuffle_bytes", med(execTot.map(_.shuffleBytes.toDouble)))
    val execWall = execs.map(_.ms).sum
    set(out, "exec.busy_frac",
      if (execWall > 0) execTot.map(_.taskMs).sum / (execWall * Main.Cores) else 0.0)
    // endpoint wall minus the in-process path of the same request
    def delivery(endpoint: String) = byReq.values.flatMap { ss =>
      for {
        e <- ss.find(_.name == endpoint)
        i <- ss.find(_.name == "bench.inprocess")
      } yield e.ms - i.ms
    }
    set(out, "server.run_ms", ms("server.http_run"))
    set(out, "server.delivery_ms", med(delivery("server.http_run")))
    set(out, "server.rpc_run_ms", ms("server.rpc_query"))
    set(out, "server.rpc_delivery_ms", med(delivery("server.rpc_query")))
    val endpoints = spans.filter(s => s.name == "server.http_run" || s.name == "server.rpc_query")
    set(out, "server.jobs_per_request",
      med(endpoints.map(s => l.jobsWithin(s, jobs).size.toDouble)))
  }

  /** Self time per layer, per traced request. */
  def selfTimes(out: Outcome, t: Tracer, requests: Int): Unit = {
    val self = t.selfMsByLayer
    SelfLayers.foreach(layer =>
      set(out, s"self.${layer}_ms", self.getOrElse(layer, 0.0) / math.max(1, requests)))
  }

  /** Tracing overhead: the per-request median wall time of the traced
    * requests minus that of the untraced ones of the same run.
    */
  def overhead(out: Outcome, untracedMs: Seq[Double], tracedMs: Seq[Double]): Unit = {
    val u = Util.median(untracedMs)
    val d = Util.median(tracedMs) - u
    set(out, "trace.overhead_ms", d)
    set(out, "trace.overhead_frac", if (u > 0) d / u else 0.0)
    set(out, "trace.requests", tracedMs.size.toDouble)
  }
}
