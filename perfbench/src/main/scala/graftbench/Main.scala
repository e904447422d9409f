package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Results of one run. `e2e` holds the end-to-end metrics by the names of
  * the workload catalogue (perfbench/metrics.json); `layers` the per-layer
  * metrics of a traced run.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = { failed += 1; if (failures.size < 20) failures += what }

  /** One correctness check: counts as an attempted operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed =
      try ok
      catch { case e: Exception => failures += s"$what: $e"; false }
    if (!passed) fail(what)
  }
}

/** A workload: builds its starting state, drives the program for a fixed
  * time with tracing off (or one traced client), then checks results.
  */
trait Workload {
  /** Build the starting state from scratch under `dir`, warm-up included. */
  def setup(dir: Path): Unit
  /** Release everything `setup` started. */
  def teardown(): Unit
  def measure(seconds: Int, out: Outcome): Unit
  def traced(seconds: Int, out: Outcome, listener: BenchListener, tracer: Tracer): Unit
  def verify(out: Outcome): Unit
  /** op_p50_ms, op_per_s and store_bytes_per_item: the workload's own
    * end-to-end metrics under names every workload shares, so that one bound
    * covers them on every workload (see metrics.json).
    */
  def gated(out: Outcome): Seq[(String, Double)]
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, smoke: Boolean, work: Path)

  val Workloads: Seq[String] = Seq("ingest_live", "dashboard_read", "dedup_admit")
  val Cores: Int = 4

  def parseArgs(argv: Array[String]): Args = {
    def opt(k: String): Option[String] = {
      val i = argv.indexOf(k)
      if (i >= 0 && i + 1 < argv.length) Some(argv(i + 1)) else None
    }
    val wl = opt("--workload").getOrElse(sys.error("--workload is required"))
    require(Workloads.contains(wl), s"unknown workload '$wl' (one of ${Workloads.mkString(", ")})")
    val secs = opt("--seconds").map(_.toInt).getOrElse(10)
    require(secs >= 1, "--seconds must be >= 1")
    Args(wl, opt("--seed").map(_.toLong).getOrElse(1L), secs,
      opt("--trace").contains("1"), argv.contains("--smoke"),
      Paths.get(opt("--work").getOrElse(sys.error("--work is required"))))
  }

  /** The session the daemon builds (graft.Server.main), pinned to
    * `local[4]` and with every scratch file kept under the work directory.
    */
  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The fixed-cost calibration job of graft.Bench: a constant 3-row pivot,
    * join and window whose wall time tracks host load, not the code.
    */
  def calibration(spark: SparkSession): Double = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val t = Seq(("a", "x", 1.0), ("b", "y", 2.0), ("a", "y", 3.0)).toDF("k", "p", "v")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k")).orderBy(col("v2"))
    t.groupBy("k").pivot("p", Seq("x", "y")).agg(sum("v"))
      .join(t.select(col("k"), col("v").as("v2")), Seq("k"))
      .withColumn("rn", row_number().over(w))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The load probe of graft.Bench, sized to this session's cores (1/8 of
    * its 2^30 hashes for 1/8 of its 32 cores): a 32-task parallel hash sum
    * whose wall time tracks CPU contention, which `calibration` (mostly
    * single-threaded driver scheduling) follows only weakly.
    */
  def loadProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 27, 1L, 32).selectExpr("max(xxhash64(id))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def gcMs(): Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  private def heapPools = {
    val b = mutable.ArrayBuffer.empty[java.lang.management.MemoryPoolMXBean]
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) b += p
    }
    b.toSeq
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out = new Outcome
    var wl: Workload = null
    try {
      // host load beside every run, probed before any engine code runs so
      // that no change to the engine can move it
      // (the first probes of a fresh session run while the JVM is still
      // compiling its start-up code: they are warm-up, not samples)
      calibration(spark)
      loadProbe(spark)
      val calS = Util.median(Seq.fill(CalProbes)(calibration(spark)))
      val loadS = Util.median(Seq.fill(CalProbes)(loadProbe(spark)))
      wl = a.workload match {
        case "ingest_live"    => new IngestLive(spark, a.seed, a.smoke)
        case "dashboard_read" => new DashboardRead(spark, a.seed, a.smoke)
        case "dedup_admit"    => new DedupAdmit(spark, a.seed, a.smoke)
      }
      val s0 = System.nanoTime()
      wl.setup(a.work.resolve("state"))
      val setupS = sessionS + (System.nanoTime() - s0) / 1e9

      val gc0 = gcMs()
      heapPools.foreach(_.resetPeakUsage())
      if (a.trace) {
        val listener = new BenchListener
        val tracer = new Tracer
        wl.traced(a.seconds, out, listener, tracer)
        tracer.write(a.work.resolve("spans.jsonl"))
        out.notes("spans") = tracer.spans.size
      } else wl.measure(a.seconds, out)
      val gc = gcMs() - gc0
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      wl.verify(out)

      out.layers("jvm.gc_ms") = (gc.toDouble, "ms")
      out.layers("jvm.heap_peak_mb") = (heapPeakMb, "MB")
      out.layers("host.cal_s") = (calS, "s")
      out.layers("host.load_s") = (loadS, "s")
      out.e2e("setup_s") = (setupS, "s")
      out.e2e("failed_frac") =
        (if (out.attempted == 0) 1.0 else out.failed.toDouble / out.attempted, "ratio")

      val metrics: Seq[(String, (Double, String))] =
        if (a.trace) out.layers.toSeq
        else wl.gated(out).map { case (n, v) => n -> (v, GatedUnits(n)) } :+
          ("setup_s" -> (setupS, "s"))
      val detail = mutable.LinkedHashMap[String, Any](
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "smoke" -> a.smoke,
        "host.cal_s" -> calS, "host.load_s" -> loadS, "session_start_s" -> sessionS,
        "metrics" -> out.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "notes" -> out.notes,
        "failures" -> out.failures.toSeq)
      println("PERFBENCH_DETAIL " + Util.json(detail))
      val result = mutable.LinkedHashMap[String, Any](
        "correct" -> (out.failed == 0 && out.attempted > 0),
        // a run that attempted nothing still reports one (failed) attempt
        "attempted" -> math.max(1L, out.attempted),
        "failed" -> out.failed,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) }: _*))
      println("PERFBENCH_RESULT " + Util.json(result))
    } finally {
      if (wl != null) try wl.teardown() catch { case e: Exception => System.err.println(e) }
      spark.stop()
    }
  }

  val CalProbes = 3

  /** Units of the end-to-end metrics BENCHMARK.json bounds. */
  val GatedUnits: Map[String, String] = Map(
    "op_p50_ms" -> "ms", "op_per_s" -> "items/s", "store_bytes_per_item" -> "bytes/item")
}
