package graft.tools

import org.apache.spark.sql.functions._

/** Maintenance-cost profile for the dedup index family across corpus
  * sizes: puts numbers AND exit-code-gated assertions on the lifecycle's
  * three cost classes, so a maintenance cost regression fails the
  * close-out instead of printing a worse table (closeout.sh runs this
  * between the lifecycle check and the bench).
  *
  *  - `stat_tick`: [[graft.pipeline.Dedup.maintainIndex]] when nothing is
  *    fragmented — the per-tick steady-state cost every enrolled index
  *    pays. Expected ~flat in corpus size (one driver file listing).
  *  - `incremental`: one fixed-size batch through
  *    [[graft.pipeline.Dedup.nearDupIncremental]] — the per-batch ingest
  *    cost. The batch broadcasts into a map-only scan of the index
  *    (PlanSpec pins no-shuffle), so growth with corpus size is the
  *    columnar scan term, with no shuffle of corpus-proportional data.
  *  - `compact`: a forced full compaction (maxFilesPerPrefix = 1) — the
  *    amortized cost. Corpus-linear by design (blue/green rewrite), paid
  *    once per ~maxFilesPerPrefix fragmenting batches per prefix, i.e.
  *    amortized corpus/maxFiles per batch; the statistic that triggers it
  *    is the flat `stat_tick`.
  *
  * Fixture: every doc carries tokens unique to its id, so MinHash bands
  * never collide across docs (candidate generation stays O(batch)) and
  * every incremental row admits — the measured time is pipeline cost,
  * not verification skew.
  *
  * Run: sbt "runMain graft.tools.MaintStress [corpusSizes...]"
  *      (default 20000 80000 320000; session settings from the
  *      environment, see [[graft.Sessions]])
  */
object MaintStress {
  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(20000L, 80000L, 320000L)
    val spark = graft.Sessions.fromEnv()

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def docs(from: Long, n: Long) =
      spark.range(from, from + n).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit(s"w${i}_"), col("id"))): _*).as("text"))
    def fileCount(p: String): Int =
      spark.read.parquet(p).inputFiles.length

    val batchRows = 2000L
    val measured = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double, Double)] // (corpus, stat, inc, compact)
    sizes.foreach { n =>
      val idx = java.nio.file.Files
        .createTempDirectory(s"maint-stress-$n").toString + "/i"
      val (_, buildSec) = time {
        graft.pipeline.Dedup.buildNearDupIndexIfMissing(docs(0L, n),
          col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 16)
      }
      // steady state: the statistic alone, nothing to compact
      val (r0, statSec) = time {
        graft.pipeline.Dedup.maintainIndex(spark, idx,
          s"$idx-gX", maxFilesPerPrefix = 1000000)
      }
      require(!r0.compacted, "stat tick must not compact")
      // one fixed-size batch: per-batch ingest cost at this corpus size
      val (_, incSec) = time {
        graft.pipeline.Dedup.nearDupIncremental(docs(10000000L, batchRows),
          col("text"), col("doc_id"), idx, n = 1, numHashes = 64,
          bands = 16, threshold = 0.9, admit = true)
      }
      // fragment with two more batches, then force the full compaction
      (1 to 2).foreach { b =>
        graft.pipeline.Dedup.nearDupIncremental(
          docs(20000000L + b * 1000000L, batchRows),
          col("text"), col("doc_id"), idx, n = 1, numHashes = 64,
          bands = 16, threshold = 0.9, admit = true)
      }
      val before = fileCount(idx)
      val ((res, compactSec)) = time {
        graft.pipeline.Dedup.maintainIndex(spark, idx,
          s"$idx-g1", maxFilesPerPrefix = 1)
      }
      require(res.compacted, "forced compact must flip")
      val after = fileCount(res.activePath)
      val rows = spark.read.parquet(res.activePath).count()
      println(f"""{"metric":"maint_cost","corpus":$n,"build_sec":$buildSec%.2f,""" +
        f""""stat_tick_sec":$statSec%.3f,"incremental_${batchRows}_sec":$incSec%.2f,""" +
        f""""compact_sec":$compactSec%.2f,"files_before":$before,""" +
        f""""files_after":$after,"rows":$rows}""")
      measured += ((n, statSec, incSec, compactSec))
    }
    // ---- cost-class assertions (exit-code-gated, like the lifecycle
    // check). All bounds are SAME-RUN RATIOS between the smallest and the
    // largest corpus, so ambient machine load cancels out; each carries a
    // small absolute floor so sub-second noise can't flake the gate.
    // Expected classes (BENCH_LOCAL.md r18 table): stat tick corpus-FLAT
    // (one driver file listing), incremental overhead-dominated for a
    // fixed batch, compaction fixed + corpus-LINEAR (blue/green rewrite).
    def check(cond: Boolean, what: String): Unit =
      if (cond) println(s"[maint-stress] OK   $what")
      else { System.err.println(s"[maint-stress] FAIL $what"); sys.exit(1) }
    if (measured.size >= 2) {
      val (n0, stat0, inc0, comp0) = measured.head
      val (n1, stat1, inc1, comp1) = measured.last
      val growth = n1.toDouble / n0
      check(stat1 <= math.max(3 * stat0, 1.0),
        f"stat tick stays corpus-flat: $stat1%.3fs at ${n1} docs vs " +
          f"$stat0%.3fs at ${n0} (bound max(3x, 1.0s))")
      check(inc1 <= math.max(3 * inc0, 5.0),
        f"fixed-batch incremental stays overhead-dominated: $inc1%.2fs at " +
          f"${n1} docs vs $inc0%.2fs at ${n0} (bound max(3x, 5.0s))")
      // a fixed+linear compaction grows AT MOST proportionally to the
      // corpus; 2x slack + floor still fails loudly on a quadratic
      // (growth^2 = ${growth*growth}x) regression
      check(comp1 <= math.max(2 * comp0 * growth, 10.0),
        f"compaction within the fixed+linear envelope: $comp1%.2fs at " +
          f"${n1} docs vs $comp0%.2fs at ${n0} " +
          f"(bound max(2x*${growth}%.0fx, 10.0s))")
      println("[maint-stress] PASS all cost-class assertions")
    } else println("[maint-stress] PASS (single size: table only)")
    spark.stop()
  }
}
