package graftbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.pipeline.Dedup

/** `dedup_admit`: each step lands a fresh document batch in its own
  * directory — new documents plus seeded exact re-crawls and near-copies
  * of already admitted ones — and runs the three incremental dedup passes
  * with `admit = true` on it. A measured run holds one step; the traced
  * run alternates steps, so there the history indexes grow step by step.
  */
final class DedupAdmit(spark: SparkSession, seed: Long, smoke: Boolean) extends Workload {
  /** The split of the sf0.1 exact-dedup gate (q_dedup_incremental): the
    * history is every document outside source src0 (19 sources of 250), the
    * batch is src0.
    */
  private val histDocs = if (smoke) 60 else 4750
  private val batchDocs = if (smoke) 40 else 250
  /** The threshold of the sf0.1 near-dup gate (q_neardup_incremental). */
  private val NearDupThreshold = 0.9

  private var dir: Path = _
  private var rng: java.util.SplittableRandom = _
  private var nextId = 1L
  private var step = 0
  /** Fresh documents, which every pass admits: the targets of copies. */
  private val admitted = ArrayBuffer.empty[Gen.Doc]

  private def idx(kind: String) = dir.resolve("index").resolve(kind).toString

  private def newDoc(text: String): Gen.Doc = { nextId += 1; Gen.Doc(nextId - 1, text) }

  private def land(docs: Seq[Gen.Doc], name: String): DataFrame = {
    import spark.implicits._
    val path = dir.resolve("landing").resolve(name).toString
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text").coalesce(1)
      .write.parquet(path)
    spark.read.parquet(path)
  }

  /** A batch and what the passes must do with it. `nearDupCaught` are the
    * near-copies whose trigram Jaccard to their original, d / (d + 1) for
    * an original of d distinct trigrams, reaches the near-dup threshold.
    */
  private final case class Planted(batch: Seq[Gen.Doc], fresh: Set[Long],
                                   recrawls: Set[Long], nearCopies: Set[Long],
                                   nearDupCaught: Set[Long])

  /** Each document is, with the sf0.1 shares, an exact re-crawl or a
    * near-copy of an admitted document, and otherwise new.
    */
  private def nextBatch(): Planted = {
    val fresh, re, near = ArrayBuffer.empty[Gen.Doc]
    val caught = ArrayBuffer.empty[Long]
    for (_ <- 1 to batchDocs) {
      val u = rng.nextDouble()
      if (u < Gen.RecrawlShare) re += newDoc(admitted(rng.nextInt(admitted.size)).text)
      else if (u < Gen.RecrawlShare + Gen.NearCopyShare) {
        val orig = admitted(rng.nextInt(admitted.size)).text
        val d = newDoc(Gen.nearCopy(orig))
        near += d
        val k = Gen.trigrams(orig).size
        if (k.toDouble / (k + 1) >= NearDupThreshold) caught += d.id
      } else fresh += newDoc(Gen.docText(rng))
    }
    Planted((fresh ++ re ++ near).toSeq, fresh.map(_.id).toSet, re.map(_.id).toSet,
      near.map(_.id).toSet, caught.toSet)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  /** One step; returns the survivors of each pass. */
  private def admit(batch: DataFrame, t: Tracer): (Set[Long], Set[Long], Set[Long]) = {
    val text = col("text")
    val id = col("doc_id")
    val exact = t("pipeline.exact")(ids(
      Dedup.exactIncremental(batch, text, id, idx("exact"), admit = true)))
    val near = t("pipeline.neardup")(ids(
      Dedup.nearDupIncremental(batch, text, id, idx("neardup"), n = 3, numHashes = 64,
        bands = 32, threshold = NearDupThreshold, admit = true)))
    val cont = t("pipeline.containment")(ids(
      Dedup.containmentIncremental(batch, text, id, idx("containment"), n = 3,
        threshold = 0.95, numProbes = 16, admit = true)))
    (exact, near, cont)
  }

  /** Survivors must exclude every planted copy a pass is meant to catch
    * and keep every fresh document. Containment is checked in both
    * directions, and an original lies wholly inside its near-copy, so that
    * pass catches every copy.
    */
  private def checkStep(out: Outcome, p: Planted, r: (Set[Long], Set[Long], Set[Long])): Unit = {
    val (exact, near, cont) = r
    val copies = p.recrawls ++ p.nearCopies
    out.check(s"step $step exact: re-crawls rejected, fresh kept")(
      (exact & p.recrawls).isEmpty && p.fresh.subsetOf(exact))
    out.check(s"step $step near-dup: re-crawls and near-copies at the threshold rejected, fresh kept")(
      (near & (p.recrawls ++ p.nearDupCaught)).isEmpty && p.fresh.subsetOf(near))
    out.check(s"step $step containment: copies rejected, fresh kept")(
      (cont & copies).isEmpty && p.fresh.subsetOf(cont))
    recrawls += p.recrawls.size
    nearCopies += p.nearCopies.size
    nearDupCaught += p.nearDupCaught.size
  }

  /** Planted copies so far, for the detail line. */
  private var recrawls, nearCopies, nearDupCaught = 0L

  private def runStep(out: Outcome, t: Tracer): Double = {
    step += 1
    val p = nextBatch()
    val batch = land(p.batch, s"batch-$step")
    val t0 = System.nanoTime()
    val r = admit(batch, t)
    val ms = (System.nanoTime() - t0) / 1e6
    checkStep(out, p, r)
    admitted ++= p.batch.filter(d => p.fresh(d.id))
    ms
  }

  def setup(d: Path): Unit = {
    dir = d
    rng = Gen.rng(seed, 3)
    nextId = 1L
    step = 0
    admitted.clear()
    val hist = Seq.fill(histDocs)(newDoc(Gen.docText(rng)))
    val df = land(hist, "history")
    val text = col("text")
    val id = col("doc_id")
    // the three indexes are independent: built side by side to keep set-up short
    val builds = Seq(
      () => Dedup.buildExactIndexIfMissing(df, text, id, idx("exact")),
      () => Dedup.buildNearDupIndexIfMissing(df, text, id, idx("neardup"), n = 3,
        numHashes = 64, bands = 32),
      () => Dedup.buildContainmentIndexIfMissing(df, text, id, idx("containment"), n = 3,
        numProbes = 16))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
    try builds.map(b => pool.submit[Unit](() => b())).foreach(_.get())
    finally pool.shutdown()
    admitted ++= hist
  }

  def teardown(): Unit = ()

  /** One step, whatever --seconds says: every run then measures the same
    * admits against the same history, however fast the code under test is.
    * A step costs about 30 s on a 4-core host, so one is all a run can hold
    * within the benchmark's time budget.
    */
  def measure(seconds: Int, out: Outcome): Unit = {
    val ms = runStep(out, Tracer.off)
    out.e2e("dedup_docs_per_s") = (batchDocs / (ms / 1000.0), "docs/s")
    out.e2e("dedup_batch_p50_ms") = (ms, "ms")
    out.e2e("index_bytes_per_doc") = (indexBytes.toDouble / (nextId - 1), "bytes/doc")
    out.notes("steps") = step
    out.notes("batch_docs") = batchDocs
    out.notes("history_docs") = histDocs
    out.notes("planted") = Map("recrawls" -> recrawls, "near_copies" -> nearCopies,
      "near_copies_at_neardup_threshold" -> nearDupCaught)
  }

  private def indexBytes: Long = Util.dirBytes(dir.resolve("index"))

  def gated(out: Outcome): Seq[(String, Double)] = Seq(
    "op_p50_ms" -> out.e2e("dedup_batch_p50_ms")._1,
    "op_per_s" -> out.e2e("dedup_docs_per_s")._1,
    "store_bytes_per_item" -> out.e2e("index_bytes_per_doc")._1)

  /** One step untraced, then one traced, and so on while time remains. */
  def traced(seconds: Int, out: Outcome, l: BenchListener, t: Tracer): Unit = {
    Layered.init(out)
    var persisted = 0
    val (untraced, tracedOps) = Layered.alternate(spark, seconds, 2, l, t) { _ =>
      runStep(out, t)
      if (t.enabled) persisted = math.max(persisted, spark.sparkContext.getPersistentRDDs.size)
    }
    val jobs = l.allJobs
    val passes = Seq("pipeline.exact", "pipeline.neardup", "pipeline.containment")
    val spans = t.spans.filter(s => passes.contains(s.name)).toSeq
    Layered.set(out, "pipeline.exact_ms", Util.median(t.named("pipeline.exact").map(_.ms)))
    Layered.set(out, "pipeline.neardup_ms", Util.median(t.named("pipeline.neardup").map(_.ms)))
    Layered.set(out, "pipeline.containment_ms",
      Util.median(t.named("pipeline.containment").map(_.ms)))
    val perStep = spans.groupBy(_.request).values.map(ss => l.totals(ss.flatMap(l.jobsWithin(_, jobs))))
    Layered.set(out, "pipeline.jobs", Util.median(perStep.map(_.jobs.toDouble).toSeq))
    Layered.set(out, "pipeline.task_ms", Util.median(perStep.map(_.taskMs.toDouble).toSeq))
    Layered.set(out, "pipeline.persisted_rdds", persisted.toDouble)
    Layered.set(out, "pipeline.index_bytes", indexBytes.toDouble)
    Layered.selfTimes(out, t, tracedOps.size)
    Layered.overhead(out, untraced, tracedOps)
  }

  def verify(out: Outcome): Unit = ()
}
