package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._

/** Snapshot-identity discipline for the incremental operators: a batch
  * directory that GAINS a file between two calls in one session (the normal
  * growth pattern for a parquet landing dir — files arrive from OUTSIDE the
  * session, so no Spark recache fires) must be seen by the second call.
  *
  * Two distinct mechanisms can serve the stale listing:
  *   1. memo keys on `analyzed.semanticHash()` — a HadoopFsRelation's
  *      identity is its root PATHS, not its file listing, so the hash is
  *      byte-identical across the growth;
  *   2. the CacheManager aliases a freshly-built plan over the grown dir to
  *      the persisted (PersistCache) twin built over the old listing — same
  *      path-identity rule — and serves the already-materialized rows.
  * Both were measured live (r22 probe: a fresh read of the grown dir
  * counted the new row, but re-persisting the same aggregation returned the
  * stale cached 2 rows). These specs pin the fix: content-true memo keys
  * (file list + size + mtime) and a snapshot marker on every persisted
  * batch-derived frame.
  */
class SnapshotSpec extends AnyFunSuite with TestSession {

  /** Grow `destDir` the way a landing dir grows in production: the new
    * parquet file is created OUTSIDE the destination (side dir) and moved
    * in at the filesystem level, so none of Spark's write-path recache
    * hooks fire on `destDir`.
    */
  private def growExternally(destDir: String, rows: DataFrame): Unit = {
    val side = java.nio.file.Files.createTempDirectory("snap-side").toString
    rows.coalesce(1).write.mode("overwrite").parquet(side)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(side))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst.orElseThrow()
    java.nio.file.Files.move(part, java.nio.file.Paths.get(destDir,
      s"part-external-${System.nanoTime()}.parquet"))
  }

  test("exact incremental admit=false: a grown batch dir is seen by the second call") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("snap-ex-ro").toString
    val idx = base + "/i"
    Dedup.buildExactIndexIfMissing(Seq((100L, "alpha")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx)
    val bdir = base + "/batch"
    Seq((1L, "alpha"), (2L, "bravo")).toDF("doc_id", "text").write.parquet(bdir)
    val r1 = Dedup.exactIncremental(spark.read.parquet(bdir), col("text"),
        col("doc_id"), idx, admit = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r1 === Set(2L))
    // grow with a NOVEL row (3) and a HISTORY-DUP row (4): a stale plan or
    // stale cached batch frame drops 3 (semi-join against old survivors);
    // a stale loser set would wrongly pass a dup through an anti-join
    growExternally(bdir, Seq((3L, "charlie"), (4L, "alpha"))
      .toDF("doc_id", "text"))
    val r2 = Dedup.exactIncremental(spark.read.parquet(bdir), col("text"),
        col("doc_id"), idx, admit = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r2 === Set(2L, 3L),
      "the second admit=false call must observe the grown batch listing")
  }

  test("exact incremental admit=true: a grown batch dir is admitted, not served stale") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("snap-ex-rw").toString
    val idx = base + "/i"
    Dedup.buildExactIndex(Seq((100L, "alpha")).toDF("doc_id", "text"),
      col("text"), idx)
    val bdir = base + "/batch"
    Seq((1L, "alpha"), (2L, "bravo")).toDF("doc_id", "text").write.parquet(bdir)
    val r1 = Dedup.exactIncremental(spark.read.parquet(bdir), col("text"),
        col("doc_id"), idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r1 === Set(2L))
    growExternally(bdir, Seq((3L, "charlie")).toDF("doc_id", "text"))
    // day-2 read of the same landing dir: bravo is history now, charlie is new
    val r2 = Dedup.exactIncremental(spark.read.parquet(bdir), col("text"),
        col("doc_id"), idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r2 === Set(3L),
      "the day-2 admit must see the grown listing (charlie), not a cached day-1 batch")
    // and charlie actually entered the index
    val probe = Dedup.exactIncremental(Seq((9L, "charlie")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, admit = false).collect()
    assert(probe.isEmpty, "charlie must have been admitted to the index")
  }

  test("near-dup incremental admit=false: a grown batch dir is seen by the second call") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("snap-nd-ro").toString
    val idx = base + "/i"
    Dedup.buildNearDupIndexIfMissing(
      Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, n = 3, numHashes = 16, bands = 8)
    val bdir = base + "/batch"
    Seq((1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "an entirely different set of words about spark plans"))
      .toDF("doc_id", "text").write.parquet(bdir)
    val r1 = Dedup.nearDupIncremental(spark.read.parquet(bdir), col("text"),
        col("doc_id"), idx, n = 3, numHashes = 16, bands = 8,
        threshold = 0.9, admit = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r1 === Set(2L))
    // a novel row (3) AND a history near-dup row (4): a stale loser set
    // lets 4 through the anti-join; a stale memoized plan drops 3
    growExternally(bdir,
      Seq((3L, "novel third document with its own fresh vocabulary entirely"),
          (4L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("doc_id", "text"))
    val r2 = Dedup.nearDupIncremental(spark.read.parquet(bdir), col("text"),
        col("doc_id"), idx, n = 3, numHashes = 16, bands = 8,
        threshold = 0.9, admit = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r2 === Set(2L, 3L),
      "the second admit=false call must observe the grown batch listing " +
        "(3 is novel and must appear; 4 near-dups history and must not)")
  }

  test("containment incremental admit=false: a grown batch dir is seen by the second call") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("snap-cn-ro").toString
    val idx = base + "/i"
    Dedup.buildContainmentIndexIfMissing(
      Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, n = 3, numProbes = 4)
    val bdir = base + "/batch"
    Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "one two three four five six"))
      .toDF("doc_id", "text").write.parquet(bdir)
    val r1 = Dedup.containmentIncremental(spark.read.parquet(bdir),
        col("text"), col("doc_id"), idx, n = 3, threshold = 0.9,
        numProbes = 4, admit = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r1 === Set(2L))
    // a novel row (3) AND a history-contained row (4, verbatim quote)
    growExternally(bdir,
      Seq((3L, "seven eight nine ten eleven twelve"),
          (4L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"))
    val r2 = Dedup.containmentIncremental(spark.read.parquet(bdir),
        col("text"), col("doc_id"), idx, n = 3, threshold = 0.9,
        numProbes = 4, admit = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r2 === Set(2L, 3L),
      "the second admit=false call must observe the grown batch listing " +
        "(3 is novel and must appear; 4 quotes history and must not)")
  }

  test("ivfAppend: a grown batch dir appends the new rows, not a memoized no-op") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("snap-ivf").toString
    val idx = base + "/i"
    val seed = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.ivfBuildIfMissing(seed, col("embedding"), col("vec_id"),
      nCentroids = 2, idx)
    val bdir = base + "/batch"
    // batch of ids ALREADY indexed: the first append is a proven no-op
    seed.filter(col("vec_id") < 2).write.parquet(bdir)
    val n1 = Similarity.ivfAppend(spark, idx, spark.read.parquet(bdir),
      col("embedding"), col("vec_id"))
    assert(n1 === 0L)
    // replay: same listing, still a no-op (the memo's legitimate case)
    val n1b = Similarity.ivfAppend(spark, idx, spark.read.parquet(bdir),
      col("embedding"), col("vec_id"))
    assert(n1b === 0L)
    growExternally(bdir,
      Seq((50L, Array(1.0f, 2.0f, 3.0f, 4.0f))).toDF("vec_id", "embedding"))
    val n2 = Similarity.ivfAppend(spark, idx, spark.read.parquet(bdir),
      col("embedding"), col("vec_id"))
    assert(n2 === 1L,
      "a grown batch dir must append its new row, not replay the memoized no-op")
    val ids = spark.read.parquet(idx).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(ids.contains(50L), "the appended row must be in the index")
  }

  test("repeatedSpanStats: a grown corpus dir is counted, not served cached grams") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("snap-span").toString
    val cdir = base + "/corpus"
    Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text").write.parquet(cdir)
    def stats(): Map[Long, Long] =
      Dedup.repeatedSpanStats(spark.read.parquet(cdir), col("text"),
          col("doc_id"), n = 3)
        .select("doc_id", "dup_pos").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats() === Map(1L -> 0L, 2L -> 0L))
    // doc 3 repeats doc 1 verbatim: both are now fully covered by repeats
    growExternally(cdir, Seq((3L, "alpha beta gamma delta")).toDF("doc_id", "text"))
    assert(stats() === Map(1L -> 4L, 2L -> 0L, 3L -> 4L),
      "the rerun must count the grams of the grown listing, not the cached old ones")
  }

  private def docIds(dir: String): Set[Long] =
    spark.read.parquet(dir).select("id").collect().map(_.getLong(0)).toSet

  test("containment build: a grown corpus dir rebuilds from the new listing, not cached signatures") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("snap-cn-build").toString
    val idx = base + "/i"
    val cdir = base + "/corpus"
    Seq((1L, "alpha bravo charlie delta echo foxtrot"),
        (2L, "golf hotel india juliet kilo lima"))
      .toDF("doc_id", "text").write.parquet(cdir)
    def build(): Unit = Dedup.buildContainmentIndexIfMissing(spark.read.parquet(cdir),
      col("text"), col("doc_id"), idx, n = 2, numProbes = 8)
    build()
    assert(docIds(idx + "/docs") === Set(1L, 2L))
    // the grown corpus has a new fingerprint, so the index is rebuilt; the
    // rebuild must write the grown corpus, or the meta records a corpus the
    // index does not hold
    growExternally(cdir, Seq((3L, "mike november oscar papa quebec romeo"))
      .toDF("doc_id", "text"))
    build()
    assert(docIds(idx + "/docs") === Set(1L, 2L, 3L),
      "the rebuild must index the grown listing, not the cached signatures")
  }

  test("containment compaction: a source grown outside the session compacts its new docs") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("snap-cn-compact").toString
    val src = base + "/src"
    Dedup.buildContainmentIndexIfMissing(
      Seq((1L, "alpha bravo charlie delta echo foxtrot"),
          (2L, "golf hotel india juliet kilo lima")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), src, n = 2, numProbes = 8)
    Dedup.containmentIndexCompactTo(spark, src, base + "/dest1")
    assert(docIds(base + "/dest1/docs") === Set(1L, 2L))
    // a doc row file lands in the source's docs/ from outside the session
    val other = base + "/other"
    Dedup.buildContainmentIndex(
      Seq((3L, "mike november oscar papa quebec romeo")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), other, n = 2, numProbes = 8)
    val part = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(other, "docs"))
      try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst.orElseThrow()
      finally s.close()
    }
    val destDir = java.nio.file.Paths.get(src, "docs", part.getParent.getFileName.toString)
    java.nio.file.Files.createDirectories(destDir)
    java.nio.file.Files.move(part,
      destDir.resolve(s"part-external-${System.nanoTime()}.parquet"))
    Dedup.containmentIndexCompactTo(spark, src, base + "/dest2")
    assert(docIds(base + "/dest2/docs") === Set(1L, 2L, 3L),
      "the second compaction must read the grown docs/, not the cached first read")
  }

  test("containmentLsh: a grown corpus dir is re-tokenized, not served cached shingles") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("snap-cn-lsh").toString
    val cdir = base + "/corpus"
    Seq((1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
        (2L, "india juliet kilo lima mike november oscar papa"))
      .toDF("doc_id", "text").write.parquet(cdir)
    def pairs(): Set[(Long, Long)] =
      Dedup.containmentLsh(spark.read.parquet(cdir), col("text"), col("doc_id"),
          n = 2, threshold = 0.9)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() === Set.empty[(Long, Long)])
    // doc 3 quotes doc 1 whole
    growExternally(cdir,
      Seq((3L, "alpha bravo charlie delta echo foxtrot golf hotel quebec"))
        .toDF("doc_id", "text"))
    assert(pairs() === Set((1L, 3L)),
      "the rerun must shingle the grown listing, not the cached old tokens")
  }
}
