package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators, each designed around one shuffle on a compact
  * key so they hold up at 100 TB:
  *
  *  - exact: shuffle on xxhash64(text) — the full text never shuffles twice
  *  - n-gram Jaccard: inverted-index join on shingles (small-corpus/oracle
  *    path) — quadratic in bucket size, use MinHash-LSH beyond that
  *  - MinHash+LSH: signature → band buckets → candidate pairs → exact verify;
  *    shuffle volume is O(docs × bands), candidates only where a band agrees
  *  - SimHash: 64-bit signature; pairs within Hamming distance d found by
  *    pigeonhole banding (d < #blocks guarantees a shared block)
  */
object Dedup {

  /** Keep one row per distinct value of `keyCol` (lowest `idCol` wins).
    * Partitions by (hash, key) so the shuffle key is compact; the window
    * ranks within a partition — one shuffle, no join.
    */
  def exact(df: DataFrame, keyCol: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(xxhash64(keyCol), keyCol).orderBy(idCol)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // ---- incremental exact dedup against a persistent index --------------
  //
  // The production shape: each day's crawl batch dedups against EVERYTHING
  // ever admitted, not just against itself. The history lives as a
  // hash-only parquet index (16-byte md5 per admitted text — at 100 TB of
  // corpus the index is a few hundred GB, readable in one map-only pass);
  // the batch's hash set broadcasts INTO that scan, so the index never
  // shuffles and history size only affects scan width, never shuffle
  // volume. Admitting survivors is a partitioned append — no rewrite of
  // existing index files.

  /** (Re)build the exact-dedup index at `indexPath` from an initial corpus:
    * one distinct hash per text, partitioned by a 1-byte hash prefix so
    * future appends land beside their peers. Rows cluster on the prefix
    * before the write (one shuffle) so each prefix dir gets ~one file per
    * build instead of one per (task × prefix) — uniform hashes otherwise
    * spray every prefix across every task and the index becomes a
    * small-file field.
    */
  def buildExactIndex(df: DataFrame, keyCol: Column, indexPath: String): Unit =
    clusterOn(df.select(md5(keyCol.cast("binary")).as("__h")).distinct()
        .withColumn("__hp", substring(col("__h"), 1, 2)), "__hp", HashPrefixes)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__hp").parquet(indexPath)

  /** Prefix counts of the index layouts: the exact index's `__hp` is the
    * first two hex digits of an md5 (256 values); the near-dup and
    * containment `docs/` prefix is pmod(xxhash64(id), 32); the containment
    * postings residue is pmod(ph, 64).
    */
  private val HashPrefixes = 256
  private val IdPrefixes = 32
  private val PostPrefixes = 64

  /** Cluster rows on a prefix column before a partitioned write, into an
    * explicit min(prefixes, defaultParallelism) partitions. Each prefix
    * lands in exactly one task, so each write adds one file per prefix;
    * the explicit count keeps AQE from coalescing a small write into one
    * task that writes every prefix file in turn.
    */
  private def clusterOn(df: DataFrame, prefixCol: String,
                        prefixes: Int): DataFrame =
    df.repartition(
      math.max(1, math.min(prefixes, df.sparkSession.sparkContext.defaultParallelism)),
      col(prefixCol))

  /** Run a batch-bounded frame once and re-plan its rows as a driver-local
    * relation. An admit reads its decision back after the append; a frame
    * whose lineage scans the index would be dropped from the cache by the
    * append's `recacheByPath` and recomputed, and a local relation has no
    * such lineage. Used only on the broadcast (`small`) path, where the
    * same rows already pass through the driver as a broadcast.
    */
  private def onDriver(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*),
      df.schema)

  // (indexPath, corpus memo identity) -> fingerprint header already
  // validated by this JVM — same guard discipline as
  // Similarity.ivfBuildIfMissing: the fingerprint scan runs once per
  // (path, input content), not per query; a corpus dir that gains files
  // changes the identity and re-validates (Similarity.corpusMemoIdentity)
  private val exactIndexValidated =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** `_index.txt` as (seed-corpus fingerprint line, incremental-append count).
    * The append counter is the rebuild tripwire: a fingerprint describes only
    * the SEED corpus, so once [[exactIncremental]] has admitted batches the
    * index holds history no corpus fingerprint can account for.
    *
    * An UNPARSEABLE appends value (corrupt/truncated file) reads as
    * Long.MaxValue, not 0: the tripwire's failure modes are asymmetric — a
    * spurious refusal costs an explicit directory delete, a missed one
    * silently discards admitted history — so corruption must land on the
    * refusing side.
    */
  private def readIndexMeta(metaPath: java.nio.file.Path): Option[(String, Long)] =
    if (!java.nio.file.Files.exists(metaPath)) None
    else {
      val lines = java.nio.file.Files.readAllLines(metaPath)
      val fp = if (lines.isEmpty) "" else lines.get(0).trim
      Some((fp, IndexMeta.parseAppends(lines)))
    }

  /** Crash-atomic meta commit: tmp + ATOMIC_MOVE (the MANIFEST discipline,
    * MaterializedTable.writeManifest) — a reader never observes a torn
    * `_index.txt`, and a death before the move leaves the previous meta
    * intact. The `_`-prefixed tmp name keeps parquet readers from ever
    * seeing it as data; a stale tmp from a crashed writer is simply
    * overwritten by the next commit.
    */
  private def writeIndexMeta(metaPath: java.nio.file.Path, fpLine: String,
                             appends: Long): Unit = {
    crashHook("dedup.meta-pre")
    // an admit into a not-yet-existing index path (first batch IS the seed)
    // commits its counter before any parquet file has created the dir
    java.nio.file.Files.createDirectories(metaPath.getParent)
    val tmp = metaPath.resolveSibling(metaPath.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, s"$fpLine\nappends=$appends\n")
    crashHook("dedup.meta-tmp")
    java.nio.file.Files.move(tmp, metaPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    crashHook("dedup.meta-moved")
  }

  /** Test-only fault injection for the incremental-admit commit path (same
    * contract as [[graft.streaming.MaterializedTable.crashHook]]): invoked at
    * "dedup.meta-pre" / "dedup.meta-tmp" / "dedup.meta-moved" (inside
    * [[writeIndexMeta]]) and "dedup.appended" (after the survivors' parquet
    * append in [[exactIncremental]]). The invariant a crash fuzz checks: a
    * death at ANY point can never leave admitted hashes in the index with
    * `appends=0` — the state that would let a later corpus-change rebuild
    * silently discard them.
    */
  @volatile private[graft] var crashHook: String => Unit = _ => ()

  /** [[buildExactIndex]] only if the index at `indexPath` is absent or was
    * built from a different corpus (dataset-fingerprint keyed, like the
    * ANN index builds). Returns quickly on a warm path.
    *
    * An index that has accumulated incremental admissions
    * ([[exactIncremental]] `admit = true`) REFUSES a corpus-change rebuild:
    * the fingerprint only describes the seed corpus, so "different
    * fingerprint" no longer implies "stale" — rebuilding would silently
    * discard the entire admitted history. Delete the index directory (an
    * explicit, auditable act) to start over.
    */
  def buildExactIndexIfMissing(df: DataFrame, keyCol: Column, idCol: Column,
                               indexPath: String): Unit = {
    val memoKey = (indexPath, Similarity.corpusMemoIdentity(df))
    if (exactIndexValidated.containsKey(memoKey)) return
    val metaPath = java.nio.file.Paths.get(indexPath, "_index.txt")
    val header = s"fp=${Similarity.datasetFingerprint(df, idCol)}"
    readIndexMeta(metaPath) match {
      case Some((fp, _)) if fp == header =>
        exactIndexValidated.put(memoKey, header)
        return
      case Some((_, appends)) if appends > 0 =>
        throw new IllegalStateException(
          s"exact-dedup index at $indexPath holds $appends incremental " +
            "append(s) that a corpus-change rebuild would silently discard; " +
            "delete the index directory explicitly to rebuild from scratch")
      case _ => // absent or stale seed-only index: rebuild below
    }
    // a rebuild invalidates any OTHER corpus's cached validation for this
    // path: without this, swap corpus A -> B -> A within one session and
    // the stale A entry skips the fingerprint check against a B-built index
    exactIndexValidated.keySet.removeIf(_._1 == indexPath)
    buildExactIndex(df, keyCol, indexPath)
    writeIndexMeta(metaPath, header, appends = 0L)
    exactIndexValidated.put(memoKey, header)
  }

  // Read-only (admit = false) incremental-dedup PLANS are pure functions of
  // (index snapshot, batch content, recipe): memo them per session so a
  // repeated gate/serving query skips re-listing the snapshot, re-running
  // the two-tier sizing, and re-deriving the probe bounds — construction
  // cost measured at 0.5–1.3 s per call on the sf0.1 gates. Identity is
  // content-true on BOTH sides (r21 VERDICT item 1):
  //   - index side: the `_index.txt` CONTENT — every admit bumps the
  //     appends counter BEFORE its data lands (the counter-first crash
  //     ordering), and blue/green compaction flips to a new path, so any
  //     mutation changes the key. An index without a meta file has no such
  //     identity — those never memo. After the build the meta is RE-read
  //     and the entry is only stored if still byte-identical, so a writer
  //     racing this read cannot pin a pre-append listing under a
  //     post-append key (ADVICE r21).
  //   - batch side: the file listing + sizes + mtimes
  //     ([[Similarity.inputSnapshotSig]] — a landing dir that gains files
  //     between calls changes it; SnapshotSpec pins this, proven failing
  //     under the old plan-hash key), and a hit additionally confirms
  //     canonicalized-plan EQUALITY, never a bare 64-bit hash. Batches
  //     with no file-content identity (RDD-backed, subqueries) never memo.
  // The memo holds a LAZY plan, never results: every execution still
  // computes from the parquet snapshot pinned inside the plan. FIFO
  // (insertion-order) eviction past 64 entries — clear() would drop hot
  // entries with the cold.
  private val readOnlyPlans = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        (org.apache.spark.sql.SparkSession, String, String, String),
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame)](
        16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            (org.apache.spark.sql.SparkSession, String, String, String),
            (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame)])
          : Boolean = size() > 64
    })

  private def memoReadOnly(op: String, indexPath: String, batch: DataFrame,
                           recipe: String)(build: => DataFrame): DataFrame = {
    val metaPath = java.nio.file.Paths.get(indexPath, "_index.txt")
    if (!java.nio.file.Files.exists(metaPath)) return build
    val meta = java.nio.file.Files.readString(metaPath)
    val sig = Similarity.inputSnapshotSig(batch) match {
      case Some(s) => s
      case None => return build // opaque batch: no content identity, no memo
    }
    val canon = batch.queryExecution.analyzed.canonicalized
    val key = (batch.sparkSession, s"$op@$indexPath\n$meta", recipe, sig)
    val hit = readOnlyPlans.get(key)
    if (hit != null && hit._1 == canon) hit._2
    else {
      val built = build
      val metaNow =
        try java.nio.file.Files.readString(metaPath)
        catch { case _: Exception => null }
      if (metaNow == meta) readOnlyPlans.put(key, (canon, built))
      built
    }
  }

  /** Batch rows that survive exact dedup against BOTH the batch itself
    * (lowest `idCol` per text wins) and the persistent index at
    * `indexPath`. With `admit = true` the survivors' hashes are appended to
    * the index first (the daily-ingest mode: re-running the same batch then
    * yields zero rows); `admit = false` is a pure read (the gate/oracle
    * mode, plan-memoized per snapshot — see [[memoReadOnly]]). The
    * returned plan never observes the index rows this call added: the
    * index is read through a pinned snapshot. On the broadcast path the
    * surviving-hash set (bounded by batch size) is also materialized once,
    * BEFORE the append, as a driver-local relation, so neither the append
    * nor the returned frame re-runs the index probe; the shuffle fallback
    * persists it instead and recomputes it from the pinned snapshot after
    * the append's recache drops it.
    */
  def exactIncremental(batch: DataFrame, keyCol: Column, idCol: Column,
                       indexPath: String, admit: Boolean = true,
                       maxBroadcastHashes: Long = 4000000L): DataFrame =
    if (!admit) memoReadOnly("exact", indexPath, batch,
      s"$keyCol|$idCol|$maxBroadcastHashes")(
      exactIncrementalImpl(batch, keyCol, idCol, indexPath, admit = false,
        maxBroadcastHashes))
    else exactIncrementalImpl(batch, keyCol, idCol, indexPath, admit = true,
      maxBroadcastHashes)

  private def exactIncrementalImpl(batch: DataFrame, keyCol: Column,
                                   idCol: Column, indexPath: String,
                                   admit: Boolean,
                                   maxBroadcastHashes: Long): DataFrame = {
    val spark = batch.sparkSession
    // the batch's file-listing signature tags every persisted batch-derived
    // frame (persistTagged): without it the CacheManager aliases a rebuilt
    // plan over a GROWN landing dir to the stale cached twin (path-based
    // cache identity) and day-2 rows vanish — SnapshotSpec pins this
    val snapSig = Similarity.inputSnapshotSig(batch)
    // intra-batch winners: one shuffle on the compact 32-hex hash
    val bh0 = batch.select(md5(keyCol.cast("binary")).as("__h"), idCol.as("__id"))
      .groupBy(col("__h")).agg(min(col("__id")).as("__id"))
    // Broadcast only batches whose distinct-hash count fits executor memory
    // comfortably; a giant backfill batch (e.g. 10^7+ hashes ≈ 500 MB of
    // strings) would OOM every executor as a broadcast, so it falls back to
    // shuffle joins on __h — the index then shuffles ONCE, amortized over
    // the whole batch, instead of never (the map-only small-batch shape).
    //
    // Sizing is two-tier to keep the daily path job-free: when the
    // optimizer's size estimate already proves the batch small (≤128 MB of
    // input bytes can't hold enough distinct texts to threaten the
    // broadcast bound), skip the counting job entirely; only ambiguous or
    // large batches pay one persisted count of the compact hash frame.
    // maxBroadcastHashes <= 0 is an explicit "always shuffle" override.
    // The stats shortcut must bound ROWS, not bytes: sizeInBytes for a
    // parquet scan is COMPRESSED file bytes, and highly compressible
    // short-text batches pack far more distinct texts per byte than the
    // 128 MB-input intuition allows — the exact batch shape that would ship
    // a multi-hundred-MB hash set to every executor through the broadcast
    // path the fallback exists to protect. Use the optimizer's row count
    // when it has one; otherwise bound rows by bytes with conservative
    // constants (up to 10× parquet text compression, ≥ 8 bytes per distinct
    // stored text). When in doubt, fall through to the counted path.
    val stats =
      try Some(batch.queryExecution.optimizedPlan.stats)
      catch { case _: Exception => None }
    val estRows: BigInt = stats.flatMap(_.rowCount).getOrElse {
      val estBytes = stats.map(s => BigInt(s.sizeInBytes.toString))
        .getOrElse(BigInt(-1))
      if (estBytes < 0) BigInt(-1)
      else estBytes * 10 / 8 // decompressed upper bound / min row bytes
    }
    val smallByStats = maxBroadcastHashes > 0 &&
      estRows >= 0 && estRows <= BigInt(maxBroadcastHashes)
    // PERSIST the compact (hash, id) winners frame (FIFO-capped scan-saver):
    // it has up to four consumers — the hits probe broadcast, the anti-join,
    // the admit append, and the survivors broadcast — and broadcast
    // exchanges never reuse each other's subtrees, so uncached each would
    // re-run the batch's md5+agg pass. Persisting is lazy, so the
    // stats-proven daily path stays job-free; the counted fallback reuses
    // the same cache for its count.
    val bh = graft.PersistCache.persistTagged(bh0, snapSig)
    val small =
      if (smallByStats) true
      else if (maxBroadcastHashes <= 0) false
      else bh.count() <= maxBroadcastHashes
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // pin the index SNAPSHOT by a driver-side file listing: the survivor
    // plan below stays on the pre-append files even after this call's own
    // append lands new ones (a path-based read would be recomputed against
    // the mutated index once the append refreshes the plans over its path,
    // turning the admitted batch into 0 rows). An index built from an EMPTY
    // corpus, or not built yet, lists no files and holds no hashes.
    val preFiles = IndexSnapshot.list(spark, indexPath)
    // pass over the index with the batch hashes joined into it (broadcast →
    // map-only; shuffle fallback → one index shuffle); hits are bounded by
    // batch size
    val hits =
      if (preFiles.isEmpty) bh.select(col("__h")).limit(0)
      else IndexSnapshot.read(spark, preFiles).select(col("__h"))
        .join(maybeB(bh.select(col("__h"))), Seq("__h"), "left_semi")
        .distinct()
    // fresh (≤ the batch's distinct hashes — the bh memory class) is read
    // by the admit append AND the survivors broadcast, so it runs once:
    // collected before the append on the broadcast path (see [[onDriver]]),
    // persisted otherwise
    val freshPlan = bh.join(maybeB(hits), Seq("__h"), "left_anti")
    val fresh =
      if (admit && small) onDriver(freshPlan)
      else graft.PersistCache.persist(freshPlan)
    if (admit) {
      // Bump the append counter in `_index.txt` BEFORE the parquet append:
      // the counter is what stops a later corpus-keyed rebuild from
      // discarding admitted history (see [[buildExactIndexIfMissing]]), and
      // its failure modes are asymmetric. Counter-first, a death between the
      // two commits leaves appends=1 over an unchanged index — a spurious
      // refusal, resolved by an explicit delete. Append-first (the r12
      // ordering) the same death left admitted hashes under appends=0, and
      // the next fingerprint mismatch silently rebuilt over them.
      val metaPath = java.nio.file.Paths.get(indexPath, "_index.txt")
      val (fpLine, appends) = readIndexMeta(metaPath).getOrElse(("fp=?", 0L))
      // SATURATING increment (IndexMeta.saturatedBump): a corrupt counter
      // reads as Long.MaxValue (the refusing side), and `MaxValue + 1` would
      // wrap to MinValue — the next staleness check would then see
      // appends <= 0 and silently rebuild over admitted history, exactly the
      // state the tripwire exists to prevent. Once saturated the counter
      // stays pinned at the refusal.
      val bumped = IndexMeta.saturatedBump(appends)
      writeIndexMeta(metaPath, fpLine, bumped)
      clusterOn(fresh.select(col("__h"), substring(col("__h"), 1, 2).as("__hp")),
          "__hp", HashPrefixes)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("__hp").parquet(indexPath)
      crashHook("dedup.appended")
    }
    // join back on (hash, id), not id alone: a row survives iff its
    // (text-hash, id) pair IS the winning pair, so batches with non-unique
    // or colliding ids (two sources sharing an id space) stay correct
    val survivors = fresh.select(col("__h"), col("__id"))
    val out = batch.withColumn("__bh0", md5(keyCol.cast("binary")))
      .join(maybeB(survivors),
        col("__bh0") === col("__h") && idCol === col("__id"), "left_semi")
      .drop("__bh0")
    // bh (and a persisted fresh) stay enrolled in the PersistCache FIFO:
    // per-batch caches are evicted round-robin past the cap instead of
    // growing session storage forever (the eviction contract this file's
    // per-batch persists share).
    out
  }

  /** Blue/green compaction of the incremental-dedup index: every
    * [[exactIncremental]] admit appends ~one file per touched hash
    * prefix, so a year of daily batches leaves hundreds of files per
    * prefix dir. This rewrites the index clustered (one file per prefix)
    * into a NEW directory, carrying `_index.txt` — fingerprint AND
    * appends counter — verbatim: identical dedup decisions, rebuild
    * refusal intact. Blue/green (build dest, flip readers, delete
    * source) is the crash-safe shape, mirroring
    * [[Similarity.indexCompactTo]].
    *
    * COMPLETION SENTINEL: `_index.txt` is written LAST, crash-atomically,
    * so "dest is valid iff its meta is present". This matters MORE here
    * than for the ANN index: a meta-less dedup dir reads as `appends=0`,
    * so flipping readers to a half-compacted dest would silently disarm
    * the rebuild refusal and a later corpus-change rebuild would discard
    * the admitted history the compactor was carrying. A src without meta
    * (plain [[buildExactIndex]], never admitted) compacts to a dest with
    * an explicit `fp=?;appends=0` meta, so the validity rule is uniform:
    * check [[requireIndexComplete]] before every flip.
    */
  def indexCompactTo(spark: org.apache.spark.sql.SparkSession,
                     srcPath: String, destPath: String): Unit =
    compactClustered(spark, srcPath, destPath)

  /** Shared blue/green compact body for every `__hp`-partitioned dedup
    * index (exact hash index and near-dup MinHash index share the layout
    * discipline; only their column sets differ, and a full-width read
    * carries whichever set the source holds).
    */
  private def compactClustered(spark: org.apache.spark.sql.SparkSession,
                               srcPath: String, destPath: String): Unit = {
    // meta snapshot BEFORE the data rewrite (same pinning as the ANN twin)
    val (fpLine, appends) = readIndexMeta(
      java.nio.file.Paths.get(srcPath, "_index.txt")).getOrElse(("fp=?", 0L))
    // HashPrefixes bounds both layouts' prefix counts (256 ≥ 32)
    clusterOn(spark.read.parquet(srcPath), "__hp", HashPrefixes)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__hp").parquet(destPath)
    crashHook("dedup.compact-data")
    writeIndexMeta(java.nio.file.Paths.get(destPath, "_index.txt"),
      fpLine, appends)
    crashHook("dedup.compact-done")
  }

  /** Refuse a directory that holds index data but no `_index.txt` — the
    * state a death inside [[indexCompactTo]] leaves behind, and the one
    * state that MUST NOT serve reads: it would answer dedup decisions
    * correctly today while reporting `appends=0`, quietly disarming the
    * corpus-change rebuild refusal. Check before flipping readers to a
    * compacted dest; on failure delete the dest and re-compact from the
    * intact source.
    */
  def requireIndexComplete(indexPath: String): Unit = {
    val dir = java.nio.file.Paths.get(indexPath)
    if (!java.nio.file.Files.isDirectory(dir)) return
    if (java.nio.file.Files.exists(dir.resolve("_index.txt"))) return
    val hasData = {
      val s = java.nio.file.Files.list(dir)
      // flat layouts (exact/near-dup: __hp= dirs at the root) and the
      // containment layout (docs/ + post/ subtables) both count as data
      try s.anyMatch { p =>
        val nm = p.getFileName.toString
        nm.startsWith("__hp=") || nm == "docs" || nm == "post"
      }
      finally s.close()
    }
    if (hasData) throw new IllegalStateException(
      s"dedup index at $indexPath holds data but no _index.txt — an " +
        "incomplete compacted copy; flipping readers to it would disarm " +
        "the appends-refusal. Delete it and re-compact from the source")
  }

  // ---- incremental NEAR-DUP dedup against a persistent MinHash index ----
  //
  // The near-duplicate sibling of [[exactIncremental]] — the production
  // shape for an ongoing crawl: each batch is checked for Jaccard
  // near-duplication against EVERYTHING ever admitted, without re-scanning
  // history text. The index stores, per admitted doc, two compact columns:
  //
  //   hs  array<long>  xxhash64 per distinct shingle — the exact-verify
  //                    payload (8 bytes per distinct shingle vs the raw
  //                    text; Jaccard over the hash sets equals Jaccard over
  //                    the shingle sets barring 64-bit collisions)
  //   bnd array<long>  LSH band hashes of the MinHash signature — the
  //                    candidate-generation key (bands × 8 bytes per doc,
  //                    corpus-size-independent)
  //
  // Candidates come from an equi-join on (band, bandHash) — the batch's
  // band rows broadcast into a column-pruned (id, bnd) index scan when the
  // batch is small, so history never shuffles on the daily path — and are
  // verified EXACTLY on the stored hash sets, so false candidates cost
  // work, never correctness. A true pair at threshold t is missed with
  // probability ≈ (1 − t^r)^bands (≈1e-23 at t=0.9, 64 hashes / 32 bands).
  // Banding arithmetic is bit-identical to [[minHashLsh]]'s.

  /** (id, hs, bnd) signature rows for every doc with ≥1 shingle, one row
    * per id. Duplicate ids collapse deterministically to the minimum
    * (hs, bnd) struct (the [[exactIncremental]] winners discipline — an
    * index must never hold two signature rows for one id); the collapse
    * shuffles only the hashed signature frame, never text. Signatures come
    * from the native [[graft.functions.MinHashBands]] (one JVM walk per
    * row); [[nearDupSigColumnar]] is the Column/HOF executable spec it is
    * pinned against in PipelineSpec — outputs are bit-identical, so
    * indexes built by either formulation probe correctly under the other.
    */
  private def nearDupSig(df: DataFrame, textCol: Column, idCol: Column,
                         n: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sig = df
      .select(idCol.as("id"), shingles(textCol, n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("__mh",
        graft.functions.MinHashBands(col("sh"), numHashes, bands))
      .select(col("id"), col("__mh.hs").as("hs"), col("__mh.bnd").as("bnd"))
    sig.groupBy(col("id"))
      .agg(min(struct(col("hs"), col("bnd"))).as("__w"))
      .select(col("id"), col("__w.hs").as("hs"), col("__w.bnd").as("bnd"))
  }

  /** HOF formulation of the signature rows — the executable spec for the
    * native [[graft.functions.MinHashBands]] (same xxhash64 fold order:
    * per-shingle hash, seeded per-slot min, per-band hash of the signature
    * slice with the band index appended).
    */
  private[graft] def nearDupSigColumnar(df: DataFrame, textCol: Column,
                                        idCol: Column, n: Int,
                                        numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    df.select(idCol.as("id"), shingles(textCol, n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), transform(col("sh"), s => xxhash64(s)).as("hs"))
      .withColumn("__sig", array((0 until numHashes).map { i =>
        array_min(transform(col("hs"), h => xxhash64(h, lit(i))))
      }: _*))
      .select(col("id"), col("hs"),
        array((0 until bands).map { b =>
          xxhash64(slice(col("__sig"), lit(b * r + 1), lit(r)), lit(b))
        }: _*).as("bnd"))
  }

  /** (Re)build the near-dup index at `indexPath` from an initial corpus:
    * one signature row per doc, clustered on a 5-bit id-hash prefix before
    * the partitioned write (the [[buildExactIndex]] layout discipline — one
    * file per prefix per write, appends land beside their peers).
    */
  def buildNearDupIndex(df: DataFrame, textCol: Column, idCol: Column,
                        indexPath: String, n: Int, numHashes: Int,
                        bands: Int): Unit =
    clusterOn(nearDupSig(df, textCol, idCol, n, numHashes, bands)
        .withColumn("__hp", pmod(xxhash64(col("id")), lit(IdPrefixes)).cast("int")),
        "__hp", IdPrefixes)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__hp").parquet(indexPath)

  // keyed by (path, corpus memo identity, shingle/banding recipe): a recipe
  // change is a different index even over the same corpus, so it must not
  // hit another recipe's validation
  private val nearDupIndexValidated =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Int, Int), String]()

  /** [[buildNearDupIndex]] only if the index is absent or was built from a
    * different (corpus, shingle/banding recipe); refuses a corpus-change
    * rebuild once incremental admissions exist — the [[buildExactIndexIfMissing]]
    * tripwire, word for word, because the failure it guards is identical:
    * a rebuild keyed on the seed fingerprint would silently discard every
    * admitted batch.
    */
  def buildNearDupIndexIfMissing(df: DataFrame, textCol: Column, idCol: Column,
                                 indexPath: String, n: Int, numHashes: Int,
                                 bands: Int): Unit = {
    val memoKey = (indexPath, Similarity.corpusMemoIdentity(df),
      n, numHashes, bands)
    if (nearDupIndexValidated.containsKey(memoKey)) return
    val metaPath = java.nio.file.Paths.get(indexPath, "_index.txt")
    val header = s"fp=${Similarity.datasetFingerprint(df, idCol)};" +
      s"n=$n;k=$numHashes;b=$bands"
    readIndexMeta(metaPath) match {
      case Some((fp, _)) if fp == header =>
        nearDupIndexValidated.put(memoKey, header)
        return
      case Some((_, appends)) if appends > 0 =>
        throw new IllegalStateException(
          s"near-dup index at $indexPath holds $appends incremental " +
            "append(s) that a corpus-change rebuild would silently discard; " +
            "delete the index directory explicitly to rebuild from scratch")
      case _ => // absent or stale seed-only index: rebuild below
    }
    // a rebuild invalidates every other (corpus, recipe) validation cached
    // for this path — the mid-session swap hazard the ANN memo also guards
    nearDupIndexValidated.keySet.removeIf(_._1 == indexPath)
    buildNearDupIndex(df, textCol, idCol, indexPath, n, numHashes, bands)
    writeIndexMeta(metaPath, header, appends = 0L)
    nearDupIndexValidated.put(memoKey, header)
  }

  /** Batch rows that survive near-dup dedup against BOTH the persistent
    * index at `indexPath` (any admitted doc with Jaccard ≥ `threshold`
    * rejects the batch row) and the batch itself (a row is dominated by any
    * SMALLER-id batch row with Jaccard ≥ `threshold` — the [[cosineDedup]]
    * dominance rule, which an exact SQL oracle can state; greedy chaining
    * cannot). Docs with zero shingles (< n tokens) carry no signature: they
    * always pass and are never admitted — near-dup similarity is undefined
    * on them, exactly as Jaccard is.
    *
    * With `admit = true` the survivors' signatures are appended first
    * (counter-before-data, the [[exactIncremental]] crash discipline);
    * `admit = false` is a pure read. SINGLE WRITER: like every index
    * mutation in this file, concurrent admits to one index are undefined.
    *
    * Scale shape: the index is scanned twice, both column-pruned — (id,
    * bnd) for candidate generation, (id, hs) for verification pruned to
    * candidate ids — and never shuffles when the batch's band rows fit the
    * broadcast bound (`maxBroadcastBandRows`, counted two-tier like
    * [[exactIncremental]]: optimizer stats when provable, one persisted
    * count otherwise, ≤ 0 forces the shuffle path). Candidate volume, not
    * history size, pays the verification join; the batch's hash arrays ride
    * plain joins sized by AQE at runtime.
    */
  def nearDupIncremental(batch: DataFrame, textCol: Column, idCol: Column,
                         indexPath: String, n: Int, numHashes: Int,
                         bands: Int, threshold: Double,
                         admit: Boolean = true,
                         maxBroadcastBandRows: Long = 4000000L,
                         stripes: Int = 1): DataFrame =
    if (!admit) memoReadOnly("neardup", indexPath, batch,
      s"$textCol|$idCol|$n|$numHashes|$bands|$threshold|$maxBroadcastBandRows|$stripes")(
      nearDupIncrementalImpl(batch, textCol, idCol, indexPath, n, numHashes,
        bands, threshold, admit = false, maxBroadcastBandRows, stripes))
    else nearDupIncrementalImpl(batch, textCol, idCol, indexPath, n,
      numHashes, bands, threshold, admit = true, maxBroadcastBandRows, stripes)

  private def nearDupIncrementalImpl(batch: DataFrame, textCol: Column,
                                     idCol: Column, indexPath: String,
                                     n: Int, numHashes: Int, bands: Int,
                                     threshold: Double, admit: Boolean,
                                     maxBroadcastBandRows: Long,
                                     stripes: Int): DataFrame = {
    require(stripes >= 1, "stripes must be >= 1")
    val spark = batch.sparkSession
    // snapshot marker: see exactIncrementalImpl (cand/losers inherit it)
    val prep = graft.PersistCache.persistTagged(
      nearDupSig(batch, textCol, idCol, n, numHashes, bands),
      Similarity.inputSnapshotSig(batch))
    // two-tier broadcast sizing on the batch's BAND-ROW count (docs × bands
    // — the frame that actually ships): stats shortcut when the optimizer
    // already proves the batch small, one count otherwise, <= 0 = always
    // shuffle. Same rationale as exactIncremental's; the row bound uses the
    // optimizer's row count when present, else conservative byte constants.
    val stats =
      try Some(batch.queryExecution.optimizedPlan.stats)
      catch { case _: Exception => None }
    val estDocs: BigInt = stats.flatMap(_.rowCount).getOrElse {
      val estBytes = stats.map(s => BigInt(s.sizeInBytes.toString))
        .getOrElse(BigInt(-1))
      if (estBytes < 0) BigInt(-1) else estBytes * 10 / 8
    }
    val smallByStats = maxBroadcastBandRows > 0 && estDocs >= 0 &&
      estDocs * bands <= BigInt(maxBroadcastBandRows)
    val small =
      if (smallByStats) true
      else if (maxBroadcastBandRows <= 0) false
      else prep.count() * bands <= maxBroadcastBandRows
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // pin the index SNAPSHOT by a driver-side file listing (as in
    // exactIncremental: the survivor plan must not observe the rows this
    // call's own admit appends)
    val preFiles = IndexSnapshot.list(spark, indexPath)
    val bBand = prep.select(col("id").as("bid"),
      posexplode(col("bnd")).as(Seq("band", "bh")))
    val histDup =
      if (preFiles.isEmpty) prep.select(col("id")).limit(0)
      else {
        val ix = IndexSnapshot.read(spark, preFiles)
        val iBand = ix.select(col("id").as("hid"),
          posexplode(col("bnd")).as(Seq("band", "bh")))
        // PERSIST the distinct candidate pairs (collision-bounded): the hid
        // prune broadcast and the verification join would otherwise each
        // replay the banded index scan — broadcast exchanges never reuse
        // each other's subtrees (the containmentIncremental measurement)
        val cand = graft.PersistCache.persist(
          iBand.join(maybeB(bBand), Seq("band", "bh"))
            .select(col("bid"), col("hid")).distinct())
        // verify exactly on the stored hash sets. The candidate-hid prune
        // broadcasts under the same `small` flag so the index hs scan stays
        // map-only on the daily path (exactIncremental's `hits` discipline;
        // the set is collision-bounded, and admitted docs are mutually
        // non-near-dup, which keeps real match degrees small). Everything
        // downstream joins candidate-bounded frames only.
        // no distinct on the prune side: a semi-join tolerates duplicate
        // keys, and `cand` is already pair-distinct — one less shuffle
        val candIds = cand.select(col("hid"))
        val histHs = ix.select(col("id").as("hid"), col("hs").as("hhs"))
          .join(maybeB(candIds), Seq("hid"), "left_semi")
        val bHs = prep.select(col("id").as("bid"), col("hs").as("bhs"))
        // bHs is deliberately NOT hinted: it carries the batch's hash
        // ARRAYS, far heavier per row than the 24-byte band rows the
        // broadcast bound was sized for — AQE right-sizes this join at
        // runtime from the candidate side instead
        val inter = size(array_intersect(col("bhs"), col("hhs"))).cast("double")
        cand.join(histHs, "hid").join(bHs, "bid")
          .withColumn("__j",
            inter / (size(col("bhs")) + size(col("hhs")) - inter))
          .filter(col("__j") >= threshold)
          .select(col("bid").as("id"))
      }
    // intra-batch domination: banded self-join over the batch's own rows
    // (striped for hot band buckets like minHashLsh), exact-verified, then
    // the GREATER id of every verified pair loses
    val banded = prep.select(col("id"), posexplode(col("bnd")).as(Seq("band", "bh")))
    val candIB = Similarity.selfPairs(banded, Seq("band", "bh"), "id", stripes)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val sa = prep.select(col("id").as("id_a"), col("hs").as("sha"))
    val sb = prep.select(col("id").as("id_b"), col("hs").as("shb"))
    val interIB = size(array_intersect(col("sha"), col("shb"))).cast("double")
    val dominated = candIB.join(sa, "id_a").join(sb, "id_b")
      .withColumn("__j",
        interIB / (size(col("sha")) + size(col("shb")) - interIB))
      .filter(col("__j") >= threshold)
      .select(col("id_b").as("id"))
    // losers stays duplicate-bearing on purpose: every consumer is an
    // anti-join (duplicate keys are free there), so the distincts would
    // only add shuffles. The set is candidate-bounded either way, and it
    // runs once for the admit-path survivors anti-join and the returned
    // batch anti-join: collected before the append on the broadcast path
    // (see [[onDriver]]), persisted otherwise.
    val losersPlan = histDup.unionByName(dominated)
    val losers =
      if (admit && small) onDriver(losersPlan)
      else graft.PersistCache.persist(losersPlan)
    val survivors = prep.join(losers, Seq("id"), "left_anti")
    if (admit) {
      // counter bump BEFORE the parquet append (see exactIncremental: the
      // asymmetric failure modes demand the refusing side)
      val metaPath = java.nio.file.Paths.get(indexPath, "_index.txt")
      val (fpLine, appends) = readIndexMeta(metaPath).getOrElse(("fp=?", 0L))
      val bumped = IndexMeta.saturatedBump(appends)
      writeIndexMeta(metaPath, fpLine, bumped)
      clusterOn(survivors
          .withColumn("__hp", pmod(xxhash64(col("id")), lit(IdPrefixes)).cast("int")),
          "__hp", IdPrefixes)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("__hp").parquet(indexPath)
      crashHook("dedup.nd-appended")
    }
    // zero-shingle batch rows are never in `losers`, so they pass through
    batch.join(maybeB(losers.select(col("id").as("__lid"))),
      idCol === col("__lid"), "left_anti")
  }

  /** Blue/green compact of the near-dup index — same layout, same meta
    * sentinel, same "dest is valid iff `_index.txt` present" rule as
    * [[indexCompactTo]]; check [[requireIndexComplete]] before flipping.
    */
  def nearDupIndexCompactTo(spark: org.apache.spark.sql.SparkSession,
                            srcPath: String, destPath: String): Unit =
    compactClustered(spark, srcPath, destPath)

  /** Outcome of one [[maintainIndex]] pass: the measured fragmentation,
    * whether a compaction ran, the path readers should use from now on,
    * and the (possibly restarted) maintenance stream.
    */
  final case class MaintainDedupResult(
      maxFilesPerPrefix: Int, compacted: Boolean, activePath: String,
      stream: Option[org.apache.spark.sql.streaming.StreamingQuery])

  /** Operational glue for the incremental-dedup index lifecycle — exact
    * AND near-dup, which share the `__hp` layout and compactor. Unlike the
    * ANN index (where drift crowds cells and the trigger is probe COST,
    * [[Similarity.maintainIndex]]), this family has no geometry to decay:
    * its maintenance trigger is pure FRAGMENTATION — every admit appends
    * ~one file per touched prefix, so a year of daily batches leaves
    * hundreds of files per directory and scan open-costs dominate.
    *
    *   1. measure max files per `__hp=` prefix (one driver-side listing,
    *      [[IndexSnapshot.list]] — no Spark job);
    *   2. at or under `maxFilesPerPrefix` → no action;
    *   3. over → stop the attached [[graft.streaming.DedupIndexStream]] /
    *      [[graft.streaming.NearDupIndexStream]] (single-writer: the
    *      compactor reads a quiesced index), compact blue/green into
    *      `destPath` (meta written LAST — the completion sentinel), verify
    *      the dest via [[requireIndexComplete]], restart the stream
    *      against the dest via `restart`.
    *
    * The flip is the return value: readers (and the restarted stream)
    * switch to `activePath`; the caller deletes the source after its own
    * readers drain, per the blue/green contract.
    */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String, destPath: String,
                    maxFilesPerPrefix: Int = 16,
                    stream: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
                    restart: Option[String => org.apache.spark.sql.streaming.StreamingQuery] = None)
      : MaintainDedupResult = {
    // the containment index nests two subtables; its fragmentation is the
    // worst prefix across BOTH, and its compactor rebuilds both from docs/
    val isContainment =
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(indexPath, "docs"))
    val files =
      if (isContainment) IndexSnapshot.list(spark, s"$indexPath/docs") ++
        IndexSnapshot.list(spark, s"$indexPath/post")
      else IndexSnapshot.list(spark, indexPath)
    val worst =
      if (files.isEmpty) 0
      // key = parent dir qualified by its table dir, so docs/__hp=3 and
      // post/__pp=3 count separately (and flat layouts keep their prefix)
      else files.groupBy { f =>
        val dir = f.getPath.getParent
        s"${dir.getParent.getName}/${dir.getName}"
      }.values.map(_.length).max
    if (worst <= maxFilesPerPrefix)
      return MaintainDedupResult(worst, compacted = false, indexPath, stream)
    // quiesce the single writer BEFORE the compactor reads its snapshot
    stream.foreach { q => q.stop(); q.awaitTermination() }
    if (isContainment) containmentIndexCompactTo(spark, indexPath, destPath)
    else compactClustered(spark, indexPath, destPath)
    requireIndexComplete(destPath)
    MaintainDedupResult(worst, compacted = true, destPath,
      restart.map(_(destPath)))
  }

  /** Candidate-load monitor for the near-dup index — the
    * [[Similarity.cellHistogram]] of this layer: posting-list size and
    * share per (band, bandHash) bucket, hottest first. Candidate volume
    * per probing doc is the sum over its 'bands' buckets of the posting
    * sizes here, so a heavy tail is THE early warning that candidate
    * generation is degenerating toward all-pairs — the signature of a
    * shingle size too small for the corpus (same-domain unigrams measured
    * 124k candidates from 166×760 docs where trigrams give 157) or of a
    * large admitted dup cluster that should have been compacted away
    * upstream. One column-pruned scan + one partial-agg shuffle; `topK`
    * bounds the result.
    */
  def bandHistogram(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String, topK: Int = 100): DataFrame = {
    val counts = spark.read.parquet(indexPath)
      .select(posexplode(col("bnd")).as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("postings"))
    counts.crossJoin(broadcast(
        counts.agg(sum(col("postings")).as("__t"))))
      .select(col("band"), col("bh"), col("postings"),
        (col("postings").cast("double") / col("__t")).as("share"))
      .orderBy(col("postings").desc, col("band"), col("bh"))
      .limit(topK)
  }

  // ---- incremental CONTAINMENT dedup against a persistent index ---------
  //
  // The third member of the incremental family: "does this batch doc QUOTE
  // (or get quoted by) anything ever admitted" — the boilerplate/quotation
  // check exact and near-dup dedup both miss (a short doc wholesale inside
  // a long one has containment ≈ 1 but low Jaccard, so MinHash banding
  // never collides). Index layout, two tables under one root:
  //
  //   docs/  (id, hs array<long>, pr array<long>)  per-doc shingle hashes
  //          (exact-verify payload) + its numProbes argmin probe hashes,
  //          partitioned on the id-hash prefix like the other indexes
  //   post/  (ph, hid) inverted postings of every admitted shingle hash,
  //          partitioned on pmod(ph, 64) — the candidate-generation side
  //
  // Candidates are TWO-SIDED (containment is asymmetric): a batch doc's
  // probes against the postings catch "batch quotes history"; stored
  // history probes against the batch's hash inventory catch "history is
  // quoted by batch". For a true pair at containment c ≥ t, at least one
  // side's probes land with probability ≥ c each, so the miss probability
  // is ≤ (1−t)^numProbes (≈1e-21 at t=0.95, k=16); candidates verify
  // EXACTLY on the stored hash sets, so false candidates cost work, never
  // correctness.
  //
  // CRASH ORDERING (counter → postings → docs): the meta counter commits
  // first (refusal armed — the usual asymmetry), then POSTINGS, then doc
  // rows. Post-first is what makes replay self-healing: a death between
  // the two data appends leaves postings without doc rows, so the
  // replayed batch's candidates against those orphan postings fail
  // verification (no hs row) and the doc is re-admitted — re-appending
  // its postings (benign duplicates; candidate pairs are de-duplicated)
  // and writing the missing doc row. Docs-first would instead leave
  // admitted docs invisible to batch-side probes until a compaction.
  // [[containmentIndexCompactTo]] rebuilds BOTH tables clustered from
  // docs/ (postings are derivable), dropping any crash-duplicated
  // posting rows.

  /** Most distinct probe hashes a batch may have for its postings scan to
    * be bounded driver-side (the collect is limited to this + 1 rows, so
    * the driver never holds more than ~64 KB of probe longs). Daily
    * batches at production scale exceed it and take the unbounded scan /
    * shuffle fallback — at that probe density row-group skipping cannot
    * win anyway (every row group contains some probe).
    */
  private[graft] def ProbeFilterMaxProbes: Int =
    sys.props.get("graft.containmentProbeFilterMax").map(_.toInt)
      .getOrElse(4096)

  /** Cap on pushed OR-of-range terms — bounds both the parquet row-group
    * stats evaluation and the residual per-row filter cost.
    */
  private[graft] def ProbeFilterMaxRanges: Int =
    sys.props.get("graft.containmentProbeFilterRanges").map(_.toInt)
      .getOrElse(256)

  /** Fewest (residue-pruned) postings FILES before the ph range predicate
    * is attached. The predicate exists for row-group skipping over a
    * per-token table measured in TB — on a small index it skips nothing
    * and its Catalyst/serialization overhead is pure cost (measured
    * +1.2 s on the sf0.1 gate whose whole postings table is 64 small
    * files). File count is the free proxy already in hand from the
    * snapshot listing: a production postings table is thousands of files.
    */
  private[graft] def ProbeFilterMinFiles: Int =
    sys.props.get("graft.containmentProbeFilterMinFiles").map(_.toInt)
      .getOrElse(512)

  /** Sorted probe hashes → ≤ [[ProbeFilterMaxRanges]] covering ranges,
    * splitting at the LARGEST gaps (point ranges when the set is small
    * enough). Parquet pushdown keeps OR-trees of eq/range predicates
    * as-is — unlike a large `isin`, which Catalyst folds to an InSet that
    * the parquet layer degrades to one useless [min,max] over uniform
    * hashes.
    */
  private[graft] def phRangePredicate(sorted: Array[Long]): Column = {
    require(sorted.nonEmpty)
    val ranges: Seq[(Long, Long)] =
      if (sorted.length <= ProbeFilterMaxRanges)
        sorted.toSeq.map(v => (v, v))
      else {
        // unsigned gap compare: xxhash64 probe values span the full signed
        // Long range, so a gap crossing the sign boundary can exceed 2^63
        // and overflow negative under signed subtraction — a signed sort
        // would rank the WIDEST gap last and keep ranges spanning nearly
        // the whole hash space (coverage stays correct; skipping dies)
        val seps = (1 until sorted.length)
          .sortWith((a, b) => java.lang.Long.compareUnsigned(
            sorted(a) - sorted(a - 1), sorted(b) - sorted(b - 1)) > 0)
          .take(ProbeFilterMaxRanges - 1).sorted
        (0 +: seps :+ sorted.length).sliding(2).map {
          case Seq(a, b) => (sorted(a), sorted(b - 1))
        }.toSeq
      }
    ranges.map { case (lo, hi) =>
      if (lo == hi) col("ph") === lit(lo)
      else col("ph") >= lit(lo) && col("ph") <= lit(hi)
    }.reduce(_ || _)
  }

  private def containmentSig(df: DataFrame, textCol: Column, idCol: Column,
                             n: Int, numProbes: Int): DataFrame = {
    require(numProbes >= 1, "numProbes must be >= 1")
    // probes from the native [[graft.functions.ArgMinProbes]] (one JVM
    // walk per row); [[containmentProbesColumnar]] is the Column/HOF
    // executable spec it is pinned against in PipelineSpec
    val sig = df.select(idCol.as("id"), shingles(textCol, n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), transform(col("sh"), s => xxhash64(s)).as("hs"))
      .withColumn("pr", graft.functions.ArgMinProbes(col("hs"), numProbes))
    sig.groupBy(col("id"))
      .agg(min(struct(col("hs"), col("pr"))).as("__w"))
      .select(col("id"), col("__w.hs").as("hs"), col("__w.pr").as("pr"))
  }

  /** HOF formulation of the probe set — the executable spec for the native
    * [[graft.functions.ArgMinProbes]] (same seeded struct-min: seeded key
    * first, element hash breaks ties; array_distinct keeps first
    * appearance by seed order).
    */
  private[graft] def containmentProbesColumnar(hs: Column,
                                               numProbes: Int): Column =
    array_distinct(array((0 until numProbes).map { i =>
      array_min(transform(hs,
        h => struct(xxhash64(h, lit(i)).as("k"), h.as("v"))))
        .getField("v")
    }: _*))

  /** (Re)build the containment index at `indexPath` from a seed corpus. */
  def buildContainmentIndex(df: DataFrame, textCol: Column, idCol: Column,
                            indexPath: String, n: Int,
                            numProbes: Int = 16): Unit = {
    val sig = graft.PersistCache.persist(
      containmentSig(df, textCol, idCol, n, numProbes))
    writePostings(sig, s"$indexPath/post", org.apache.spark.sql.SaveMode.Overwrite)
    writeDocs(sig, s"$indexPath/docs", org.apache.spark.sql.SaveMode.Overwrite)
  }

  /** The containment postings write: (ph, hid) per signature hash,
    * clustered on the `__pp` residue and ph-sorted within each partition
    * file, so parquet row-group min/max stats become tight ph ranges and a
    * probe-derived pushed predicate can SKIP row groups instead of scanning
    * the whole per-token table (see containmentIncremental's probe-scan
    * bounding).
    */
  private def writePostings(sig: DataFrame, path: String,
                            mode: org.apache.spark.sql.SaveMode): Unit =
    clusterOn(sig.select(explode(col("hs")).as("ph"), col("id").as("hid"))
        .withColumn("__pp", pmod(col("ph"), lit(PostPrefixes)).cast("int")),
        "__pp", PostPrefixes)
      .sortWithinPartitions(col("__pp"), col("ph"))
      .write.mode(mode)
      .partitionBy("__pp").parquet(path)

  /** The containment doc-row write, clustered on the id-hash prefix. */
  private def writeDocs(sig: DataFrame, path: String,
                        mode: org.apache.spark.sql.SaveMode): Unit =
    clusterOn(sig.withColumn("__hp",
        pmod(xxhash64(col("id")), lit(IdPrefixes)).cast("int")), "__hp", IdPrefixes)
      .write.mode(mode)
      .partitionBy("__hp").parquet(path)

  private val containmentIndexValidated =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Int), String]()

  /** [[buildContainmentIndex]] only if absent or built from a different
    * (corpus, recipe); refuses a corpus-change rebuild once admissions
    * exist — the same tripwire as the other two incremental indexes.
    */
  def buildContainmentIndexIfMissing(df: DataFrame, textCol: Column,
                                     idCol: Column, indexPath: String,
                                     n: Int, numProbes: Int = 16): Unit = {
    val memoKey = (indexPath, Similarity.corpusMemoIdentity(df),
      n, numProbes)
    if (containmentIndexValidated.containsKey(memoKey)) return
    val metaPath = java.nio.file.Paths.get(indexPath, "_index.txt")
    val header = s"fp=${Similarity.datasetFingerprint(df, idCol)};" +
      s"n=$n;k=$numProbes;kind=containment"
    readIndexMeta(metaPath) match {
      case Some((fp, _)) if fp == header =>
        containmentIndexValidated.put(memoKey, header)
        return
      case Some((_, appends)) if appends > 0 =>
        throw new IllegalStateException(
          s"containment index at $indexPath holds $appends incremental " +
            "append(s) that a corpus-change rebuild would silently discard; " +
            "delete the index directory explicitly to rebuild from scratch")
      case _ =>
    }
    containmentIndexValidated.keySet.removeIf(_._1 == indexPath)
    buildContainmentIndex(df, textCol, idCol, indexPath, n, numProbes)
    writeIndexMeta(metaPath, header, appends = 0L)
    containmentIndexValidated.put(memoKey, header)
  }

  /** Batch rows that survive containment dedup against BOTH the index (any
    * admitted doc with containment ≥ `threshold` rejects the batch row —
    * in EITHER quote direction) and the batch itself (smaller-id dominance,
    * as in [[nearDupIncremental]]). Zero-shingle docs pass through and are
    * never admitted. `admit = true` appends survivors counter → postings →
    * docs (see the crash-ordering note above); SINGLE WRITER per index.
    *
    * Scale shape: both candidate joins are keyed on an 8-byte hash — the
    * batch's probe rows broadcast into a column-pruned postings scan, and
    * the batch's hash inventory broadcasts into a column-pruned (id, pr)
    * docs scan, both under two-tier sizing (`maxBroadcastRows` bounds the
    * LARGER frame, the exploded hash inventory; ≤ 0 forces the shuffle
    * fallback where history shuffles once, amortized over the batch).
    * History text is never read (it was never stored); verification joins
    * are candidate-bounded.
    */
  def containmentIncremental(batch: DataFrame, textCol: Column, idCol: Column,
                             indexPath: String, n: Int, threshold: Double,
                             numProbes: Int = 16, admit: Boolean = true,
                             maxBroadcastRows: Long = 4000000L,
                             stripes: Int = 1): DataFrame =
    if (!admit) memoReadOnly("containment", indexPath, batch,
      s"$textCol|$idCol|$n|$threshold|$numProbes|$maxBroadcastRows|$stripes")(
      containmentIncrementalImpl(batch, textCol, idCol, indexPath, n,
        threshold, numProbes, admit = false, maxBroadcastRows, stripes))
    else containmentIncrementalImpl(batch, textCol, idCol, indexPath, n,
      threshold, numProbes, admit = true, maxBroadcastRows, stripes)

  private def containmentIncrementalImpl(batch: DataFrame, textCol: Column,
                                         idCol: Column, indexPath: String,
                                         n: Int, threshold: Double,
                                         numProbes: Int, admit: Boolean,
                                         maxBroadcastRows: Long,
                                         stripes: Int): DataFrame = {
    require(stripes >= 1, "stripes must be >= 1")
    val spark = batch.sparkSession
    // snapshot marker: see exactIncrementalImpl (cand/losers inherit it)
    val prep = graft.PersistCache.persistTagged(
      containmentSig(batch, textCol, idCol, n, numProbes),
      Similarity.inputSnapshotSig(batch))
    // two-tier sizing on the batch's exploded HASH rows (the larger of the
    // two broadcast frames; probe rows are k per doc, strictly smaller)
    val stats =
      try Some(batch.queryExecution.optimizedPlan.stats)
      catch { case _: Exception => None }
    val estDocs: BigInt = stats.flatMap(_.rowCount).getOrElse {
      val estBytes = stats.map(s => BigInt(s.sizeInBytes.toString))
        .getOrElse(BigInt(-1))
      if (estBytes < 0) BigInt(-1) else estBytes * 10 / 8
    }
    // a doc's hash count is bounded by its token count; the byte-derived
    // row bound already over-counts docs ~10×, so docs ≈ hash rows here —
    // when the stats can't prove it, one agg on the persisted prep settles
    // both counts exactly
    val smallByStats = maxBroadcastRows > 0 &&
      estDocs >= 0 && estDocs <= BigInt(maxBroadcastRows)
    val small =
      if (smallByStats) true
      else if (maxBroadcastRows <= 0) false
      else {
        val r = prep.agg(sum(size(col("hs")))).collect()(0)
        (if (r.isNullAt(0)) 0L else r.getLong(0)) <= maxBroadcastRows
      }
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // pin BOTH table snapshots before any append
    val postFiles = IndexSnapshot.list(spark, s"$indexPath/post")
    val docFiles = IndexSnapshot.list(spark, s"$indexPath/docs")
    val bHashes = prep.select(col("id").as("bid"), explode(col("hs")).as("ph"))
    val bProbes = prep.select(col("id").as("bid"), explode(col("pr")).as("ph"))
    // Probe-scan bounding: the postings table is the one per-TOKEN-width
    // scan in the index family (one row per admitted shingle hash), so a
    // broadcast probe join over it reads O(corpus tokens) per batch — the
    // join prunes nothing by itself. When the batch is small (the daily
    // path), collect its bounded distinct probe set driver-side and turn
    // it into (a) a file-list prune on the `__pp=` residue dirs and (b) a
    // pushed OR-of-ranges predicate on `ph`, which skips row groups via
    // the ph-sorted writes' tight min/max stats. Bytes read then scale
    // with the BATCH's probe count, not the corpus (superlinearly so as
    // batches shrink — ContainmentStress measures it). Giant batches whose
    // probes saturate the hash space skip the filter: for them row-group
    // skipping cannot win and the shuffle fallback is the scale path.
    val probeVals: Option[Array[Long]] =
      if (!small || postFiles.isEmpty) None
      else {
        val vs = prep.select(explode(col("pr")).as("ph")).distinct()
          .limit(Dedup.ProbeFilterMaxProbes + 1)
          .collect().map(_.getLong(0))
        if (vs.length <= Dedup.ProbeFilterMaxProbes) Some(vs.sorted) else None
      }
    val histDup =
      if (docFiles.isEmpty) prep.select(col("id")).limit(0)
      else {
        val docsIx = IndexSnapshot.read(spark, docFiles)
        // side 2: stored history probes into the batch's hash inventory
        // (history quoted by batch)
        val iProbes = docsIx.select(col("id").as("hid"),
          explode(col("pr")).as("ph"))
        val cand2 = iProbes.join(maybeB(bHashes), Seq("ph"))
          .select(col("bid"), col("hid"))
        // side 1: batch probes into the postings (batch quotes history);
        // a postings-less index (a crash before the very first posting
        // append) degrades to side 2 only. Under `probeVals` the scan is
        // bounded: residue-pruned file list + pushed ph ranges (above).
        val scanFiles = probeVals match {
          case Some(vs) =>
            val residues =
              vs.map(v => s"__pp=${java.lang.Math.floorMod(v, PostPrefixes.toLong)}").toSet
            postFiles.filter(f => residues.contains(f.getPath.getParent.getName))
          case None => postFiles
        }
        val cand1 =
          if (scanFiles.isEmpty) cand2.limit(0)
          else {
            val scan0 = IndexSnapshot.read(spark, scanFiles)
            // the pushed predicate pays off only when there are enough
            // files/row-groups to skip (ProbeFilterMinFiles) — on a small
            // index its plan overhead exceeds the whole scan
            val scan = probeVals match {
              case Some(vs) if scanFiles.length >= Dedup.ProbeFilterMinFiles =>
                scan0.filter(Dedup.phRangePredicate(vs))
              case _ => scan0
            }
            scan.select(col("ph"), col("hid"))
              .join(maybeB(bProbes), Seq("ph"))
              .select(col("bid"), col("hid"))
          }
        // PERSIST the distinct candidate pairs (collision-bounded, ids
        // only): `cand` has two consumers — the hid prune broadcast and the
        // verification join — and broadcast exchanges never reuse each
        // other's subtrees, so uncached each consumer would replay the
        // whole candidate generation (postings scan + both probe joins).
        // Measured on the sf0.1 gate: the final plan scanned post/ 6× and
        // docs/ 9× before cand/losers were cached, 1×/2× after.
        val cand = graft.PersistCache.persist(
          cand1.unionByName(cand2).distinct())
        // the candidate-hid prune broadcasts under the same `small` flag so
        // the docs/ hs scan stays map-only on the daily path (the
        // nearDupIncremental discipline; the set is collision-bounded)
        val histHs = docsIx.select(col("id").as("hid"), col("hs").as("hhs"))
          .join(maybeB(cand.select(col("hid"))), Seq("hid"), "left_semi")
        val bHs = prep.select(col("id").as("bid"), col("hs").as("bhs"))
        val inter = size(array_intersect(col("bhs"), col("hhs"))).cast("double")
        cand.join(histHs, "hid").join(bHs, "bid")
          .withColumn("__c",
            inter / least(size(col("bhs")), size(col("hhs"))).cast("double"))
          .filter(col("__c") >= threshold)
          .select(col("bid").as("id"))
      }
    // intra-batch: each doc's probes against every other doc's hashes
    // (two-sided by construction — both orientations of a pair probe),
    // striped on the probe doc id for hot posting hashes (containmentLsh's
    // salt: probes salt, hash rows replicate — result-identical)
    val joinedIB =
      if (stripes == 1) bProbes.join(bHashes.withColumnRenamed("bid", "iid"), "ph")
      else bProbes
        .withColumn("__s", pmod(xxhash64(col("bid")), lit(stripes)).cast("int"))
        .join(bHashes.withColumnRenamed("bid", "iid").withColumn("__s",
          explode(sequence(lit(0), lit(stripes - 1)))), Seq("ph", "__s"))
    val candIB = joinedIB
      .filter(col("bid") =!= col("iid"))
      .select(least(col("bid"), col("iid")).as("id_a"),
        greatest(col("bid"), col("iid")).as("id_b"))
      .distinct()
    val sa = prep.select(col("id").as("id_a"), col("hs").as("sha"))
    val sb = prep.select(col("id").as("id_b"), col("hs").as("shb"))
    val interIB = size(array_intersect(col("sha"), col("shb"))).cast("double")
    val dominated = candIB.join(sa, "id_a").join(sb, "id_b")
      .withColumn("__c",
        interIB / least(size(col("sha")), size(col("shb"))).cast("double"))
      .filter(col("__c") >= threshold)
      .select(col("id_b").as("id"))
    // candidate-bounded loser ids, consumed by the survivors anti-join
    // (read by BOTH appends on the admit path) and the returned batch
    // anti-join: run once — collected before the appends on the broadcast
    // path (see [[onDriver]]), persisted otherwise — so no consumer replays
    // the verification DAG above
    val losersPlan = histDup.unionByName(dominated)
    val losers =
      if (admit && small) onDriver(losersPlan)
      else graft.PersistCache.persist(losersPlan)
    val survivors = prep.join(losers, Seq("id"), "left_anti")
    if (admit) {
      val metaPath = java.nio.file.Paths.get(indexPath, "_index.txt")
      val (fpLine, appends) = readIndexMeta(metaPath).getOrElse(("fp=?", 0L))
      val bumped = IndexMeta.saturatedBump(appends)
      writeIndexMeta(metaPath, fpLine, bumped)
      // POSTINGS FIRST (see the crash-ordering note)
      writePostings(survivors, s"$indexPath/post", org.apache.spark.sql.SaveMode.Append)
      crashHook("dedup.cn-post")
      writeDocs(survivors, s"$indexPath/docs", org.apache.spark.sql.SaveMode.Append)
      crashHook("dedup.cn-docs")
    }
    batch.join(maybeB(losers.select(col("id").as("__lid"))),
      idCol === col("__lid"), "left_anti")
  }

  /** Blue/green compact of the containment index: BOTH tables rebuild
    * clustered from `docs/` (postings are derivable — one explode), which
    * also drops any crash-duplicated posting rows; meta written LAST as
    * the completion sentinel. Dest is valid iff `_index.txt` is present.
    */
  def containmentIndexCompactTo(spark: org.apache.spark.sql.SparkSession,
                                srcPath: String, destPath: String): Unit = {
    val (fpLine, appends) = readIndexMeta(
      java.nio.file.Paths.get(srcPath, "_index.txt")).getOrElse(("fp=?", 0L))
    val docs = graft.PersistCache.persist(
      spark.read.parquet(s"$srcPath/docs")
        .select(col("id"), col("hs"), col("pr")).dropDuplicates("id"))
    writePostings(docs, s"$destPath/post", org.apache.spark.sql.SaveMode.Overwrite)
    writeDocs(docs, s"$destPath/docs", org.apache.spark.sql.SaveMode.Overwrite)
    crashHook("dedup.compact-data")
    writeIndexMeta(java.nio.file.Paths.get(destPath, "_index.txt"),
      fpLine, appends)
    crashHook("dedup.compact-done")
  }

  /** Corpus-wide line/paragraph dedup (the Dolma `dedupe.paragraphs` /
    * C4 span-dedup stage): split every document on `sep`, keep only the
    * FIRST occurrence of each distinct unit corpus-wide (earliest
    * (doc, position) wins), and reassemble each document from its surviving
    * units in original order. Documents whose every unit was seen earlier
    * disappear (like a fully-deduplicated doc in exact dedup).
    *
    * Output: (doc_id, text_dedup, units_kept).
    *
    * Scale shape: ONE partial-aggregated shuffle keyed on the unit for the
    * winner (`min(struct(doc_id, pos))` — the earliest occurrence is the
    * lexicographic minimum, so the hash aggregate's map-side combine ships
    * at most one candidate per distinct unit per map partition and NO sort
    * runs anywhere; the old formulation was a row_number window, which
    * sorted every unit occurrence twice around its exchange), and one
    * partial-aggregated shuffle on doc_id for the reassembly; per-group
    * state is bounded by document size on both. Nothing is quadratic and
    * no global order exists anywhere, so the operator is
    * corpus-size-linear at any cluster width.
    */
  def lineDedup(df: DataFrame, textCol: Column, idCol: Column,
                sep: String = "\n"): DataFrame = {
    val units = df.select(idCol.as("doc_id"),
      posexplode(split(textCol, java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "unit")))
    // the hash LEADS the grouping key (as it led the old window's
    // partition key): min(struct) plans as a SortAggregate — struct
    // buffers aren't hash-aggregable — and with the hash first its sort
    // comparator almost never touches the unit text (dropping it measured
    // 1.4 → 2.0 s on the sf0.1 gate; with it the agg form wins)
    units.groupBy(xxhash64(col("unit")).as("__uh"), col("unit"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("__w"))
      .select(col("__w.doc_id").as("doc_id"), col("__w.pos").as("pos"),
        col("unit"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("unit")))),
            s => s.getField("unit")), sep).as("text_dedup"),
        count(lit(1)).as("units_kept"))
  }

  /** Per-document stats of token positions covered by corpus-repeated
    * n-gram spans — the span-level "exact substring" dedup signal of Lee et
    * al. 2021 ("Deduplicating Training Data Makes Language Models Better"),
    * re-expressed for Spark: instead of a corpus-global suffix array (one
    * giant sorted structure), every overlapping token n-gram becomes an
    * md5-keyed row, a gram is DUPLICATED when it occurs ≥ `minCount` times
    * corpus-wide (across or within documents), and a doc's duplicated
    * positions are the union of its duplicated grams' windows.
    *
    * Output: (doc_id, n_tok, dup_pos, dup_ratio) for every doc with
    * non-empty text — `dup_ratio` is the fraction of the doc's tokens
    * sitting inside some repeated span (1.0 = exact duplicate of other
    * text, 0.0 = fully novel).
    *
    * Scale shape: gram emission is map-only off one tokenize; only the
    * fixed-width (doc_id, start, md5) triple ever shuffles — never text.
    * The gram-frequency pass is a partial-agg groupBy on the hash; the
    * dup-set join is hash-partitioned on the same key (no broadcast — the
    * dup set is corpus-sized in the worst case); position coverage is one
    * distinct + per-doc count. Three shuffles total, all on narrow keys.
    */
  def repeatedSpanStats(df: DataFrame, textCol: Column, idCol: Column,
                        n: Int, minCount: Int = 2): DataFrame = {
    val (t, cov) = repeatedSpanCoverage(df, textCol, idCol, n, minCount)
    t.join(cov.groupBy(col("doc_id")).agg(count(lit(1)).as("dup_pos")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"),
        coalesce(col("dup_pos"), lit(0L)).cast("long").as("dup_pos"),
        round(coalesce(col("dup_pos"), lit(0L)).cast("double") /
          col("n_tok").cast("double"), 6).as("dup_ratio"))
  }

  /** Remove the repeated spans [[repeatedSpanStats]] identifies: tokens
    * covered by any corpus-duplicated n-gram are dropped and the document
    * is re-joined from the survivors (Lee et al.'s dedup applied at the
    * span level rather than whole-doc). Output: (doc_id, text_clean,
    * n_tok, n_removed). The per-doc removal set rides a collect_set whose
    * size is bounded by the doc's own token count — never corpus-sized.
    */
  def stripRepeatedSpans(df: DataFrame, textCol: Column, idCol: Column,
                         n: Int, minCount: Int = 2): DataFrame = {
    val (t, cov) = repeatedSpanCoverage(df, textCol, idCol, n, minCount)
    val rm = cov.groupBy(col("doc_id")).agg(collect_set(col("pos")).as("rm"))
    t.join(rm, Seq("doc_id"), "left")
      .withColumn("__rm", coalesce(col("rm"), array().cast("array<int>")))
      .withColumn("__keep",
        array_sort(array_except(
          sequence(lit(0), col("n_tok") - 1).cast("array<int>"), col("__rm"))))
      .select(col("doc_id"),
        array_join(transform(col("__keep"),
          p => element_at(col("tk"), p + 1)), " ").as("text_clean"),
        col("n_tok").cast("long").as("n_tok"),
        size(col("__rm")).cast("long").as("n_removed"))
  }

  /** Shared plumbing: (docs with tokens, duplicated-position rows).
    * `t` = (doc_id, tk, n_tok) over non-empty docs; `cov` = distinct
    * (doc_id, pos) pairs covered by a gram occurring ≥ minCount times.
    * Gram keys come from the native [[graft.functions.NGramMd5]] — the
    * full 128-bit md5 as two longs (16-byte shuffle keys, no gram
    * strings); grouping on (h1, h2) is bit-identical in collision
    * behavior to the hex-string formulation the oracle uses.
    * [[repeatedSpanGramsColumnar]] is the executable hex spec it is
    * pinned against in PipelineSpec.
    */
  private def repeatedSpanCoverage(df: DataFrame, textCol: Column,
      idCol: Column, n: Int, minCount: Int)
      : (DataFrame, DataFrame) = {
    require(n >= 1, s"span length must be positive: $n")
    require(minCount >= 2, s"minCount must be >= 2: $minCount")
    val t = df
      .select(idCol.as("doc_id"), TextAnalysis.tokensSimple(textCol).as("tk"))
      .withColumn("n_tok", size(col("tk")))
      .filter(col("n_tok") > 0)
    // PERSIST the gram projection: it has two consumers — the frequency
    // aggregate and the coverage join — and without the cache each ran its
    // own full tokenize+md5 pass over the corpus text (the plan scanned
    // the doc table 3×: t, dup's grams, cov's grams; 2× after). The frame
    // is fixed-width (doc_id, start, h1, h2 — ~28 B/gram, never text), so
    // at scale the cache trades a second full text scan + hash pass for a
    // disk-backed read of the compact gram table — the guide §8 "make
    // every pass but the first operate on a lightweight proxy" shape. This
    // is a corpus-token-bounded entry (not candidate-bounded like the
    // incremental-dedup caches): MEMORY_AND_DISK spills it, and eviction
    // falls back to lineage recompute as everywhere else. Tagged with the
    // input's file-listing signature (persistTagged): untagged, a rerun
    // over a landing dir that has since gained files was served the cached
    // grams of the old listing (SnapshotSpec pins this).
    val g = graft.PersistCache.persistTagged(
      df.select(idCol.as("doc_id"),
          posexplode(graft.functions.NGramMd5(textCol, n))
            .as(Seq("start", "gh")))
        .select(col("doc_id"), col("start"),
          col("gh.h1").as("h1"), col("gh.h2").as("h2")),
      Similarity.inputSnapshotSig(df))
    val dup = g.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select(col("h1"), col("h2"))
    val cov = g.join(dup, Seq("h1", "h2"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + n - 1)).as("pos"))
      .distinct()
    (t, cov)
  }

  /** Hex-string gram formulation — the executable spec the native
    * [[graft.functions.NGramMd5]] is pinned against (same trim/split/
    * join semantics; the native struct's `%016x%016x` rendering must
    * equal this md5 hex, gram for gram, position for position).
    */
  private[graft] def repeatedSpanGramsColumnar(textCol: Column,
                                               n: Int): Column = {
    val tk = TextAnalysis.tokensSimple(textCol)
    when(size(tk) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(tk) - n),
        i => md5(concat_ws(" ", slice(tk, i + 1, lit(n))).cast("binary"))))
  }

  /** Distinct word n-gram shingles of the text (n=1 → distinct tokens).
    * Docs with fewer than n tokens have no n-gram. Compiled by the native
    * [[graft.functions.WordNGrams]] expression — one tokenize+join+dedup
    * walk per row; [[shinglesColumnar]] is the Column/HOF executable spec
    * it is pinned against in PipelineSpec.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.NGrams.wordNGrams(text, n)

  /** HOF formulation of [[shingles]] — kept as the executable spec for the
    * native expression (same trim/split/join/distinct-order semantics).
    * Never a descending `sequence` (which would make `slice` throw on
    * short docs).
    */
  private[graft] def shinglesColumnar(text: Column, n: Int): Column = {
    require(n >= 1)
    val toks = TextAnalysis.tokensSimple(text)
    val grams =
      if (n == 1) toks
      else when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(toks) - n + 1),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
    array_distinct(grams)
  }

  /** All pairs (idA < idB) with shingle-set Jaccard ≥ threshold, via an
    * inverted-index join: explode shingles, join on shingle, count common.
    * Exact but quadratic within a shingle's posting list — for corpus-scale
    * near-dup detection use [[minHashLsh]] and verify only candidates.
    */
  def jaccardPairs(df: DataFrame, textCol: Column, idCol: Column, n: Int,
                   threshold: Double, stripes: Int = 1): DataFrame = {
    val t = df.select(idCol.as("id"), shingles(textCol, n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
    val e = t.select(col("id"), col("sz"), explode(col("sh")).as("tok"))
    // striped within hot posting lists: a stop-shingle's postings otherwise
    // pair up on a single reducer (see Similarity.selfPairs)
    Similarity.selfPairs(e, Seq("tok"), "id", stripes)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        when(col("a.id") < col("b.id"), col("a.sz")).otherwise(col("b.sz")).as("sza"),
        when(col("a.id") < col("b.id"), col("b.sz")).otherwise(col("a.sz")).as("szb"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("sza")).as("sza"), first(col("szb")).as("szb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** All pairs (idA < idB) with shingle-set CONTAINMENT ≥ threshold —
    * `|A∩B| / min(|A|,|B|)`, the asymmetric cousin of Jaccard that catches
    * SUB-document duplication: a short doc quoted wholesale inside a longer
    * one scores near 1 here while its Jaccard stays low (the union is
    * dominated by the longer doc). The boilerplate/quotation detector of a
    * curation pipeline. Same inverted-index join shape (and stripes
    * escape hatch) as [[jaccardPairs]]: exact but quadratic within a
    * shingle's posting list — candidate-generate with MinHash-LSH beyond
    * bounded blocks.
    */
  def containmentPairs(df: DataFrame, textCol: Column, idCol: Column, n: Int,
                       threshold: Double, stripes: Int = 1): DataFrame = {
    val t = df.select(idCol.as("id"), shingles(textCol, n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
    val e = t.select(col("id"), col("sz"), explode(col("sh")).as("tok"))
    Similarity.selfPairs(e, Seq("tok"), "id", stripes)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        least(col("a.sz"), col("b.sz")).as("szmin"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"), first(col("szmin")).as("szmin"))
      .withColumn("containment",
        col("inter").cast("double") / col("szmin"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Corpus-wide containment pairs via one-sided min-hash CANDIDATE
    * GENERATION + exact verification — the scale path
    * [[containmentPairs]]'s exact inverted-index join (quadratic within
    * every shingle's posting list) cannot take.
    *
    * Each doc probes with `numProbes` min-hash members of its OWN shingle
    * set (for seed i, the shingle minimizing the i-th seeded hash — an
    * argmin, so the probe key is a real shingle hash that can match the
    * other side); a pair becomes a candidate when any probe of one doc
    * appears in the other's shingle set. For a pair with containment c
    * (= |A∩B| / min(|A|,|B|)), each probe of the SHORTER doc lands inside
    * the longer one with probability ≈ c, so a true pair above threshold t
    * is missed with probability ≈ (1−t)^numProbes (≈1e-21 at t=0.95,
    * k=16); candidates are then verified EXACTLY, so false candidates only
    * cost work, never correctness. Standard MinHash-LSH cannot do this
    * job: a short doc quoted inside a long one has high containment but
    * LOW Jaccard, so its banded signatures never collide.
    *
    * Scale shape: the probe side carries `numProbes` rows per doc
    * REGARDLESS of doc size, so the candidate join is O(k·N · posting)
    * instead of the exact join's O(Σ|sh| · posting); shingle sets rejoin
    * by id for candidates only, and the tokenization is computed once for
    * its four consumers (PersistCache).
    *
    * `stripes` splits a HOT posting hash across reducers, like every other
    * pair join in this file: a hash that is both corpus-common and some
    * docs' argmin probe otherwise lands its whole candidate set on ONE
    * shuffle partition (a single join key is atomic — AQE cannot cut
    * inside it). Probe rows salt on their doc id; the compact (iid, hash)
    * index rows replicate to all `stripes` salts, so the result is
    * IDENTICAL (each probe–index pair still meets exactly once) at the
    * cost of a stripes× heavier shuffle of the index rows only.
    */
  def containmentLsh(df: DataFrame, textCol: Column, idCol: Column, n: Int,
                     threshold: Double, numProbes: Int = 16,
                     stripes: Int = 1): DataFrame = {
    require(numProbes >= 1)
    require(stripes >= 1, "stripes must be >= 1")
    val base = graft.PersistCache.persist(
      df.select(idCol.as("id"), shingles(textCol, n).as("sh"))
        .filter(size(col("sh")) > 0))
    val hashed = base.select(col("id"), transform(col("sh"), s => xxhash64(s)).as("hs"))
    // argmin over seeded variants — the native ArgMinProbes (bit-identical
    // to the struct-min HOF, PipelineSpec-pinned), already de-duplicated
    val probes = hashed.select(col("id").as("pid"),
      explode(graft.functions.ArgMinProbes(col("hs"), numProbes)).as("ph"))
    val index = hashed.select(col("id").as("iid"), explode(col("hs")).as("ph"))
    val joined =
      if (stripes == 1) probes.join(index, "ph")
      else probes
        .withColumn("__s", pmod(xxhash64(col("pid")), lit(stripes)).cast("int"))
        .join(index.withColumn("__s",
          explode(sequence(lit(0), lit(stripes - 1)))), Seq("ph", "__s"))
    val cand = joined
      .filter(col("pid") =!= col("iid"))
      .select(least(col("pid"), col("iid")).as("id_a"),
        greatest(col("pid"), col("iid")).as("id_b"))
      .distinct()
    val sa = base.select(col("id").as("id_a"), col("sh").as("sha"))
    val sb = base.select(col("id").as("id_b"), col("sh").as("shb"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("containment",
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          least(size(col("sha")), size(col("shb"))))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** MinHash signature: k independent minimums over shingle hashes. The
    * string shingles are hashed ONCE; the k seeded variants re-hash the
    * resulting 8-byte longs, which is much cheaper than k passes over the
    * raw strings.
    */
  def minHashSignature(text: Column, n: Int, numHashes: Int): Column =
    minHashFromShingles(shingles(text, n), numHashes)

  /** Signature from a precomputed shingle column (compute shingles once,
    * derive everything from them).
    */
  def minHashFromShingles(sh: Column, numHashes: Int): Column = {
    val baseHashes = transform(sh, s => xxhash64(s))
    val mins = (0 until numHashes).map { i =>
      array_min(transform(baseHashes, h => xxhash64(h, lit(i))))
    }
    array(mins: _*)
  }

  /** Near-duplicate pairs via MinHash + LSH banding, verified with exact
    * Jaccard on the candidate set only. bands × rowsPerBand = numHashes.
    *
    * Scale shape: band rows carry ONLY (id, band, bandHash) into the
    * self-join, so the shuffle key is 24 bytes/row regardless of document
    * size; document payloads (shingle sets) are joined back by id for the
    * candidate pairs only — at 100 TB the candidate set, not the corpus,
    * pays the verification cost.
    */
  def minHashLsh(df: DataFrame, textCol: Column, idCol: Column, n: Int,
                 numHashes: Int, bands: Int, threshold: Double,
                 stripes: Int = 1): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val base = df.select(idCol.as("id"), shingles(textCol, n).as("sh"))
      .filter(size(col("sh")) > 0) // empty docs have no signature
    // compact band rows: (id, band, bandHash) — no payload through the
    // shuffle; striping splits a hot bucket (a band value shared by a large
    // near-dup cluster) across reducers (see Similarity.selfPairs). Band
    // hashes come from the native [[graft.functions.MinHashBands]] —
    // bit-identical to the HOF formulation ([[minHashFromShingles]] +
    // per-band slice hash, the MinHashBands PipelineSpec pin), one JVM
    // walk instead of numHashes interpreted transform passes per row
    val banded = base.select(col("id"),
      posexplode(graft.functions.MinHashBands(col("sh"), numHashes, bands)
        .getField("bnd")).as(Seq("band", "bh")))
    val candidates = Similarity.selfPairs(banded, Seq("band", "bh"), "id", stripes)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    // verify candidates only: join shingle sets back by id
    val sa = base.select(col("id").as("id_a"), col("sh").as("sha"))
    val sb = base.select(col("id").as("id_b"), col("sh").as("shb"))
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("double")
    val union = size(col("sha")) + size(col("shb")) -
      size(array_intersect(col("sha"), col("shb")))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard", when(union === 0, 0.0).otherwise(inter / union))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-bit votes of the 64-bit SimHash: votes[i] = Σ over tokens of
    * (bit i of the token's hash ? +1 : -1). The token hash is the first 16
    * hex digits of md5 — chosen over xxhash64 because md5 is bit-identical
    * in every engine (DuckDB, Trino, Spark), which makes the whole SimHash
    * computation oracle-checkable. Each stage materializes before the next
    * (hex → digit values → bits → votes) so md5 runs once per token.
    */
  private def simHashVotes(text: Column): Column = {
    val toks = TextAnalysis.tokensSimple(text)
    val hexes = transform(toks, tok => md5(tok.cast("binary")))
    val digitArr = transform(hexes, hex =>
      transform(sequence(lit(0), lit(15)), j =>
        conv(hex.substr(j + 1, lit(1)), 16, 10).cast("int")))
    val bitsArr = transform(digitArr, digits =>
      transform(sequence(lit(0), lit(63)), i =>
        call_function("shiftright",
          element_at(digits, floor(i / 4).cast("int") + 1), pmod(i, lit(4)))
          .bitwiseAND(1)))
    aggregate(bitsArr, array_repeat(lit(0), 64),
      (acc, bits) => zip_with(acc, bits, (a, b) => a + b * 2 - 1))
  }

  /** 64-bit SimHash of the token multiset: per-bit vote of token hashes.
    * Compiled by the native [[graft.functions.SimHash64]] expression (one
    * JVM loop per row); [[simHashColumnar]] is the Column/HOF executable
    * spec it is pinned against in PipelineSpec.
    */
  def simHash(text: Column): Column = graft.functions.SimHash64.simhash64(text)

  /** HOF formulation of [[simHash]] — kept as the executable spec for the
    * native expression (same md5 nibble bits, same votes, same sign rule).
    */
  private[graft] def simHashColumnar(text: Column): Column = {
    val votes = simHashVotes(text)
    // assemble sign bits into a long
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Per-document count of distinct word n-grams shared with ANY document of
    * `evalSet` — the training-data decontamination report. Only contaminated
    * documents appear (hits ≥ 1).
    *
    * Scale shape: the distinct eval-gram set is tiny next to the corpus
    * (benchmarks are KBs–MBs; the corpus is TBs), so Spark broadcasts it and
    * the corpus-side explode streams partition-local against a hash set —
    * the corpus text is NEVER shuffled; the only shuffle is the per-doc hit
    * count on (id) after the semi-side join.
    */
  def contaminationReport(corpus: DataFrame, textCol: Column, idCol: Column,
                          evalSet: DataFrame, evalTextCol: Column,
                          n: Int): DataFrame = {
    val evalGrams = evalSet
      .select(explode(shingles(evalTextCol, n)).as("g")).distinct()
    corpus.select(idCol.as("id"), explode(shingles(textCol, n)).as("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy(col("id")).agg(count(lit(1)).as("hits"))
  }

  /** Drop every corpus document sharing ≥1 word n-gram with the eval set
    * (decontamination filter). The dropped-id set is compact, so the
    * anti-join broadcasts.
    */
  def decontaminate(corpus: DataFrame, textCol: Column, idCol: Column,
                    evalSet: DataFrame, evalTextCol: Column,
                    n: Int): DataFrame = {
    val bad = contaminationReport(corpus, textCol, idCol, evalSet,
      evalTextCol, n).select(col("id").as("__contaminated"))
    corpus.join(bad, idCol === col("__contaminated"), "left_anti")
  }

  /** Per-document FRACTIONAL contamination: for every corpus doc with ≥1
    * n-gram, the share of its distinct n-grams that appear anywhere in the
    * eval set — the PaLM/GPT-4-style thresholded decontamination signal,
    * where [[contaminationReport]]'s any-hit rule is the special case
    * "fraction > 0". Only contaminated docs appear (hits ≥ 1); `n_grams`
    * rides the explode so the op stays one corpus scan + one broadcast
    * join + one per-doc agg, like its any-hit sibling.
    */
  def contaminationFractionReport(corpus: DataFrame, textCol: Column,
                                  idCol: Column, evalSet: DataFrame,
                                  evalTextCol: Column, n: Int): DataFrame = {
    val evalGrams = evalSet
      .select(explode(shingles(evalTextCol, n)).as("g")).distinct()
    corpus.select(idCol.as("id"), shingles(textCol, n).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("id"), size(col("__sh")).as("n_grams"),
        explode(col("__sh")).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("id"))
      .agg(first(col("n_grams")).as("n_grams"), count(lit(1)).as("hits"))
      .withColumn("frac",
        col("hits").cast("double") / col("n_grams").cast("double"))
  }

  /** Drop corpus docs whose contaminated-gram fraction reaches
    * `minFraction` (docs with < n tokens have no gram and always survive).
    * `minFraction` ≤ 0 degenerates to [[decontaminate]]'s any-hit rule.
    */
  def decontaminateFraction(corpus: DataFrame, textCol: Column, idCol: Column,
                            evalSet: DataFrame, evalTextCol: Column,
                            n: Int, minFraction: Double): DataFrame = {
    val bad = contaminationFractionReport(corpus, textCol, idCol, evalSet,
        evalTextCol, n)
      .filter(col("frac") >= minFraction)
      .select(col("id").as("__contaminated"))
    corpus.join(bad, idCol === col("__contaminated"), "left_anti")
  }

  /** Pairs within Hamming distance `maxDist` of their SimHashes. Blocks the
    * 64-bit signature into `maxDist+1` chunks — any pair within distance
    * must agree on ≥1 chunk (pigeonhole), so the join key is a chunk value.
    */
  def simHashPairs(df: DataFrame, textCol: Column, idCol: Column,
                   maxDist: Int, stripes: Int = 1): DataFrame = {
    val blocks = maxDist + 1
    val width = 64 / blocks
    val sigDf = df.select(idCol.as("id"), simHash(textCol).as("sig"))
    val banded = sigDf.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(blocks - 1)), b => {
        val shifted = call_function("shiftrightunsigned", col("sig"), b * width)
        shifted.bitwiseAND(lit((1L << width) - 1))
      })).as(Seq("block", "bv")))
    Similarity.selfPairs(banded, Seq("block", "bv"), "id", stripes)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }
}
