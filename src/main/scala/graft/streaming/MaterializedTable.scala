package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.Builders
import graft.io.LocalFs.StoreWrite
import graft.schema.TableConfig
import graft.sqlx._

/** A continuously-maintained materialized aggregation over a stream — the
  * zenodb Table (/root/reference/table.go, SURVEY.md §1.1). Never stores
  * individual points: each micro-batch partially aggregates into
  * (dims, time-bucket) accumulator rows and MERGES with the store, so
  * arbitrarily-late points (within retention) land in their historical
  * bucket — the semantics plain watermark+append streaming cannot express
  * (SURVEY.md §7.4 risk #1).
  *
  * Storage is commit generations of parquet day dirs (`commits/N/__day=d/`,
  * `__bucket=k/` under `partitionby`), published atomically by the
  * `MANIFEST` rename — the moral equivalent of the reference's
  * `filestore_<nanos>` generations (row_store.go:424). Flush and compaction
  * write through [[graft.io.LocalFs]] (`storeWrite`), which sets file modes
  * in-process instead of forking a `chmod` per file, `.crc` and dir. At
  * cluster scale the same merge is a Delta MERGE keyed on (dims, _time); the
  * parquet-generation fallback keeps this repo dependency-free.
  */
final class MaterializedTable(
    spark: SparkSession,
    initialConfig: TableConfig,
    initialQuery: Query, // resolved definition (views already merged)
    storePath: String,
    now: () => Long) {

  @volatile private var _config: TableConfig = initialConfig
  @volatile private var _query: Query = initialQuery
  validate()

  def config: TableConfig = _config
  def query: Query = _query

  private def validate(): Unit = {
    require(_query.resolution.isDefined,
      s"table ${_config.name} needs period(...) in its GROUP BY")
    require(_query.crosstab.isEmpty && _query.having.isEmpty && _query.orderBy.isEmpty,
      s"table ${_config.name}: CROSSTAB/HAVING/ORDER BY are query-time features")
  }

  /** Re-point this table at a new definition IN PLACE, keeping the store —
    * the reference's live schema Alter (/root/reference/schema.go:16-55,
    * table.go:184-192): fields may be added, dropped, or reordered between
    * flushes. Accumulator columns are content-addressed by canonical
    * expression (Builders), so surviving fields keep resolving against rows
    * written under the old definition; added fields read as unset there and
    * start accumulating from the next batch. mergeBatch holds the same lock,
    * so attached streams pick the new definition up at their next
    * micro-batch, exactly like the reference's in-place table swap.
    */
  def alter(newConfig: TableConfig, newQuery: Query): Unit = synchronized {
    _config = newConfig
    _query = newQuery
    validate()
  }

  def resolutionMillis: Long = query.resolution.get.toMillis

  /** Defining fields incl the implicit `_points` (core/core.go:26). */
  def tableFields: Seq[FieldSel] = {
    val q = query
    val explicit = q.fields.map(f => FieldSel(f.name, resolveBare(f.expr)))
    if (explicit.exists(_.name == "_points")) explicit
    else explicit :+ FieldSel("_points", MAgg(AggOp.Sum, MField("_point")))
  }

  // bare columns in a table definition always mean SUM over the raw stream
  private def resolveBare(e: MExpr): MExpr = e match {
    case MBare(n)             => MAgg(AggOp.Sum, MField(n))
    case MAgg(op, c)          => MAgg(op, resolveBare(c))
    case MWAvg(x, w)          => MWAvg(resolveBare(x), resolveBare(w))
    case MPercentile(c, p, lo, hi, pr) =>
      MPercentile(resolveBare(c), resolveBare(p), lo, hi, pr)
    case MPercentileOpt(c, p) => MPercentileOpt(resolveBare(c), resolveBare(p))
    case MIf(cond, c)         => MIf(cond, resolveBare(c))
    case MBounded(c, lo, hi)  => MBounded(resolveBare(c), lo, hi)
    case MShift(c, off, sfx)  => MShift(resolveBare(c), off, sfx)
    case MArith(op, l, r)     => MArith(op, resolveBare(l), resolveBare(r))
    case MCond(op, l, r)      => MCond(op, resolveBare(l), resolveBare(r))
    case MMath(fn, c)         => MMath(fn, resolveBare(c))
    case other                => other
  }

  /** Explicit dims from GROUP BY; with GROUP BY * the dim set is derived per
    * batch (all input columns that aren't the time column or a measure).
    */
  private def measureLeaves(e: MExpr): Set[String] = e match {
    case MField(n)            => if (n == "_point") Set.empty else Set(n)
    case MAgg(_, c)           => measureLeaves(c)
    case MWAvg(x, w)          => measureLeaves(x) ++ measureLeaves(w)
    case MPercentile(c, p, _, _, _) => measureLeaves(c) ++ measureLeaves(p)
    case MPercentileOpt(c, p) => measureLeaves(c) ++ measureLeaves(p)
    case MIf(_, c)            => measureLeaves(c)
    case MBounded(c, _, _)    => measureLeaves(c)
    case MShift(c, _, _)      => measureLeaves(c)
    case MArith(_, l, r)      => measureLeaves(l) ++ measureLeaves(r)
    case MCond(_, l, r)       => measureLeaves(l) ++ measureLeaves(r)
    case MMath(_, c)          => measureLeaves(c)
    case _                    => Set.empty
  }

  private[graft] def valNames: Set[String] = tableFields.flatMap(f => measureLeaves(f.expr)).toSet

  // ---------------------------------------------------------------------
  // Storage: a manifest of day-partitioned parquet dirs (a minimal
  // transaction-log in the style public table formats use). Each flush
  // rewrites ONLY the day partitions the batch touched — flush cost is
  // O(touched days), not O(store) — then swaps the manifest atomically.
  // The reference's analogue is the filestore generation + offsets header
  // (row_store.go:424,455-530); at cluster scale this becomes Delta MERGE.
  // ---------------------------------------------------------------------

  private val DayMs = 86400000L
  private val manifestPath = Paths.get(storePath, "MANIFEST")

  // A MANIFEST.tmp* present at open is dead by definition — only the atomic
  // rename commits, so a tmp left behind marks a writer that crashed between
  // write and rename. Sweep on open so crashed stores don't accrete them.
  // (Single-writer stores: nothing else can be mid-commit while we open.)
  locally {
    val d = Paths.get(storePath)
    if (Files.isDirectory(d)) {
      val it = Files.list(d)
      try {
        it.filter(p => p.getFileName.toString.startsWith("MANIFEST.tmp"))
          .forEach { p =>
            try Files.deleteIfExists(p)
            catch { case _: java.io.IOException => () }
          }
      } finally it.close()
    }
  }

  /** (version, last-applied batch id per sink, day -> store-relative dir,
    * committed union schema).
    * The per-sink batch ids are the replay-dedup ledger: Structured
    * Streaming's foreachBatch is at-least-once, and a driver crash between
    * a completed merge and the checkpoint commit re-delivers the SAME
    * batchId — the reference survives the equivalent replay by recording
    * applied WAL offsets in the filestore header (row_store.go:455-530).
    * Because the batch id commits in the same atomic manifest swap as the
    * data, merge + ledger update are one transaction.
    *
    * The schema line (`s=<StructType json>`) is the union of every
    * generation's columns, committed at flush time, so READS never pay
    * schema inference: at 100 TB a `mergeSchema` read of a multi-thousand-
    * day store reads every footer at PLAN time — O(store) planning for a
    * query that may scan one day. Legacy manifests without the line fall
    * back to mergeSchema once; the next flush records it.
    *
    * The bucket line (`p=<n>\t<dim,dim>`) records that day dirs are
    * sub-partitioned into `__bucket=k` dirs by murmur3 of the partitionby
    * dims — the planner turns a dim-equality WHERE into directory-level
    * partition pruning (the reference's partitionby query routing,
    * cluster_follow.go:797-821, README.md:522-529).
    */
  private def readManifest(): MaterializedTable.Manifest =
    if (!Files.exists(manifestPath)) MaterializedTable.Manifest.Empty
    else try readManifestBody()
    catch {
      // the manifest is on-disk state anything can corrupt; the parse
      // already refuses loudly (never falls back to Empty — that would
      // silently treat a populated store as FRESH, re-running the initial
      // backfill bound and re-merging ledgered batches). Name the file
      // and the remedy instead of surfacing a bare NumberFormatException.
      case e: Exception => throw new IllegalStateException(
        s"corrupt table manifest at $manifestPath (${e.getMessage}): " +
          "refusing to treat the store as fresh — restore the manifest " +
          "from a copy, or remove the whole store directory deliberately",
        e)
    }

  private def readManifestBody(): MaterializedTable.Manifest =
    locally {
      val lines = Files.readString(manifestPath).split("\n").filter(_.nonEmpty)
      val v = lines.head.stripPrefix("v=").toLong
      val (schemaLines, rest0) = lines.tail.partition(_.startsWith("s="))
      val (bucketLines, rest) = rest0.partition(_.startsWith("p="))
      val (batchLines, dayLines) = rest.partition(_.startsWith("b="))
      val batches = batchLines.map { l =>
        val Array(s, b) = l.stripPrefix("b=").split("\t", 2); s -> b.toLong
      }.toMap
      val schema = schemaLines.headOption.map(l =>
        org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix("s="))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      val buckets = bucketLines.headOption.map { l =>
        val Array(n, ds) = l.stripPrefix("p=").split("\t", 2)
        (ds.split(",").toSeq, n.toInt)
      }
      MaterializedTable.Manifest(v, batches, dayLines.map { l =>
        val Array(d, p) = l.split("\t", 2); d.toLong -> p
      }.toMap, schema, buckets)
    }

  private def writeManifest(v: Long, sinkBatches: Map[String, Long],
                            days: Map[Long, String],
                            schema: org.apache.spark.sql.types.StructType,
                            buckets: Option[(Seq[String], Int)]): Unit = {
    MaterializedTable.crashHook("manifest.pre-write")
    Files.createDirectories(Paths.get(storePath))
    val tmp = Paths.get(storePath, s"MANIFEST.tmp$v")
    val body = (Seq(s"v=$v", s"s=${schema.json}") ++
      buckets.map { case (ds, n) => s"p=$n\t${ds.mkString(",")}" }.toSeq ++
      (sinkBatches.toSeq.sorted.map { case (s, b) => s"b=$s\t$b" } ++
        days.toSeq.sortBy(_._1).map { case (d, p) => s"$d\t$p" })).mkString("\n")
    Files.writeString(tmp, body)
    MaterializedTable.crashHook("manifest.tmp-written")
    Files.move(tmp, manifestPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    MaterializedTable.crashHook("manifest.moved")
  }

  /** Open a set of day dirs. With the manifest's committed schema, no
    * footer is read and no schema merged at plan time — days flushed under
    * an older definition read missing accumulator columns as NULL (= unset,
    * insert.go routes whatever arrives), exactly what `mergeSchema` used to
    * reconstruct by reading every footer. Legacy manifests (no schema line)
    * keep the mergeSchema fallback.
    *
    * Bucketed stores (day dirs holding `__bucket=k` subdirs) CANNOT go
    * through one naive multi-path read: Spark's partition discovery walks up
    * from the leaf files and, with several roots whose own names embed
    * `__day=`, asserts a single common base and throws
    * CONFLICTING_DIRECTORY_STRUCTURES. Anchoring each DAY as its own
    * relation fixes that but is O(days) in plan size — a 3,001-day store
    * unions 3,001 FileSourceScans, ships multi-MiB task binaries and OOMs
    * the driver. Instead the day dirs group by GENERATION: one relation per
    * `commits/N` with `basePath = commits/N` and the (manifest-pruned) day
    * dirs as the multi-path, so discovery surfaces `__day` and `__bucket`
    * together from a single root. The union is bounded by generation count
    * — GC-bounded, unlike day count which grows with retention — and in the
    * common fully-compacted case the whole store is ONE relation. Day
    * pruning stays path-level (only kept day dirs are listed); `__bucket`
    * partition filters prune dirs inside the one relation. The discovered
    * `__day` column is dropped right here so the rest of the engine never
    * sees it (it is derived from `_time`; keying a merge on it would stop
    * stored and fresh rows from collapsing).
    */
  private def openDays(paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      bucketed: Boolean): DataFrame = {
    def one(ps: Seq[String], base: Option[String],
        s: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
      val r0 = s match {
        case Some(st) => spark.read.schema(st)
        case None     => spark.read.option("mergeSchema", "true")
      }
      base.fold(r0)(b => r0.option("basePath", b)).parquet(ps: _*)
    }
    if (!bucketed) one(paths, None, schema)
    else {
      // partition columns take their type from the user schema when listed
      // there; add __day explicitly so discovery never has to guess
      val withDay = schema.map(s =>
        org.apache.spark.sql.types.StructType(s.fields :+
          org.apache.spark.sql.types.StructField("__day",
            org.apache.spark.sql.types.LongType, nullable = true)))
      // generation root = everything before "/__day=" — works whether the
      // leaf paths are day dirs or `__day=d/__bucket=k` bucket dirs
      paths.groupBy(p => p.substring(0, p.indexOf("/__day=")))
        .toSeq.sortBy(_._1)
        .map { case (gen, days) => one(days, Some(gen), withDay).drop("__day") }
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Bucket-level pruned read: opens ONLY the `__day=d/__bucket=k` dirs for
    * days overlapping [loMs, hiMs) and buckets in `buckets`. The path set is
    * CONSTRUCTED from the manifest, not discovered, so the file listing a
    * dim-equality query pays is 1/N of the store — partition pruning after a
    * full listing still walks every directory, which at 3,001 days × 32
    * buckets is the dominant query cost. Dirs the manifest's day holds no
    * rows for simply don't exist; a cheap driver-side existence check drops
    * them (O(kept days × |buckets|) stats, no file listing). Returns None
    * when nothing matches (caller serves an empty relation), or when the
    * store isn't bucketed (caller should use readPruned).
    */
  def readBuckets(loMs: Option[Long], hiMs: Option[Long],
      buckets: Set[Int]): Option[DataFrame] = {
    val m = readManifest()
    if (m.buckets.isEmpty) return None
    val keep = m.days.filter { case (d, _) =>
      loMs.forall(lo => (d + 1) * DayMs > lo) && hiMs.forall(hi => d * DayMs < hi)
    }
    val paths = for {
      p <- keep.values.toSeq
      k <- buckets.toSeq.sorted
      full = s"$storePath/$p/__bucket=$k"
      if Files.isDirectory(Paths.get(full))
    } yield full
    if (paths.isEmpty) None
    else Some(openDaysCached(m.version, paths, m.schema, bucketed = true))
  }

  /** Relation cache: opening a day-dir set is O(paths) DRIVER work every
    * query — `spark.read.parquet(paths)` builds an InMemoryFileIndex
    * (listing, partition inference) eagerly, and on a 3,000-day store that
    * is ~4.5 s per query even with Spark's FileStatusCache warm, vs ~0.9 s
    * to EXECUTE the dim-pruned aggregation (measured, BENCH_LOCAL.md). A
    * long-lived server answering repeated queries re-resolves the same
    * relation every time. DataFrames are immutable, so reuse is safe; the
    * manifest version is in the key, so any flush/compact/ALTER/GC bump
    * invalidates by construction (stale entries age out of the LRU — they
    * can never be returned again). Bounded: ≤64 entries, each a file-index
    * snapshot (a few MB at 3,000 days). The fresh/WAL side of a query is
    * never cached — only the committed-store relation.
    */
  private val relationCache =
    new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, DataFrame]): Boolean = size() > 64
    }

  private[graft] def relationCacheSize: Int =
    relationCache.synchronized(relationCache.size())

  // Insert-disposition counters since THIS process started — the
  // reference's TableStats (zenodb.go:376-416, incremented at insert,
  // insert.go:264-272). Counted by the observe() nodes in [[mergeBatch]];
  // process-lifetime, like the reference's (not persisted).
  private val statQueued = new java.util.concurrent.atomic.AtomicLong
  private val statInserted = new java.util.concurrent.atomic.AtomicLong
  private val statFiltered = new java.util.concurrent.atomic.AtomicLong
  private val statDropped = new java.util.concurrent.atomic.AtomicLong

  /** Points seen by insert since process start, by disposition:
    * queued (arrived), inserted (reached the merge), filtered (dropped by
    * the table WHERE), dropped (older than retention / outside the
    * initial backfill bound — both horizons apply between the observe
    * nodes, so both dispositions are counted).
    *
    * AT-LEAST-ONCE under micro-batch retries: the observe counts fold in
    * when the touched-days job runs, so a foreachBatch retry after a
    * mid-batch failure re-counts that batch's points. The DATA stays
    * exactly-once (the batch ledger dedupes the merge); only these
    * monitoring counters can over-count, and only on a retry — don't
    * reconcile them against the ledger. The reference's counters are
    * exact because they increment per-insert in-process (insert.go:
    * 264-272); ours ride the Spark job instead (zero extra scans).
    */
  def stats: MaterializedTable.TableStats = MaterializedTable.TableStats(
    queuedPoints = statQueued.get(), insertedPoints = statInserted.get(),
    filteredPoints = statFiltered.get(), droppedPoints = statDropped.get())

  private def openDaysCached(version: Long, paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      bucketed: Boolean): DataFrame = {
    val sorted = paths.sorted // canonical: the same SET must hit one key
    val md = java.security.MessageDigest.getInstance("MD5")
    sorted.foreach(p => md.update(p.getBytes("UTF-8")))
    val key = s"$version:$bucketed:${schema.isDefined}:" +
      md.digest().map("%02x".format(_)).mkString
    relationCache.synchronized {
      val hit = relationCache.get(key)
      if (hit != null) return hit
    }
    val df = openDays(sorted, schema, bucketed)
    relationCache.synchronized {
      // a streaming table bumps its version every flush; without pruning,
      // up to 64 never-hit-again file-index snapshots from dead versions
      // would sit in the LRU (the full-store one is large). Versions only
      // move forward, so anything older than this put is garbage.
      relationCache.keySet.removeIf(
        (k: String) => k.takeWhile(_ != ':').toLong < version)
      relationCache.put(key, df)
    }
    df
  }

  /** Current materialized state (all live day partitions), if any. */
  def read(): Option[DataFrame] = {
    val m = readManifest()
    if (m.days.isEmpty) None
    else Some(openDaysCached(m.version,
      m.days.values.map(p => s"$storePath/$p").toSeq,
      m.schema, m.buckets.isDefined))
  }

  /** Committed schema of the materialized state WITHOUT building a relation
    * (building one lists the store's files eagerly — the catalog must stay
    * O(1) in store size). Legacy stores without a manifest schema pay one
    * mergeSchema inference.
    */
  def storedSchema(): Option[org.apache.spark.sql.types.StructType] = {
    val m = readManifest()
    if (m.days.isEmpty) None
    else m.schema.orElse(read().map(_.schema))
  }

  /** Bucket layout of the store, if any: (partitionby dims, bucket count).
    * The planner uses it to turn dim-equality WHEREs into `__bucket=`
    * directory pruning.
    */
  def storedBucketSpec(): Option[(Seq[String], Int)] = readManifest().buckets

  /** Manifest-level day pruning for time-bounded reads: an ASOF/UNTIL query
    * lists and opens ONLY the day dirs overlapping [loMs, hiMs) — so at
    * 100 TB the scan (file listing, footers, IO) scales with the queried
    * window, not with retention. Returns None when no stored day overlaps.
    */
  def readPruned(loMs: Option[Long], hiMs: Option[Long]): Option[DataFrame] = {
    val m = readManifest()
    val keep = m.days.filter { case (d, _) =>
      loMs.forall(lo => (d + 1) * DayMs > lo) && hiMs.forall(hi => d * DayMs < hi)
    }
    if (keep.isEmpty) None
    else Some(openDaysCached(m.version,
      keep.values.map(p => s"$storePath/$p").toSeq,
      m.schema, m.buckets.isDefined))
  }

  private def readDays(days: Map[Long, String], subset: Set[Long],
      schema: Option[org.apache.spark.sql.types.StructType],
      bucketed: Boolean): Option[DataFrame] = {
    val paths = days.filter(e => subset(e._1)).values.map(p => s"$storePath/$p").toSeq
    if (paths.isEmpty) None
    else Some(openDays(paths, schema, bucketed))
  }

  /** Ops snapshot for the `/metrics` surface: manifest generation, live day
    * count, bytes across the live day dirs (driver-side directory walk —
    * O(files in the store), a control-plane cost), and live GENERATION
    * count — the compaction-health number: it is what bounds plan size, and
    * an operator watching it climb toward `graft.compact.maxGenerations`
    * on a table with auto-compaction disabled is watching the O(days)
    * fragmentation failure approach.
    */
  def storeStats: (Long, Int, Long, Int) = {
    val m = readManifest()
    val liveGens = m.days.values.map(_.split("/")(1)).toSet.size
    val bytes = m.days.values.map { rel =>
      val d = Paths.get(storePath, rel)
      if (!Files.isDirectory(d)) 0L
      else {
        val st = Files.walk(d)
        try {
          var sum = 0L
          val it = st.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (Files.isRegularFile(p))
              sum += (try Files.size(p) catch { case _: Exception => 0L })
          }
          sum
        } finally st.close()
      }
    }.sum
    (m.version, m.days.size, bytes, liveGens)
  }

  /** Dim columns of the store (everything except _time, accumulators, and
    * the derived `__bucket` partition column).
    */
  def storedDims: Seq[String] =
    storedSchema()
      .map(_.fieldNames.filterNot(c =>
        c == "_time" || c == "__bucket" || c.startsWith("__a")).toSeq)
      .getOrElse(explicitDims)

  private def explicitDims: Seq[String] = query.groupBy.map(_.name)

  /** Ingest one batch of points (the body of `foreachBatch` for streams; the
    * direct path for batch inserts). WAL semantics land for free: streaming
    * checkpoints track offsets, batch callers own their replay.
    */
  def mergeBatch(batch0: DataFrame, sinkId: Option[String] = None,
                 batchId: Long = -1L): Unit = synchronized {
    val manifest = readManifest()
    val (version, sinkBatches, dayMap, prevSchema) =
      (manifest.version, manifest.sinkBatches, manifest.days, manifest.schema)
    // replay dedup: a re-delivered micro-batch (same sink, batchId ≤ the
    // ledger's) was already merged and committed — merging again would
    // double-count. Batch callers (no sinkId) own their own replay.
    if (sinkId.exists(s => batchId <= sinkBatches.getOrElse(s, -1L))) return
    val tsCol = batch0.columns.find(_ == "ts").getOrElse(
      throw new IllegalArgumentException("point batches need a `ts` column"))
    var batch = batch0
    val dimResolve: String => Column = n =>
      if (batch.columns.contains(n)) col(n) else lit(null)

    // array vals fan out into extra point-inserts, element 0 riding with the
    // main insert's other vals (/root/reference/insert.go:214-252)
    batch.schema.fields
      .filter(f => valNames.contains(f.name) &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      .map(_.name).foreach { c =>
        val nonVal = batch.columns.filterNot(valNames.contains)
        val otherVals = batch.columns.filter(x => valNames.contains(x) && x != c)
        val ex = batch.select(
          (nonVal.map(col) ++ otherVals.map(col) :+
            posexplode_outer(col(c)).as(Seq("__pos", "__el"))): _*)
        batch = ex.select(
          (nonVal.map(col) ++
            otherVals.map(oc =>
              when(col("__pos").isNull || col("__pos") === 0, col(oc)).as(oc)) :+
            col("__el").cast("double").as(c)): _*)
      }

    // Insert-disposition counters (the reference's TableStats,
    // zenodb.go:376-416 / insert.go:264-272): counted with
    // `Dataset.observe` CollectMetrics nodes placed around the two insert
    // filters, so the counts ride the SAME job that materializes the
    // partial aggregation below — zero extra scans of the batch. Read
    // back (and folded into the table's counters) after that job runs.
    batch = batch.observe("graft_queued", count(lit(1)).as("n"))
    val queuedDf = batch
    // table WHERE pre-filter (insert.go:175-189)
    query.where.foreach(w => batch = batch.filter(Builders.dim(w, dimResolve)))
    batch = batch.observe("graft_after_where", count(lit(1)).as("n"))
    val afterWhereDf = batch
    // points older than retention are always dropped (truncateBefore is
    // retention-only, table.go:362-364, consulted per-insert at
    // insert.go:131-136). Backfill bounds only the INITIAL catch-up — the
    // reference applies it once, limiting how far back WAL replay starts
    // when the table is first created (table.go:49-51,166-167 LimitAge);
    // ongoing late data inside retention is accepted. Our analogue of
    // "first created" is the first batch into an empty store. A source that
    // splits the initial catch-up across micro-batches (maxOffsetsPerTrigger)
    // gets the bound on batch 0 only — documented approximation
    // (COVERAGE.md §2.8): the reference bounds a WAL POSITION, not a
    // timestamp, so accepting old points in later batches errs loose
    // (extra old data), never lossy.
    val initialCatchUp = version == 0L // no manifest yet = first load
    val horizons = config.retentionMillis.toSeq ++
      (if (initialCatchUp) config.backfillMillis else None)
    if (horizons.nonEmpty) {
      val truncateBefore = now() - horizons.min
      batch = batch.filter(col(tsCol) >= timestamp_millis(lit(truncateBefore)))
    }
    batch = batch.observe("graft_retained", count(lit(1)).as("n"))
    val retainedDf = batch

    val dims: Seq[(String, Column)] =
      if (query.groupByAll)
        batch.columns.filterNot(c => c == tsCol || valNames.contains(c))
          .sorted.map(d => d -> col(d)).toSeq
      else query.groupBy.map {
        case GroupDim(n)     => n -> dimResolve(n)
        case GroupExpr(n, e) => n -> Builders.dim(e, dimResolve)
      }

    // measures absent from this batch are unset (a point carries only the
    // vals it has — insert.go routes whatever arrives)
    val batchCols = batch.columns.toSet
    val compiled = Builders.compile(tableFields, None,
      {
        case "_point"                    => lit(1.0)
        case n if batchCols.contains(n)  => col(n)
        case _                           => lit(null).cast("double")
      }: String => Column,
      dimResolve, forStorage = true)
    require(compiled.shifts.isEmpty, "SHIFT cannot be materialized")

    val bucket = timestamp_millis(
      (floor(unix_millis(col(tsCol)) / lit(resolutionMillis.toDouble)) *
        resolutionMillis).cast("long")).as("_time")
    val keys = bucket +: dims.map { case (n, c) => c.as(n) }
    val partial = batch.groupBy(keys: _*).agg(compiled.aggs.head, compiled.aggs.tail: _*)

    val keyNames = "_time" +: dims.map(_._1)
    val partialCached = partial.persist()
    // released in the finally: a failed rewrite (an unreadable touched-day
    // file, a full disk) must not leave the batch's partial aggregate
    // persisted for the life of the session
    try {
      val touchedDf = partialCached
        .select((unix_millis(col("_time")) / DayMs).cast("long").as("d"))
        .distinct()
      val touched: Set[Long] = touchedDf.collect().map(_.getLong(0)).toSet
      // the touched-days job just materialized the cache THROUGH the
      // CollectMetrics nodes above — fold their counts into the stats
      // counters (queued = into the WHERE, filtered = WHERE drop,
      // dropped = retention/backfill drop, inserted = reached the merge)
      locally {
        val om = touchedDf.queryExecution.observedMetrics
        val observed = for {
          q <- om.get("graft_queued").map(_.getLong(0))
          w <- om.get("graft_after_where").map(_.getLong(0))
          r <- om.get("graft_retained").map(_.getLong(0))
        } yield (q, w, r)
        // a batch whose rows are ALL filtered out can be re-planned to an
        // empty relation (adaptive execution's empty propagation), which
        // eliminates the CollectMetrics nodes with the rest of the subtree —
        // exactly the batch whose drops most need counting. Fall back to
        // direct counts: the path is rare and the batch is by definition
        // small enough that nothing of it survived the filters.
        val (q, w, r) = observed.getOrElse(
          (queuedDf.count(), afterWhereDf.count(), retainedDf.count()))
        statQueued.addAndGet(q)
        statFiltered.addAndGet(q - w)
        statDropped.addAndGet(w - r)
        statInserted.addAndGet(r)
      }
      if (touched.isEmpty) return

      // merge ONLY the touched day partitions with the batch's partials.
      // GROUP BY * derives dims per batch, so the stored partitions may carry
      // dims this batch lacks (heterogeneous per-point dims, insert.go routes
      // whatever arrives) — key the merge on the UNION of batch and stored
      // dims, treating the missing side as NULL, or those rows collapse.
      val merged = readDays(dayMap, touched, prevSchema, manifest.buckets.isDefined) match {
        case None => partialCached
        case Some(existing) =>
          val storedDimCols = existing.columns
            .filterNot(c => c == "_time" || c == "__bucket" || c.startsWith("__a"))
          val mergeKeys = (keyNames ++ storedDimCols).distinct
          val unioned = existing.unionByName(partialCached, allowMissingColumns = true)
          val mergeCols = compiled.aggSpecs.map(s =>
            Builders.MergeOp(s.merge, col(s.alias)).as(s.alias))
          unioned.groupBy(mergeKeys.map(col): _*)
            .agg(mergeCols.head, mergeCols.tail: _*)
      }

      // retention inside touched days (row_store.go:378-382); whole expired
      // days drop out of the manifest below
      val retained = config.retentionMillis match {
        case Some(r) => merged.filter(col("_time") >= timestamp_millis(lit(now() - r)))
        case None    => merged
      }

      // partitionby dims (cluster_follow.go:797-821's murmur3 partitioning,
      // README.md:522-529's partition advice): each day dir is sub-partitioned
      // into `__bucket=k` dirs by murmur3(dims) % N, so a dim-equality query
      // prunes at the DIRECTORY level — 1/N of the files and bytes — the way
      // the reference routes such queries to one cluster partition. Row-group
      // min/max sorting alone cannot do this: hash-distributed files each
      // hold a near-uniform sample of the dim range, so their stats never
      // exclude anything (measured exponent 1.01 = zero pruning). Buckets are
      // all-or-nothing per store (mixed day layouts would break partition
      // discovery): a legacy store without the manifest line stays unbucketed.
      // Files are still sorted (dims, _time) within each bucket so row-group
      // stats prune further WITHIN the one bucket a query opens.
      val withDay = retained
        .withColumn("__day", (unix_millis(col("_time")) / DayMs).cast("long"))
      // The layout is sticky: once a store commits bucketed days, EVERY later
      // flush buckets — even a batch whose points all lack the partition dim
      // (heterogeneous per-point dims are supported input; insert.go routes
      // whatever arrives). A missing bucket dim hashes as a NULL literal,
      // exactly how a stored NULL dim value hashes (Murmur3 skips null
      // children), so rows land deterministically and dim-equality pruning
      // stays a correct superset. Dropping the layout for one batch would mix
      // bucketed and unbucketed day roots and wedge partition discovery.
      val bucketed: Option[(Seq[String], Int)] =
        manifest.buckets.orElse(
          if (dayMap.isEmpty && config.partitionBy.nonEmpty)
            Some((config.partitionBy, MaterializedTable.BucketCount))
          else None)
      val withBucket = bucketed match {
        case Some((ds, n)) =>
          val hashCols = ds.map { d =>
            if (retained.columns.contains(d)) col(d)
            else lit(null).cast(
              prevSchema.flatMap(_.fields.find(_.name == d)).map(_.dataType)
                .getOrElse(org.apache.spark.sql.types.StringType))
          }
          withDay.withColumn("__bucket", pmod(hash(hashCols: _*), lit(n)))
        case None => withDay
      }
      val partCols = Seq("__day") ++ bucketed.map(_ => "__bucket")
      val sortDims = config.partitionBy.filter(retained.columns.contains)
      val toWrite0 = withBucket
        .repartition(partCols.map(col): _*)
        .sortWithinPartitions((sortDims :+ "_time").map(col): _*)

      val next = version + 1
      val commitRel = s"commits/$next"
      toWrite0
        .storeWrite.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
        .parquet(s"$storePath/$commitRel")

      // pick up the day dirs this commit produced
      val newDays: Map[Long, String] = listCommitDays(next)

      val horizonDay = config.retentionMillis
        .map(r => (now() - r) / DayMs).getOrElse(Long.MinValue)
      val nextMap = (dayMap -- touched)
        .filter { case (d, _) => d >= horizonDay } ++ newDays
      // committed schema = this write's columns (minus the __day partition
      // col) unioned with every column a previous generation ever committed:
      // untouched days flushed under an older definition still resolve, and
      // reads never infer. All-nullable: a day missing a later-ALTERed
      // accumulator column must read as NULL, not fail the reader.
      val unionSchema = {
        val newS = org.apache.spark.sql.types.StructType(
          retained.schema.fields.map(_.copy(nullable = true)) ++
            // the bucket partition column must be IN the committed schema:
            // reads pass it explicitly, so discovery surfaces the dir values
            // as a queryable column the planner can prune on
            bucketed.map(_ => org.apache.spark.sql.types.StructField(
              "__bucket", org.apache.spark.sql.types.IntegerType, nullable = true)))
        prevSchema match {
          case None => newS
          case Some(old) =>
            val newNames = newS.fieldNames.toSet
            org.apache.spark.sql.types.StructType(
              newS.fields ++
                old.fields.filterNot(f => newNames(f.name)).map(_.copy(nullable = true)))
        }
      }
      writeManifest(next,
        sinkBatches ++ sinkId.map(_ -> batchId), nextMap, unionSchema, bucketed)
      gcSuperseded(next, nextMap)
    } finally partialCached.unpersist()

    // amortized maintenance: a store whose days froze under many different
    // flushes fragments across generations; consolidate opportunistically
    // so plan size stays bounded (see compact's doc)
    if (MaterializedTable.autoCompact) compactLocked(full = false)
  }

  /** Day dirs a commit generation produced, keyed by day. */
  private def listCommitDays(next: Long): Map[Long, String] = {
    val commitDir = Paths.get(storePath, "commits", next.toString)
    val st = Files.list(commitDir)
    val ps = try st.iterator().asScalaSeq finally st.close()
    ps.filter(p => p.getFileName.toString.startsWith("__day="))
      .map { p =>
        val d = p.getFileName.toString.stripPrefix("__day=").toLong
        d -> s"commits/$next/__day=$d"
      }.toMap
  }

  /** Best-effort cleanup: remove commit dirs no longer referenced
    * (row_store.go:681-725's superseded-generation deletion) — but only
    * after a grace window from SUPERSESSION, because a reader that loaded
    * the previous manifest may still be scanning the superseded
    * generation; deleting under it would tear the read mid-swap. The
    * clock starts at a `.superseded` stamp dropped the first time a
    * generation is seen unreferenced (the dir's own mtime is its CREATION
    * time — a long-lived generation superseded minutes later would
    * otherwise be deleted instantly). Wall clock, not the injected
    * logical clock: readers live in real time. Same tombstone-retention
    * idea public table formats use; dirs a transient error skips this
    * round go next round.
    */
  private def gcSuperseded(next: Long, liveDays: Map[Long, String]): Unit = {
    val grace = java.lang.Long.getLong("graft.commitGcGraceMillis",
      MaterializedTable.CommitGcGraceMillis)
    val nowWall = System.currentTimeMillis()
    val live = liveDays.values.map(_.split("/")(1).toLong).toSet
    val commitsRoot = Paths.get(storePath, "commits")
    if (Files.isDirectory(commitsRoot)) {
      val st = Files.list(commitsRoot)
      val dirs = try st.iterator().asScalaSeq finally st.close()
      dirs.foreach { p =>
        val v = scala.util.Try(p.getFileName.toString.toLong).toOption
        if (v.exists(x => x != next && !live.contains(x))) {
          val stamp = p.resolve(".superseded")
          try {
            if (!Files.exists(stamp)) Files.createFile(stamp)
            else if (Files.getLastModifiedTime(stamp).toMillis < nowWall - grace)
              deleteRecursively(p)
          } catch { case _: Exception => () }
        }
      }
    }
  }

  /** Consolidate fragmented commit generations — the piece that keeps
    * bucketed-store PLAN SIZE bounded over a store's whole life.
    *
    * Flush rewrites only the day partitions a batch touched (O(touched
    * days), not O(store) — unlike the reference, which rewrites its entire
    * filestore on every flush, row_store.go:424-530). The price of that
    * economy: a day's dir lives in the generation of the LAST flush that
    * touched it, so once days quiesce (late data stops arriving), a store
    * with D days of retention converges on ~D distinct live generations —
    * and a bucketed read opens one relation PER generation
    * (openDays: several `__day=` roots can't share one discovery pass), so
    * a wide-window query over a grown store is back to the O(days)-relations
    * plan the per-generation read exists to prevent. The 100× store of
    * BENCH_LOCAL.md "Stored-table query scaling (round 10)" never showed
    * this because it was built in ONE merge (one generation); a store built
    * by 3,001 daily flushes would have hit it in production ("Generation
    * fragmentation + compaction (round 11)"; both tools at git 6fef9ce).
    *
    * Policy (size-tiered, LSM-style): when live generations exceed
    * `graft.compact.maxGenerations` (default 32), rewrite the days of every
    * generation holding fewer than ceil(liveDays/maxGens) days into ONE new
    * generation. Generations grow geometrically under this rule, so a day
    * is rewritten O(log D) times over its life — not O(D/maxGens) as a
    * naive "merge everything when over threshold" would cost. Runs inside
    * the flush lock right after a commit (auto, `graft.compact.auto=false`
    * disables) and via [[compact]] for explicit maintenance. The rewrite is
    * the flush's own layout — same partitionBy dirs, same (dims, _time)
    * sort, same atomic manifest swap, same grace-stamped GC — so readers
    * never observe anything but a version bump.
    *
    * @return number of day dirs consolidated (0 = nothing to do)
    */
  def compact(full: Boolean = true): Int = synchronized {
    if (!full) compactLocked(full = false)
    else {
      // full consolidation ALSO proceeds in bounded passes: one pass over
      // an already-fragmented store would union every generation into the
      // very O(generations)-relations plan compaction exists to eliminate
      // (measured: a 3,000-generation store OOMed an 8 GiB driver mid-
      // rewrite). Smallest generations merge first, so sizes grow
      // geometrically — O(log gens) passes, each committed atomically
      // (resumable if interrupted).
      var total = 0
      var n = compactLocked(full = true)
      while (n > 0) { total += n; n = compactLocked(full = true) }
      total
    }
  }

  private def compactLocked(full: Boolean): Int = {
    val m = readManifest()
    if (m.days.isEmpty) return 0
    val byGen: Map[Long, Seq[Long]] = m.days.toSeq
      .groupBy(_._2.split("/")(1).toLong).view.mapValues(_.map(_._1)).toMap
    // bounded per-pass rewrite: auto-compaction runs inside the flush
    // lock, so merging EVERY small generation at once would stall a
    // streaming micro-batch for the whole rewrite (minutes at 100 TB) —
    // and an unbounded pass over a fragmented store builds an
    // O(generations)-relations union that can OOM the driver outright.
    // Take the smallest generations first — most plan-size reduction per
    // byte rewritten — up to a day budget, always ≥2 so each pass reduces
    // the generation count; successive flushes (auto) or passes (full)
    // converge the rest.
    def pick(eligible: Seq[(Long, Seq[Long])]): Set[Long] = {
      val budget = Integer.getInteger("graft.compact.maxDaysPerPass",
        MaterializedTable.MaxCompactDaysPerPass).intValue()
      val picked = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      var days = 0
      eligible.sortBy(_._2.size).foreach { case (_, ds) =>
        if (picked.size < 2 || days + ds.size <= budget) {
          picked += ds; days += ds.size
        }
      }
      picked.flatten.toSet
    }
    val victims: Set[Long] =
      if (full) {
        if (byGen.size <= 1) return 0
        pick(byGen.toSeq)
      } else {
        val maxGens = Integer.getInteger("graft.compact.maxGenerations",
          MaterializedTable.MaxGenerations).intValue()
        if (byGen.size <= maxGens) return 0
        val target = math.ceil(m.days.size.toDouble / maxGens)
        val small = byGen.filter(_._2.size < target)
        if (small.size < 2) return 0
        pick(small.toSeq)
      }
    val read = readDays(m.days, victims, m.schema, m.buckets.isDefined)
    if (read.isEmpty) return 0
    // retention while we're rewriting anyway (mirrors flush); expired days
    // fall out of the map below like they do on flush
    val retained = config.retentionMillis match {
      case Some(r) =>
        read.get.filter(col("_time") >= timestamp_millis(lit(now() - r)))
      case None    => read.get
    }
    val withDay = retained
      .withColumn("__day", (unix_millis(col("_time")) / DayMs).cast("long"))
    // __bucket rides through as a data column from the read (it's in the
    // committed schema) and goes back out as the partition dir — rows keep
    // the bucket the flush assigned; no re-hash, no layout drift
    val partCols = Seq("__day") ++ m.buckets.map(_ => "__bucket")
    val sortDims = config.partitionBy.filter(retained.columns.contains)
    val next = m.version + 1
    withDay
      .repartition(partCols.map(col): _*)
      .sortWithinPartitions((sortDims :+ "_time").map(col): _*)
      .storeWrite.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(s"$storePath/commits/$next")
    val newDays = listCommitDays(next)
    val horizonDay = config.retentionMillis
      .map(r => (now() - r) / DayMs).getOrElse(Long.MinValue)
    val nextMap = (m.days -- victims).filter(_._1 >= horizonDay) ++ newDays
    val schema = m.schema.getOrElse(org.apache.spark.sql.types.StructType(
      retained.schema.fields.map(_.copy(nullable = true))))
    writeManifest(next, m.sinkBatches, nextMap, schema, m.buckets)
    gcSuperseded(next, nextMap)
    victims.size
  }

  private implicit class IterOps[T](it: java.util.Iterator[T]) {
    def asScalaSeq: Seq[T] = {
      val b = scala.collection.mutable.ArrayBuffer.empty[T]
      while (it.hasNext) b += it.next()
      b.toSeq
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.GraftDB.deleteRecursively(p)

  /** Attach this table's materialization to a streaming point source.
    * Each micro-batch merges under the checkpoint's sink id + batchId, so
    * an at-least-once re-delivery after a crash is recognized via the
    * manifest's batch ledger and skipped — effectively exactly-once into
    * the store, the property the reference gets from its applied-offset
    * headers.
    */
  def sink(stream: DataFrame, checkpointDir: String,
           trigger: org.apache.spark.sql.streaming.Trigger =
             org.apache.spark.sql.streaming.Trigger.ProcessingTime(1000)) = {
    // ledger key = the streaming query's stable id from the checkpoint's
    // metadata file — NOT a hash of the dir path. Spark restarts batchIds
    // at 0 when a checkpoint is wiped; a path-keyed ledger would then
    // silently drop every batch until the counter re-passed its old high
    // water mark. The query id is fresh on a wiped checkpoint (new key,
    // everything merges — back to plain at-least-once) and stable across
    // normal restarts (replays still dedup). Resolved lazily INSIDE the
    // first batch, after the running query has written the metadata file.
    // When the metadata is unreadable there is NO safe key — any synthetic
    // one (e.g. a path hash) recreates the wiped-checkpoint failure mode —
    // so dedup disables (None) and ingest degrades to plain at-least-once.
    lazy val sid: Option[String] = {
      val meta = Paths.get(checkpointDir, "metadata")
      val parsed =
        try {
          if (Files.exists(meta))
            "\"id\"\\s*:\\s*\"([0-9a-fA-F-]+)\"".r
              .findFirstMatchIn(Files.readString(meta)).map(_.group(1))
          else None
        } catch { case _: Exception => None }
      if (parsed.isEmpty)
        System.err.println(s"graft: table ${config.name}: cannot read the " +
          s"streaming query id from $meta; replay dedup disabled for this " +
          "run (at-least-once)")
      parsed
    }
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        mergeBatch(batch, sid, bid)
      }
      .start()
  }
}

object MaterializedTable {
  /** Per-table insert-disposition counters — the reference's `TableStats`
    * (/root/reference/table.go:26-33), minus the flush-side ExpiredValues
    * (our expiry is structural: whole days drop from the manifest, visible
    * in the `/metrics` days count).
    */
  final case class TableStats(queuedPoints: Long, insertedPoints: Long,
                              filteredPoints: Long, droppedPoints: Long)

  /** Test-only fault injection for the commit path: invoked at the named
    * points inside [[MaterializedTable.writeManifest]] ("manifest.pre-write",
    * "manifest.tmp-written", "manifest.moved"). A crash fuzz installs a
    * throwing hook to simulate the process dying on either side of the
    * atomic rename; production leaves the no-op. The invariant under test:
    * a store reopened after a crash at ANY point answers exactly like the
    * last committed state — the rename IS the transaction boundary.
    */
  @volatile private[graft] var crashHook: String => Unit = _ => ()

  /** Default grace before a superseded commit generation is deleted —
    * readers that loaded the previous manifest get this long to finish
    * scanning it (`-Dgraft.commitGcGraceMillis=` overrides).
    */
  val CommitGcGraceMillis: Long = 30000L

  /** `__bucket=` dirs per day for a new partitionby store (an existing
    * store keeps the count its manifest records). A dim-equality query reads 1/N of
    * the store's files; at 1000-executor scale N also bounds per-bucket
    * file sizes, so the value is a files-per-day knob, not a parallelism
    * cap (scans parallelize by row group regardless).
    */
  val BucketCount: Int = 32

  /** Live-generation count past which the post-flush auto-compaction
    * consolidates small generations (`-Dgraft.compact.maxGenerations=`
    * overrides; `-Dgraft.compact.auto=false` disables the auto trigger).
    * Bounds bucketed-store plan size at O(maxGens) relations for the
    * store's whole life, at O(log days) lifetime rewrites per day.
    */
  val MaxGenerations: Int = 32

  /** Day-dir budget per auto-compaction pass (`-Dgraft.compact.maxDaysPerPass=`
    * overrides). Bounds the post-flush latency spike: a pass rewrites at
    * most this many day dirs (always ≥2 generations so the count shrinks),
    * and later flushes converge the rest.
    */
  val MaxCompactDaysPerPass: Int = 128

  private[streaming] def autoCompact: Boolean =
    java.lang.Boolean.parseBoolean(System.getProperty("graft.compact.auto", "true"))

  /** Decoded MANIFEST: generation, per-sink replay ledger, live day dirs,
    * committed union schema, bucket layout.
    */
  final case class Manifest(
      version: Long,
      sinkBatches: Map[String, Long],
      days: Map[Long, String],
      schema: Option[org.apache.spark.sql.types.StructType],
      buckets: Option[(Seq[String], Int)])
  object Manifest {
    val Empty: Manifest = Manifest(0L, Map.empty, Map.empty, None, None)
  }
}
