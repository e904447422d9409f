package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.exprs.Builders
import graft.io.LocalFs.StoreWrite
import graft.schema.{SchemaParser, TableConfig}
import graft.sqlx.{FromTable, Parser, Query}
import graft.streaming.MaterializedTable

/** The embeddable database facade — zenodb's `DB` re-expressed on Spark:
  * a schema of materialized aggregation tables and views over named streams,
  * batch/streaming ingest, and dialect SQL over the stored state.
  *
  * {{{
  * val db = new GraftDB(spark, schemaYaml, "/data/graft")
  * db.insert("inbound", pointsDf)            // batch ingest
  * db.attachStream("inbound", streamingDf, "/data/ckpt")  // streaming ingest
  * db.sql("SELECT requests FROM combined GROUP BY * ORDER BY requests DESC")
  * }}}
  */
final class GraftDB(
    spark: SparkSession,
    schemaText: String,
    baseDir: String,
    now: () => Long = () => System.currentTimeMillis(),
    aliasesProps: String = "",
    whitelistedDims: Set[String] = Set.empty) {

  if (aliasesProps.nonEmpty) Parser.registerAliasesProps(aliasesProps)

  // Partition-discovery task sizing: Spark's default parallelism for the
  // listing job is 10,000, i.e. ONE TASK PER DIRECTORY for any store under
  // 10k dirs — on a 3,000-day store the scheduling overhead of 3,000
  // one-dir tasks is ~4.4 s of a cold query's 5.4 s (BENCH_LOCAL.md).
  // Sizing the job to the cluster instead (one task per core, each listing
  // a CHUNK of dirs) cuts the cold relation build to ~0.3 s and behaves
  // the same on a real cluster, where defaultParallelism is the fleet's
  // core count.
  spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.parallelism",
    spark.sparkContext.defaultParallelism.toString)

  /** Parse a schema text into per-table resolved definitions; views resolve
    * to their parent's stream and are materialized independently
    * (/root/reference/table.go:194-250).
    */
  private def resolveSchema(text: String)
      : Map[String, (TableConfig, Option[Query])] = {
    // `annindex:` / `dedupindex:` entries declare index registrations, not
    // tables — they carry no sql to parse (Query = None)
    val parsed: Map[String, (TableConfig, Option[Query])] =
      SchemaParser.parse(text).map(c => c.name -> (c,
        if (c.annIndexPath.isDefined || c.dedupIndexPath.isDefined) None
        else Some(Parser.parse(c.sql))))
        .toMap
    parsed.map { case (name, (cfg, q0)) =>
      val resolved = q0.map { q =>
        if (!cfg.isView) q
        else {
          val parentName = q.from match {
            case FromTable(p) => p
            case other => throw new IllegalArgumentException(
              s"view $name must select FROM a table, got $other")
          }
          val parentQ = parsed.get(parentName).flatMap(_._2).getOrElse(
            throw new IllegalArgumentException(
              s"view $name references unknown table $parentName"))
          SchemaParser.resolveView(q, parentQ)
        }
      }
      name -> (cfg, resolved)
    }
  }

  // which SIMSEARCH registrations came from the schema file: an ALTER that
  // drops an `annindex:` entry detaches its registration (the table
  // analogue — stores/indexes on disk are never deleted), while
  // programmatic registerAnnIndex calls survive schema reloads untouched
  private val schemaAnnNames = scala.collection.mutable.Set.empty[String]

  // which maintenance enrollments came from the schema file, same contract
  // as schemaAnnNames: dropping the `maintain:` option (or the whole entry)
  // on ALTER detaches the enrollment; programmatic register*Maintenance
  // calls survive schema reloads untouched
  private val schemaMaintNames = scala.collection.mutable.Set.empty[String]

  private def registerSchemaAnnIndexes(
      resolved: Map[String, (TableConfig, Option[Query])]): Unit = {
    val declared = resolved.collect {
      case (name, (cfg, None)) if cfg.annIndexPath.isDefined => name.toLowerCase
    }.toSet
    annIndexes.synchronized {
      (schemaAnnNames -- declared).foreach(annIndexes.remove)
      schemaAnnNames.clear()
      schemaAnnNames ++= declared
    }
    // maintenance enrollment is declarative too (`maintain: true`): the
    // daemon is then config-driven end-to-end — no Scala call needed for
    // an index to be SIMSEARCH-queryable AND self-maintaining
    val declaredMaint = resolved.collect {
      case (name, (cfg, None)) if cfg.maintain => name.toLowerCase
    }.toSet
    val detachedStreams =
      scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    val detachedStates =
      scala.collection.mutable.ArrayBuffer.empty[MaintState]
    maintained.synchronized {
      // a detached enrollment's queued generations go to the orphan GC
      // queue — detach must not strand superseded dirs on disk — and its
      // attached writer (a name shared with a programmatic stream-attached
      // enrollment) is stopped, not left appending. Streams AND states are
      // collected here and processed BELOW, outside the registry lock: the
      // quiesce can deadlock against a micro-batch (see enroll's note) and
      // the orphan handoff persists to disk — neither may run under the
      // registry monitor.
      (schemaMaintNames -- declaredMaint).foreach(n =>
        maintained.remove(n).foreach { old =>
          detachStream(old).foreach(detachedStreams += _)
          detachedStates += old
        })
      schemaMaintNames.clear()
      schemaMaintNames ++= declaredMaint
    }
    detachedStreams.foreach(s => quiesceStream(Some(s), keep = None))
    // orphan AFTER the quiesce (flip discipline: a queue entry becomes
    // drainable only once its last possible writer is stopped)
    detachedStates.foreach(orphanPendingDeletes)
    resolved.foreach {
      case (name, (cfg, None)) if cfg.annIndexPath.isDefined =>
        val declaredPath = cfg.annIndexPath.get
        if (cfg.maintain) {
          // enroll() is in-place for an unchanged base path: a re-ALTER
          // keeps generation state (activePath/gen/stream/GC queue) while
          // applying any CHANGED maintain* options live
          cfg.maintainSource match {
            case Some(src) => registerPqMaintenance(name.toLowerCase,
              declaredPath, src, cfg.annVecCol, cfg.annIdCol,
              cfg.maintainNProbe, cfg.maintainBudget,
              gcOldGenerations = cfg.maintainGc)
            case None => registerAnnMaintenance(name.toLowerCase,
              declaredPath, cfg.annVecCol, cfg.annIdCol,
              cfg.maintainNProbe, cfg.maintainBudget,
              gcOldGenerations = cfg.maintainGc)
          }
        }
        // a schema reload must not UNDO a maintenance flip: when the entry
        // is enrolled and the daemon has already flipped it to a newer
        // generation, the SIMSEARCH registration points at the enrolled
        // ACTIVE path. A NON-enrolled entry (maintain dropped on ALTER, or
        // a restart before enrollment) resolves the newest complete
        // on-disk generation instead of blindly trusting the yaml base,
        // which earlier flips may have GC'd.
        val path = maintained.synchronized {
          maintained.get(name.toLowerCase).filter(_.basePath == declaredPath)
        }.map(st => st.synchronized(st.activePath))
          .getOrElse(discoverGeneration(declaredPath)._1)
        registerAnnIndex(name, path, cfg.annVecCol,
          cfg.annIdCol, quantized = cfg.annQuantized,
          baseTable = cfg.annBaseTable, refineK = cfg.annRefineK)
      // `dedupindex:` entries exist solely to enroll daemon maintenance
      // for the exact/near-dup/containment family (parse-time validated
      // to carry maintain: true)
      case (name, (cfg, None)) if cfg.dedupIndexPath.isDefined && cfg.maintain =>
        registerDedupMaintenance(name.toLowerCase, cfg.dedupIndexPath.get,
          cfg.maintainFiles, gcOldGenerations = cfg.maintainGc)
      case _ => ()
    }
  }

  @volatile private var tableMap: Map[String, MaterializedTable] =
    resolveSchema(schemaText).collect { case (name, (cfg, Some(resolved))) =>
      name -> new MaterializedTable(spark, cfg, resolved, s"$baseDir/$name", now)
    }

  /** stream name -> tables fed by it. */
  def tables: Map[String, MaterializedTable] = tableMap

  /** Per-table insert-disposition counters since process start — the
    * reference's `DB.TableStats` (/root/reference/zenodb.go:376-386).
    */
  def tableStats(table: String): MaterializedTable.TableStats =
    tableMap.get(table.toLowerCase).map(_.stats).getOrElse(
      MaterializedTable.TableStats(0L, 0L, 0L, 0L))

  /** All tables' stats, keyed by table name — the reference's
    * `DB.AllTableStats` (zenodb.go:388-403).
    */
  def allTableStats: Map[String, MaterializedTable.TableStats] =
    tableMap.map { case (n, t) => n -> t.stats }

  /** One-line human rendering — the reference's `DB.PrintTableStats`
    * (zenodb.go:405-416).
    */
  def printTableStats(table: String): String = {
    val s = tableStats(table)
    s"$table (${java.time.Instant.ofEpochMilli(now())})\t" +
      s"Filtered: ${s.filteredPoints}    Dropped: ${s.droppedPoints}    " +
      s"Queued: ${s.queuedPoints}    Inserted: ${s.insertedPoints}"
  }

  /** Fully consolidate a table's commit generations into one (explicit
    * maintenance — flushes already auto-compact incrementally; see
    * [[graft.streaming.MaterializedTable.compact]]). Returns day dirs
    * rewritten.
    */
  def compact(table: String): Int = {
    val t = tableMap.getOrElse(table.toLowerCase,
      throw new IllegalArgumentException(s"no table '$table'"))
    t.compact(full = true)
  }

  /** Apply a new schema text to the RUNNING database — the reference's live
    * schema Alter (/root/reference/schema.go:16-55, zenodb_test.go:175-190):
    * existing tables are re-pointed at their new definition in place (store
    * kept; fields may be shuffled/extended between flushes), new tables are
    * created, tables absent from the new schema are detached (their stores
    * stay on disk, like the reference which never deletes data on Alter).
    */
  def alter(newSchemaText: String): Unit = synchronized {
    val resolved = resolveSchema(newSchemaText)
    registerSchemaAnnIndexes(resolved)
    tableMap = resolved.collect { case (name, (cfg, Some(q))) =>
      tableMap.get(name) match {
        case Some(t) => t.alter(cfg, q); name -> t
        case None =>
          name -> new MaterializedTable(spark, cfg, q, s"$baseDir/$name", now)
      }
    }
  }

  /** Poll a schema file and Alter on modification — the reference's
    * once-a-second schema watcher (/root/reference/schema.go:16-55). Returns
    * the daemon thread; interrupt it to stop watching.
    */
  def watchSchemaFile(path: String, intervalMillis: Long = 1000L): Thread = {
    val p = java.nio.file.Paths.get(path)
    // snapshot the baseline mtime BEFORE the thread starts: an edit landing
    // between watch registration and the thread's first poll must be seen,
    // not silently folded into the baseline
    val initial = java.nio.file.Files.getLastModifiedTime(p)
    val t = new Thread(() => {
      var last = initial
      try while (!Thread.currentThread().isInterrupted) {
        Thread.sleep(intervalMillis)
        try {
          val m = java.nio.file.Files.getLastModifiedTime(p)
          if (m.compareTo(last) > 0) {
            last = m
            try alter(java.nio.file.Files.readString(p))
            catch { case e: Exception => // keep serving the old schema, like the reference
              System.err.println(s"graft: schema reload failed: ${e.getMessage}") }
          }
        } catch {
          case e: InterruptedException => throw e
          // file briefly missing (editors replace atomically; deploys swap
          // symlinks): keep polling instead of dying on NoSuchFileException
          case _: Exception => ()
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-schema-watch")
    t.setDaemon(true)
    t.start()
    t
  }

  private def tablesForStream(stream: String): Seq[MaterializedTable] =
    tables.values.filter(_.query.from == FromTable(stream.toLowerCase)).toSeq

  /** Batch-insert points into a stream: every table/view defined over the
    * stream folds the batch into its materialized aggregation.
    */
  def insert(stream: String, batch0: DataFrame): Unit = {
    val targets = tablesForStream(stream)
    require(targets.nonEmpty, s"no tables defined over stream '$stream'")
    // WhitelistedDimensions (zenodb.go:133-135): when set, only whitelisted
    // dims reach the WAL — here, the merge. Non-dim columns (time, measures)
    // always pass; the reference's e2e fixture relies on a non-whitelisted
    // `discarded` dim vanishing at insert rather than becoming a group key.
    val batch =
      if (whitelistedDims.isEmpty) batch0
      else {
        // dims are identified by NAME, never by Spark type (the reference
        // slices only the dims map, insert.go:34-39): a column is a dim iff
        // it is neither the ts column nor a val/measure of any target table.
        // Type-based classification silently dropped integer-typed measures
        // and let non-whitelisted double-typed dims through.
        val measureNames = targets.flatMap(_.valNames).toSet
        val drop = batch0.columns.filter(c =>
          c != "ts" && !measureNames.contains(c) && !whitelistedDims.contains(c))
        batch0.drop(drop: _*)
      }
    // vtime: the logical clock reaches the batch's max ts BEFORE the merge,
    // so this batch's own retention/backfill decisions see the new time —
    // the reference advances virtual time as points arrive (zenodb's vtime
    // clock), then truncates against it
    now match {
      case vc: GraftDB.VirtualClock if batch.columns.contains("ts") =>
        val m = batch.agg(org.apache.spark.sql.functions
          .max(org.apache.spark.sql.functions.col("ts"))).collect()(0)
        if (!m.isNullAt(0))
          vc.advanceTo(m.getTimestamp(0).getTime)
      case _ =>
    }
    targets.foreach(_.mergeBatch(batch))
    if (journalOn) appendJournal(stream.toLowerCase, batch)
  }

  // ---------------------------------------------------------------------
  // Follow journal — the replay source for the RPC Follow surface. The
  // reference's followers tail the WAL and resume from a client-held offset
  // (rpc/rpc.go Follow, cluster_follow.go); graft stores only aggregated
  // state, so the journal keeps a BOUNDED per-stream log of committed
  // insert batches as JSON-lines entries named by a dense monotonic marker
  // (`_follow/<stream>/<marker>.jsonl/part-*`). An entry is appended AFTER
  // the batch merges into every table over the stream, so a marker only
  // ever names a committed batch. Entries are written DISTRIBUTED (a Spark
  // text write — the serialization runs on executors, never a driver-side
  // row funnel; measured 2× ingest overhead when it was toLocalIterator)
  // to a tmp dir and published with an atomic rename, so tailing readers
  // never observe a torn entry. Journaling is off until a follow-capable
  // server enables it — embedded ingest without followers pays nothing.
  // ---------------------------------------------------------------------

  @volatile private var journalOn = false

  /** Turn on follow journaling (idempotent; called by the RPC server). */
  def enableFollowJournal(): Unit = { journalOn = true }

  /** Per-stream journal state (this process is the store's single writer):
    * the marker counter plus the live entry deque with per-entry byte
    * sizes, so the steady state touches the directory only to publish and
    * prune — follower polls and prune accounting never re-list or re-stat
    * (with dir-of-parts entries that would be O(entries × parts) syscalls
    * per poll/append). All mutation and reads go through the instance
    * lock; entries in the deque are dense by construction.
    */
  private final class Journal(seed: Seq[(Long, java.nio.file.Path)]) {
    var seq: Long = seed.lastOption.map(_._1).getOrElse(0L)
    val entries =
      scala.collection.mutable.ArrayDeque.empty[(Long, java.nio.file.Path, Long)]
    var bytes: Long = 0L
    seed.foreach { case (m, p) =>
      val sz = GraftDB.sizeOf(p); entries += ((m, p, sz)); bytes += sz
    }
  }
  private val journals =
    new java.util.concurrent.ConcurrentHashMap[String, Journal]()

  private def journalDirOf(stream: String): java.nio.file.Path = {
    // the stream name reaches here from unauthenticated FOLLOW frames, not
    // just the schema: reject anything that isn't a plain identifier-ish
    // token or it becomes a path-traversal primitive
    require(stream.nonEmpty && stream != "." && stream != ".." &&
      stream.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"invalid stream name '$stream'")
    java.nio.file.Paths.get(baseDir, "_follow", stream)
  }

  private def listJournal(stream: String): Seq[(Long, java.nio.file.Path)] = {
    val dir = journalDirOf(stream)
    if (!java.nio.file.Files.isDirectory(dir)) Nil
    else {
      val b = scala.collection.mutable.ArrayBuffer.empty[(Long, java.nio.file.Path)]
      val st = java.nio.file.Files.list(dir)
      try {
        val it = st.iterator()
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (n.endsWith(".jsonl"))
            scala.util.Try(n.stripSuffix(".jsonl").toLong).foreach(s => b += (s -> p))
        }
      } finally st.close() // Files.list holds a directory fd until closed
      b.sortBy(_._1).toSeq
    }
  }

  /** Seed (once) the in-memory state from disk — the restart path — after
    * sweeping crash leftovers (unpublished `.tmp-*`, half-deleted `.del-*`).
    */
  private def journalOf(stream: String): Journal =
    journals.computeIfAbsent(stream, s => {
      val dir = journalDirOf(s)
      if (java.nio.file.Files.isDirectory(dir)) {
        val st = java.nio.file.Files.list(dir)
        try {
          val it = st.iterator()
          while (it.hasNext) {
            val p = it.next()
            val n = p.getFileName.toString
            if (n.startsWith(".tmp-") || n.startsWith(".del-"))
              try GraftDB.deleteRecursively(p) catch { case _: Exception => () }
          }
        } finally st.close()
      }
      new Journal(listJournal(s))
    })

  /** The stream's journal state if it exists (in memory, or seedable from a
    * restart's on-disk journal). Never allocates state for names that have
    * never journaled — FOLLOW takes arbitrary client input.
    */
  private def journalFor(stream: String): Option[Journal] =
    Option(journals.get(stream)).orElse {
      if (java.nio.file.Files.isDirectory(journalDirOf(stream)))
        Some(journalOf(stream))
      else None
    }

  /** Highest committed marker for a stream (0 when nothing is journaled).
    * Served from memory — followers poll this every 150ms, and the idle
    * path must not be a directory listing per poll (a restart seeds the
    * state from disk once, on first touch).
    */
  def followMarker(stream: String): Long =
    journalFor(stream.toLowerCase).map(j => j.synchronized(j.seq)).getOrElse(0L)

  /** Committed journal entries with marker > `after`, oldest first — a
    * snapshot of the live deque, dense by construction. A gap between
    * `after` and the head means pruning outran the caller — the RPC layer
    * turns that into a loud error, never a silent skip.
    */
  def followEntriesAfter(stream: String, after: Long): Seq[(Long, java.nio.file.Path)] =
    journalFor(stream.toLowerCase) match {
      case None => Nil
      case Some(j) => j.synchronized {
        if (j.seq <= after) Nil
        else j.entries.iterator.filter(_._1 > after)
          .map(e => (e._1, e._2)).toSeq
      }
    }

  /** Per-stream journal depth for the `/metrics` surface:
    * stream -> (entries, bytes). Streams that have never journaled (or whose
    * journal is not yet memory-seeded this process) are simply absent —
    * metrics must not force-seed state for idle streams.
    */
  def journalStats: Map[String, (Int, Long)] = {
    val b = Map.newBuilder[String, (Int, Long)]
    journals.forEach { (s, j) =>
      b += s -> j.synchronized((j.entries.length, j.bytes))
    }
    b.result()
  }

  /** Attached streaming queries still running (the `/metrics` surface). */
  def activeStreamCount: Int =
    activeStreams.synchronized(activeStreams.count(_.isActive))

  private def appendJournal(stream: String, batch: DataFrame): Unit = {
    val j = journalOf(stream)
    val dir = journalDirOf(stream)
    // The entry is WRITTEN outside the per-stream lock — the Spark job is
    // the expensive part, and holding the monitor across it serialized
    // concurrent same-stream inserts and blocked follower polls for its
    // whole duration (measured 1.31× ingest overhead). The tmp name is
    // unique per append (not marker-derived: the marker isn't allocated
    // yet); the lock below only allocates the marker and publishes with a
    // same-dir rename, so publish order = lock order and markers stay
    // dense and monotonic. Entries are gzip-compressed (JSON lines squeeze
    // ~5-10×, so the byte-capped horizon reaches correspondingly further
    // back); executors serialize + compress their own partitions in
    // parallel. Explicit file:// URI: the store is java.nio-managed local
    // fs, and a non-local fs.defaultFS must not silently split the write
    // (Spark side) from the publish (nio side).
    val tmp = dir.resolve(
      s".tmp-${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}")
    var writeErr: Exception = null
    try {
      // dir creation sits inside the same guard: the merge already
      // committed, so NOTHING on the journal path may fail the insert
      java.nio.file.Files.createDirectories(dir)
      batch.toJSON.storeWrite.mode(SaveMode.Overwrite)
        .option("compression", "gzip").text(tmp.toUri.toString)
    } catch {
      case e: Exception =>
        writeErr = e
        try GraftDB.deleteRecursively(tmp) catch { case _: Exception => () }
    }
    // prune targets are HIDDEN under the lock but deleted after release —
    // recursive file deletion needs no ordering guarantee once renamed away
    val toDelete = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    j.synchronized {
      j.seq += 1
      val seq = j.seq
      val target = dir.resolve(s"$seq.jsonl")
      if (writeErr == null) {
        try java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case e: Exception =>
            writeErr = e
            try GraftDB.deleteRecursively(tmp) catch { case _: Exception => () }
        }
      }
      if (writeErr != null) {
        // the merge already committed — the journal is the follower feed,
        // not the store of record, so a failed append must not fail the
        // insert (the client would retry and double-merge). Publish an
        // EMPTY entry stamped `_FAILED` so markers stay dense (a burned
        // marker would wedge every resuming follower on a permanent replay
        // gap) AND the loss is loud: the RPC layer turns the stamp into a
        // `WARN missed <marker>` frame so a follower knows a committed
        // batch never reached the feed and can trigger a re-sync. If even
        // the stamp dir can't be created (disk full), the entry path won't
        // exist — readers treat a missing path as missed, never crash.
        try {
          java.nio.file.Files.createDirectories(target)
          java.nio.file.Files.createFile(target.resolve(GraftDB.FailedStamp))
        } catch { case _: Exception => () }
        System.err.println(s"graft: follow journal append failed for " +
          s"'$stream' marker $seq: ${writeErr.getMessage}")
      }
      val sz = GraftDB.sizeOf(target)
      j.entries += ((seq, target, sz))
      j.bytes += sz
      // bound the replay horizon: keep at most MaxEntries / MaxBytes of
      // history (oldest pruned first; the newest entry always survives). A
      // follower that falls behind the horizon is disconnected with a gap
      // error rather than fed a silently-incomplete stream. Pruning HIDES
      // the entry with an atomic rename before deleting its contents: a
      // concurrent replay mid-read then fails loud (NoSuchFile → ERR frame)
      // instead of streaming a truncated batch flagged `end`.
      var pruneOk = true
      while (pruneOk &&
          (j.entries.length > GraftDB.FollowJournalMaxEntries ||
          (j.bytes > GraftDB.FollowJournalMaxBytes && j.entries.length > 1))) {
        val (m, p, sz0) = j.entries.head
        try {
          val hidden = p.resolveSibling(s".del-$m")
          java.nio.file.Files.move(p, hidden,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          toDelete += hidden
          j.entries.removeHead()
          j.bytes -= sz0
        } catch {
          // still visible + counted; retry next append
          case _: Exception => pruneOk = false
        }
      }
    }
    toDelete.foreach(p =>
      try GraftDB.deleteRecursively(p) catch { case _: Exception => () })
  }

  /** Attach a streaming source to every table over the stream. Each table
    * gets its own checkpointed foreachBatch merge (offset tracking ≅ the
    * reference's per-table WAL offsets, row_store.go:455-530).
    */
  private val activeStreams =
    scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]

  def attachStream(stream: String, df: DataFrame, checkpointBase: String,
                   trigger: Option[Trigger] = None): Seq[StreamingQuery] = {
    val qs = tablesForStream(stream).map { t =>
      // maxflushlatency (table.go:41-45) maps to the micro-batch trigger
      val trig = trigger.getOrElse(Trigger.ProcessingTime(
        t.config.maxFlushLatencyMillis.getOrElse(1000L)))
      t.sink(df, s"$checkpointBase/${t.config.name}", trig)
    }
    activeStreams.synchronized { activeStreams ++= qs }
    qs
  }

  /** Conform a pruned read to the committed union schema: manifest-schema
    * reads come back already conformed; a LEGACY store (no schema line) may
    * serve pruned subsets predating a live ALTER — missing columns read as
    * NULL (= unset). None (nothing overlaps the prune) serves an empty
    * relation with the full schema.
    */
  private def conform(read: Option[org.apache.spark.sql.DataFrame],
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String]): org.apache.spark.sql.DataFrame = read match {
    case None => spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    case Some(p) =>
      val have = p.columns.toSet
      val aligned = schema.fields.foldLeft(p) { (acc, f) =>
        if (have(f.name)) acc
        else acc.withColumn(f.name,
          org.apache.spark.sql.functions.lit(null).cast(f.dataType))
      }
      aligned.select(cols.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Catalog of the materialized state, for the planner. Built from the
    * manifests' committed schemas ONLY — no relation is constructed and no
    * file listed here, so planning stays O(1) in store size; a query forces
    * exactly the relation (full or day-pruned) it scans.
    */
  def catalog: Catalog =
    catalogWith(annIndexes.synchronized(annIndexes.toMap))

  /** [[catalog]] with the ANN registry pinned to a caller-held snapshot:
    * [[preQuery]] takes the snapshot at LEASE time and threads it into
    * planning, so the path a query's lease pins and the path its plan scans
    * cannot diverge when a maintenance flip lands in between.
    */
  private def catalogWith(ann: Map[String, AnnIndexDef]): Catalog = {
    val defs = tables.flatMap { case (name, t) =>
      t.storedSchema().map { schema =>
        val cols = schema.fieldNames.toSeq
        TableDef(
          name = name,
          dfFn = () => t.read().get,
          timeCol = Some("_time"),
          dims = cols.filterNot(c =>
            c == "_time" || c == "__bucket" || c.startsWith("__a")),
          vals = t.tableFields.map(_.name),
          bucketSpec = t.storedBucketSpec(),
          fieldAgg = Map.empty,
          hasPointsCol = false,
          resolution = t.query.resolution,
          retentionMillis = t.config.retentionMillis,
          stored = Some(Builders.StoredDef(t.tableFields)),
          dimTypes = schema.fields.map(f => f.name -> f.dataType).toMap,
          timePrune = Some { (lo, hi) =>
            conform(t.readPruned(lo, hi), schema, cols)
          },
          bucketPrune = Some { (lo, hi, ks) =>
            conform(t.readBuckets(lo, hi, ks), schema, cols)
          })
      }
    }
    // externals never shadow materialized tables of the same name
    val withExternal = externalTables.synchronized {
      externalTables.values.filterNot(e => defs.exists(_.name == e.name))
        .toSeq
    } ++ defs
    ann.foldLeft(new Catalog(withExternal.map(d => d.name -> d).toMap)) {
      case (c, (n, d)) => c.addAnn(n, d)
    }
  }

  // External (non-materialized) relations reachable from the dialect:
  // reference/corpus parquet tables or in-memory frames joinable with the
  // materialized state — and the resolution target for a PQ maintenance
  // spec's `sourceTable` and SIMSEARCH's `annbase:`/TABLE arguments.
  private val externalTables =
    scala.collection.mutable.Map.empty[String, TableDef]

  /** Register an external DataFrame as a dialect-queryable table (columns
    * classified like any raw source: float columns are measures, the rest
    * dims). Materialized tables of the same name win.
    */
  def registerTable(name: String, df: DataFrame): Unit =
    externalTables.synchronized {
      externalTables(name.toLowerCase) = Catalog.classify(name.toLowerCase, df)
    }

  // ANN indexes reachable from the dialect's SIMSEARCH table function —
  // a curation analyst at the query console can then run
  //   SELECT score FROM SIMSEARCH('idx', [..], 10, 4) WHERE label = 2
  // without touching the Scala API. Registration is name -> (path,
  // column names); the probe reloads the frozen centroids from the
  // index's own meta per query (one tiny driver-side file read).
  private val annIndexes =
    scala.collection.mutable.Map.empty[String, AnnIndexDef]

  def registerAnnIndex(name: String, path: String, vecCol: String,
                       idCol: String, quantized: Boolean = true,
                       baseTable: Option[String] = None,
                       refineK: Int = 0): Unit =
    annIndexes.synchronized {
      // file:-scheme spellings normalize at entry, like enroll(): the
      // probe's driver-side meta read and the serving-pin guards both
      // need the plain local path
      annIndexes(name.toLowerCase) =
        AnnIndexDef(stripFileScheme(path), vecCol, idCol, quantized,
          baseTable, refineK)
    }

  /** Drain every attached stream's delivered-but-unprocessed data into
    * the queryable state: table-merge streams AND enrolled
    * index-maintenance streams. This is the reference's `DB.FlushAll`
    * (/root/reference/zenodb.go:312-321) — its memstore flush maps to our
    * un-committed micro-batches — and the same mechanic the
    * `-- force_fresh` query hint applies per-query.
    */
  def flushAll(): Unit = {
    val tableStreams =
      activeStreams.synchronized { activeStreams.filter(_.isActive).toSeq }
    val indexStreams =
      maintained.synchronized { maintained.values.flatMap(_.stream).toSeq }
    (tableStreams ++ indexStreams.filter(_.isActive))
      .foreach(_.processAllAvailable())
  }

  /** Per-query entry work of [[sql]] and [[runQuery]]; parses once.
    *
    * `-- force_fresh` (sql/sql.go:279-283): drain attached streams so the
    * query sees every point delivered so far (≅ includeMemStore reads) —
    * BOTH the table-merge streams and any enrolled index-maintenance
    * streams (a SIMSEARCH after force_fresh must see every vector already
    * delivered to an attached AnnIndexStream, the same contract).
    *
    * Every maintained ANN index the query's SIMSEARCH calls reference
    * (including inside FROM- and IN-subqueries) gets a reader lease on its
    * CURRENT path: a concurrent maintenance flip then cannot GC the
    * generation this query resolved until the lease is released — the
    * reference's "unless an iteration holds them" retention
    * (row_store.go:681-725). Returns the parse, the leases (the caller
    * releases them when done) and the catalog.
    */
  private def preQuery(query: String): (Query, Seq[AutoCloseable], Catalog) = {
    val parsed = Parser.parse(query)
    if (parsed.forceFresh) flushAll()
    sweepExpiredLeases()
    // ONE registry snapshot serves both the leases and the plan: the pinned
    // path and the scanned path are the same by construction — a flip
    // landing between the pin and planning re-points the registry, not this
    // query (it finishes against the generation its leases protect)
    val names = simSearchNames(parsed)
    val annSnap = annIndexes.synchronized { annIndexes.toMap }
    val pins = names.toSeq.flatMap(annSnap.get).map(_.path).map(pinPath)
    queryHook(query)
    (parsed, pins, catalogWith(annSnap))
  }

  /** ANN index names referenced by the query's SIMSEARCH table functions,
    * recursing through FROM-subqueries and IN-subqueries.
    */
  private def simSearchNames(q: Query): Set[String] = {
    import graft.sqlx._
    def ofD(d: DExpr): Set[String] = d match {
      case DAnd(l, r)        => ofD(l) ++ ofD(r)
      case DOr(l, r)         => ofD(l) ++ ofD(r)
      case DNot(e)           => ofD(e)
      case DInSub(_, sub, _) => simSearchNames(sub)
      case _                 => Set.empty
    }
    val fromNames = q.from match {
      case FromSimSearch(n, _, _, _, _) => Set(n.toLowerCase)
      case FromSub(sub)                 => simSearchNames(sub)
      case _                            => Set.empty
    }
    fromNames ++ q.where.map(ofD).getOrElse(Set.empty)
  }

  /** Test seam: runs after [[preQuery]] acquired its leases, before the
    * engine plans — lets a test hold a query mid-flight across a
    * maintenance flip deterministically (the crashHook pattern).
    */
  @volatile private[graft] var queryHook: String => Unit = _ => ()

  def sql(query: String): DataFrame = {
    val (parsed, pins, cat) = preQuery(query)
    val df =
      try rethrowIfGcLoss(Engine.plan(cat, parsed, now))
      catch { case e: Throwable => pins.foreach(_.close()); throw e }
    if (pins.nonEmpty) transferLeasesToExecution(df, pins)
    df
  }

  /** Lease lifetime for a LAZILY consumed [[sql]] frame: the query's reader
    * leases are released when the frame's first action completes (success
    * or failure), via a QueryExecutionListener keyed on this exact frame's
    * QueryExecution — so a caller collecting the frame several maintenance
    * ticks after issue still scans a live generation. Two backstops bound
    * the cases this listener can't see: (1) a frame that is re-executed,
    * or executed through a DERIVED frame (`df.write`, further transforms,
    * `df.count()` after a first collect), is released here only for its
    * first direct action — every later execution is protected instead by
    * [[execPinListener]], which re-pins the scanned generations at
    * SQL-execution start; (2) a frame never executed at all would pin
    * forever, so the issue-time leases also auto-expire after
    * `graft.queryLeaseGraceMillis` (default 15 min) — swept by
    * [[maintenanceTick]], visible as leasedGc in /metrics until then.
    * The reference's analogue is an iteration holding row files until
    * closed (row_store.go:681-725).
    */
  private def transferLeasesToExecution(
      df: DataFrame, pins: Seq[AutoCloseable]): Unit = {
    val qe = df.queryExecution
    val deadline = System.nanoTime() +
      java.lang.Long.getLong("graft.queryLeaseGraceMillis", 900000L) * 1000000L
    val hold = new LeaseHold(deadline, pins)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def done(
          qe2: org.apache.spark.sql.execution.QueryExecution): Unit =
        if (qe2 eq qe) releaseHold(hold)
      override def onSuccess(funcName: String,
          qe2: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = done(qe2)
      override def onFailure(funcName: String,
          qe2: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = done(qe2)
    }
    hold.listener = listener
    expiringLeases.synchronized { expiringLeases += hold }
    spark.listenerManager.register(listener)
  }

  // Leases of issued sql() frames awaiting their first execution. Fully
  // reclaimed on EITHER path: the execution listener releases at action
  // completion (and unregisters itself + drops the entry immediately, so
  // executed frames don't linger until their deadline), and the grace
  // sweep catches frames never executed. Swept from BOTH preQuery and
  // maintenanceTick — a db with no maintenance enrollments must not let
  // abandoned frames accumulate holds/listeners.
  private final class LeaseHold(val deadline: Long,
      val pins: Seq[AutoCloseable]) {
    @volatile var listener: org.apache.spark.sql.util.QueryExecutionListener =
      null
  }
  private val expiringLeases =
    scala.collection.mutable.Buffer.empty[LeaseHold]

  private def releaseHold(h: LeaseHold): Unit = {
    h.pins.foreach(p => try p.close() catch { case _: Exception => () })
    val l = h.listener
    h.listener = null
    if (l != null)
      try spark.listenerManager.unregister(l) catch { case _: Exception => () }
    expiringLeases.synchronized { expiringLeases -= h }
  }

  private def sweepExpiredLeases(): Unit = {
    val nowNs = System.nanoTime()
    val expired = expiringLeases.synchronized {
      expiringLeases.filter(_.deadline <= nowNs).toList
    }
    expired.foreach(releaseHold)
  }

  // ---- self-driving index maintenance ---------------------------------
  //
  // The reference's daemon runs its own flush/retention loops (zenodb.go
  // table timers) — nothing external calls them. The index lifecycle's
  // analogue: registered indexes get their maintainIndex pass run
  // periodically by the Server's maintenance thread (--maintain-interval),
  // each pass measuring its trigger statistic (fragmentation for the dedup
  // family, probed fraction for ANN) and compacting / re-clustering
  // blue/green only when over bound. Generations are numbered off the base
  // path (`-g1`, `-g2`, …); after a flip the registry tracks the active
  // path (and re-points the SIMSEARCH registration of the same name, so
  // dialect queries follow the flip), and the attached maintenance stream
  // is restarted against the dest by the registered `restart`.

  private sealed trait MaintSpec
  private final case class DedupMaint(maxFilesPerPrefix: Int) extends MaintSpec
  private final case class AnnMaint(vecCol: String, idCol: String,
                                    nProbe: Int, scanBudget: Double)
      extends MaintSpec
  // IVF-PQ: a codes-only index cannot re-cluster from itself, so the spec
  // names the CATALOG TABLE holding the original vectors; the tick resolves
  // it to a DataFrame at rebuild time (the corpus definition can thus be a
  // live materialized table that keeps growing between ticks)
  private final case class PqMaint(sourceTable: String, vecCol: String,
                                   idCol: String, nProbe: Int,
                                   scanBudget: Double) extends MaintSpec
  private final class MaintState(
      val basePath: String, var spec: MaintSpec,
      var activePath: String, var gen: Int,
      var stream: Option[org.apache.spark.sql.streaming.StreamingQuery],
      var restart: Option[String => org.apache.spark.sql.streaming.StreamingQuery],
      var gcOldGenerations: Boolean,
      // superseded generations awaiting GC: deleted at the start of a LATER
      // tick (at least one full period for readers of the old path to
      // drain), and only once no reader lease pins them — the blue/green
      // contract's "caller deletes after readers drain", automated for the
      // daemon-owned case with in-flight queries tracked by [[pinPath]]
      val pendingDeletes: scala.collection.mutable.ArrayBuffer[String] =
        scala.collection.mutable.ArrayBuffer.empty,
      // claimed by a tick for the duration of its (unlocked) Spark pass:
      // overlapping ticks (daemon + a manual one-shot) skip a claimed index
      // instead of double-compacting it
      var inFlight: Boolean = false)
  private val maintained =
    scala.collection.mutable.LinkedHashMap.empty[String, MaintState]

  // superseded generations whose enrollment was detached or re-pointed
  // before their GC completed: a schema detach or a re-enrollment at a new
  // base path moves the old state's pendingDeletes here instead of dropping
  // them, and every maintenance tick drains this queue first (lease-checked,
  // per-path error capture) — so lifecycle churn never strands a queued
  // generation on disk.
  // Unlike pendingDeletes (re-derived from disk by the next enrollment's
  // staleSiblings scan), an orphan has NO surviving owner to re-derive it —
  // a restart between the detach and the next tick would leak the dir
  // forever. The queue therefore persists to $baseDir/_orphan_gc.txt (one
  // path per line, atomic tmp+move rewrite after each change) and reloads
  // at construction; reloaded entries that were already deleted drain as
  // no-ops on the next tick.
  private val orphanGcFile =
    java.nio.file.Paths.get(baseDir, "_orphan_gc.txt")
  private val baseDirCanon =
    java.nio.file.Paths.get(baseDir).toAbsolutePath.normalize

  /** Canonical form for every path the orphan GC queue stores or compares:
    * absolute + normalized. A RELATIVE registration path persisted verbatim
    * and reloaded after a restart from a different working directory would
    * resolve elsewhere — and the equality guards against actives/serving/
    * leases (which hold the caller's original spelling) would miss — so the
    * drain could recursively delete an unrelated directory. Canonicalizing
    * at every enqueue AND on both sides of every comparison makes the
    * queue's identity independent of spelling and of the enqueuing
    * process's CWD. Symlinked spellings are intentionally NOT resolved
    * (`toRealPath` would make an entry's canonical form change when the
    * underlying dir is deleted mid-lifecycle, breaking self-equality):
    * register each index under one physical path.
    */
  private def canonPath(p: String): String =
    java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString

  /** `file:`-scheme spellings are accepted anywhere an index path
    * registers: Hadoop prints plan roots as `file:/...`, and a
    * registration spelled that way must resolve, list siblings, pin, and
    * GC exactly like its plain-path twin — so normalize to the plain
    * local path at entry. Non-file schemes pass through untouched (an
    * object-store path can't be listed or deleted by the local
    * maintenance machinery; it still compares consistently via
    * [[canonKey]]).
    */
  private def stripFileScheme(p: String): String =
    if (p.startsWith("file:")) {
      val u = try new java.net.URI(p) catch { case _: Exception => null }
      if (u != null && u.getScheme == "file" &&
          u.getPath != null && u.getPath.nonEmpty) u.getPath
      else p
    } else p

  /** Canonical COMPARISON key for every GC/pin decision. Plain local
    * paths and `file:` URIs canonicalize to the absolute normalized local
    * path; any other scheme keeps scheme + authority + normalized path —
    * so a store on an object store or HDFS pins by its full URI and can
    * never cross-match a local path (or another filesystem's path) that
    * happens to share the directory suffix. Before r20 only the URI's
    * path component was compared, which both silently no-op'd pins off
    * local FS and let `s3a://bucket/x` collide with `hdfs://nn/x`.
    */
  private def canonKey(p: String): String = {
    val colon = p.indexOf(':')
    val hasScheme = colon > 0 && colon + 1 < p.length && p(colon + 1) == '/' &&
      p.head.isLetter &&
      p.substring(0, colon).forall(c => c.isLetterOrDigit || "+.-".contains(c))
    if (!hasScheme) canonPath(p)
    else {
      val u = try new java.net.URI(p) catch { case _: Exception => null }
      if (u == null || u.getScheme == null) canonPath(p)
      else if (u.getScheme == "file")
        canonPath(Option(u.getPath).filter(_.nonEmpty)
          .getOrElse(p.stripPrefix("file:")))
      else {
        val norm = java.nio.file.Paths.get(
          Option(u.getPath).filter(_.nonEmpty).getOrElse("/"))
          .normalize.toString
        s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}$norm"
      }
    }
  }

  // entries the reload REFUSED (original line spellings) — surfaced on the
  // `_orphans` tick row and kept for the process lifetime, since a corrupt
  // durable queue is an operator problem, not a transient
  private val orphanReloadRejected =
    scala.collection.mutable.ArrayBuffer.empty[String]

  private val orphanGc: scala.collection.mutable.ArrayBuffer[String] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[String]
    if (java.nio.file.Files.exists(orphanGcFile)) {
      val it = java.nio.file.Files.readAllLines(orphanGcFile).iterator()
      while (it.hasNext) {
        val line = it.next().trim
        if (line.nonEmpty) {
          // entries under baseDir are persisted RELATIVE to it (so a moved
          // baseDir tree still drains its own orphans instead of stranding
          // them as permanent no-op entries); absolute entries are indexes
          // registered outside the store tree. Either way the in-memory
          // form is canonical-absolute.
          val p = java.nio.file.Paths.get(line)
          val abs =
            if (p.isAbsolute) p.normalize
            else baseDirCanon.resolve(p).normalize
          // the file is on-disk state anything can corrupt — the same
          // trust class as schema yaml. The drain RECURSIVELY DELETES
          // entries, so the reload refuses anything the engine could not
          // have written: a relative entry is only ever persisted for a
          // store resident, so one resolving OUTSIDE baseDir (e.g. "..")
          // would aim the drain at an arbitrary directory; an absolute
          // entry that IS the store or an ancestor of it (including "/")
          // would delete the store itself.
          val legal =
            if (p.isAbsolute) !baseDirCanon.startsWith(abs)
            else abs.startsWith(baseDirCanon) && abs != baseDirCanon
          if (!legal) orphanReloadRejected += line
          else {
            val s = abs.toString
            if (!b.contains(s)) b += s
          }
        }
      }
    }
    b
  }

  /** `_orphan_gc.txt` lines the reload refused (spelled as found): entries
    * that escape the store tree or name the store/an ancestor of it —
    * paths the engine never writes, whose recursive delete would destroy
    * data the queue doesn't own. Surfaced on the `_orphans` tick row.
    */
  def orphanGcReloadRejects: Seq[String] =
    orphanReloadRejected.toList

  /** Most recent [[persistOrphanGc]] failure, cleared by the next success.
    * While set, the orphan queue's RESTART durability is degraded (the
    * in-memory queue still drains this process) — surfaced on the
    * `_orphans` tick status row and in `/metrics` `orphanGc` so a wedged
    * `_orphan_gc.txt` (read-only fs, disk full) is loud, not silent.
    */
  @volatile private var orphanPersistError: Option[String] = None

  /** Test seam: runs before each [[persistOrphanGc]] file write — lets a
    * spec inject a persistence failure (read-only-fs conditions are hard
    * to stage as root), mirroring [[gcDeleteHook]].
    */
  @volatile private[graft] var orphanPersistHook: () => Unit = () => ()

  /** Rewrite the durable twin of [[orphanGc]]. Call with the queue's lock
    * held. Best-effort: a persistence failure never fails the mutation —
    * the in-memory queue still drains this process; only restart durability
    * is degraded (recorded in [[orphanPersistError]] until a later rewrite
    * succeeds).
    */
  private def persistOrphanGc(): Unit =
    try {
      orphanPersistHook()
      val parent = orphanGcFile.getParent
      if (parent != null) java.nio.file.Files.createDirectories(parent)
      val tmp = orphanGcFile.resolveSibling("_orphan_gc.txt.tmp")
      // persist baseDir-residents relative to baseDir: the queue must
      // survive the whole store tree being moved or re-mounted elsewhere
      java.nio.file.Files.write(tmp,
        orphanGc.map { s =>
          val p = java.nio.file.Paths.get(s)
          if (p.startsWith(baseDirCanon) && p != baseDirCanon)
            baseDirCanon.relativize(p).toString
          else s
        }.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, orphanGcFile,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      orphanPersistError = None
    } catch { case e: Exception =>
      orphanPersistError = Some(
        s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Stop+await a replaced or detached enrollment's attached stream (same
    * contract as the flip's quiesce): an unstopped writer would keep
    * appending to a path its old queue is about to GC. `keep` guards the
    * same-instance re-attach no-op.
    */
  private def quiesceStream(old: Option[StreamingQuery],
      keep: Option[StreamingQuery]): Unit =
    old.filter(_.isActive).filterNot(o => keep.exists(_ eq o)).foreach { q =>
      try { q.stop(); q.awaitTermination() }
      catch { case _: Exception => () }
    }

  /** Capture-and-null a state's attached stream under its monitor: the
    * caller quiesces the returned handle AFTER releasing every registry
    * lock. One primitive for all detach paths, so the exactly-once-
    * quiesce invariant has a single definition.
    */
  private def detachStream(st: MaintState): Option[StreamingQuery] =
    st.synchronized { val s = st.stream; st.stream = None; s }

  /** Hand a no-longer-reachable state's queued generations to the durable
    * orphan queue — canonicalized and de-duplicated (a detach/re-enroll
    * cycle replaying the same superseded dir must be a no-op, never a
    * double entry). Callers invoke this OUTSIDE the `maintained` registry
    * lock: the persist is filesystem I/O, and holding the registry monitor
    * across it blocked every registration and [[maintainedState]] read.
    */
  private def orphanPendingDeletes(st: MaintState): Unit = {
    val moved = st.synchronized {
      val ps = st.pendingDeletes.toList; st.pendingDeletes.clear(); ps
    }
    if (moved.nonEmpty) orphanGc.synchronized {
      val fresh = moved.map(canonPath).distinct.filterNot(orphanGc.contains)
      if (fresh.nonEmpty) {
        orphanGc ++= fresh
        persistOrphanGc()
      }
    }
  }

  /** Shared enrollment core for the three register*Maintenance fronts.
    * A re-enrollment at the SAME declared base path (an ALTER tuning
    * maintainbudget / maintainnprobe / maintainsource / maintaingc, or a
    * programmatic re-register) updates the policy IN PLACE — generation
    * state (activePath/gen), the attached stream, and the GC queue all
    * survive, so config changes apply live without a process restart. A
    * re-enrollment at a DIFFERENT base path replaces the state, handing the
    * old queue to [[orphanGc]].
    */
  private def enroll(name: String, rawPath: String, spec: MaintSpec,
      stream: Option[org.apache.spark.sql.streaming.StreamingQuery],
      restart: Option[String => org.apache.spark.sql.streaming.StreamingQuery],
      gcOldGenerations: Boolean): Unit = {
    // a file:-scheme spelling registers as its plain local path, so
    // generation discovery, sibling listing, and GC all run against the
    // real directory (and an in-place retune spelled either way matches)
    val path = stripFileScheme(rawPath)
    // a REMOTE scheme (s3a://, hdfs://) must refuse GC-enabled enrollment
    // loudly: the maintenance machinery lists siblings and deletes
    // generations through java.nio, which silently no-ops on a URI it
    // can't resolve — on an object store that means old generations leak
    // forever while the tick reports success. Pins/guards already compare
    // remote URIs correctly (canonKey); the LISTING/DELETE side needs a
    // Hadoop FileSystem integration before this require can drop.
    if (gcOldGenerations) require(canonKey(path) == canonPath(path),
      s"maintaingc requires a local filesystem index path; got '$rawPath' " +
        "— generation listing/GC runs on the local FS (object-store " +
        "maintenance needs a Hadoop FileSystem integration)")
    // the first enrollment makes GC possible — from here on, in-flight
    // executions pin the generations their plans scan
    ensureExecPinListener()
    // a re-ALTER turning GC ON must re-derive the queue from disk,
    // exactly like a fresh enrollment: generations superseded while GC
    // was OFF have no other owner to queue them, and without this they
    // stay stranded until a process restart re-enrolls and rescans. The
    // DECISION is taken under the state's monitor below; the directory
    // listing itself runs after the registry lock is released
    // (filesystem I/O must not block registrations or maintainedState
    // reads), with the append re-checking reachability.
    var rescanFrom: Option[(MaintState, String)] = None
    // fresh-enrollment discovery obeys the same discipline as the
    // gcTurnedOn rescan: the directory listings run OUTSIDE the registry
    // lock. Precomputed optimistically — an in-place retune ignores them
    // (ALTERs are control-plane-rare, the wasted listing is cheap), and a
    // dir the orphan drain deletes between this scan and the lock just
    // queues a no-op delete (gcDelete checks existence).
    val (preActive, preGen) = discoverGeneration(path)
    val preStale =
      if (gcOldGenerations) staleSiblings(path, preActive) else Nil
    // a replaced stream is quiesced AFTER releasing the registry lock:
    // stop()+awaitTermination() waits for the in-flight micro-batch, and a
    // batch calling any maintained-locking API (maintainedState, a nested
    // register) would deadlock against this monitor
    val (replaced, replacedState): (Option[StreamingQuery], Option[MaintState]) =
      maintained.synchronized {
        maintained.get(name).filter(_.basePath == path) match {
          case Some(st) =>
            val old = st.synchronized {
              val gcTurnedOn = gcOldGenerations && !st.gcOldGenerations
              st.spec = spec
              st.gcOldGenerations = gcOldGenerations
              if (gcTurnedOn) rescanFrom = Some((st, st.activePath))
              val o = if (stream.isDefined) {
                val s = st.stream; st.stream = stream; s
              } else None
              if (restart.isDefined) st.restart = restart
              o
            }
            (old, None)
          case None =>
            val oldState = maintained.get(name)
            val old = oldState.flatMap(detachStream)
            val st = new MaintState(path, spec, preActive, preGen, stream,
              restart, gcOldGenerations)
            // the GC QUEUE is restart-durable too: pendingDeletes lives in
            // memory, so a restart between a flip and its GC would leak the
            // superseded generation forever. gcOldGenerations is a DECLARED
            // intent, so a fresh enrollment re-derives the queue from disk —
            // every sibling generation that is not the discovered active
            // (the GC'able base, generations a crash left behind, incomplete
            // dests of crashed flips) re-queues, lease-checked as always.
            if (gcOldGenerations) st.pendingDeletes ++= preStale
            maintained(name) = st
            (old, oldState)
        }
      }
    quiesceStream(replaced, keep = stream)
    // the replaced state's queue moves to the orphan GC outside the
    // registry lock (persist = file I/O) and after the quiesce (no writer
    // may survive a queue entry's enqueue)
    replacedState.foreach(orphanPendingDeletes)
    // GC-turned-on rescan, off every registry lock. A flip landing since
    // the snapshot may have changed the active — the drain-time backstop
    // (pendingDeletes never contains the CURRENT active) and the flip's
    // dest purge keep a now-live generation out of the GC. If a
    // concurrent re-enrollment replaced the state meanwhile, the scanned
    // directories have no surviving owner — orphan them like any other
    // unreachable queue.
    rescanFrom.foreach { case (st, active) =>
      val stale = staleSiblings(path, active)
      if (stale.nonEmpty) {
        val reachable =
          maintained.synchronized { maintained.get(name).exists(_ eq st) }
        if (reachable) st.synchronized {
          st.pendingDeletes ++= stale.filterNot(st.pendingDeletes.contains)
        } else orphanGc.synchronized {
          val fresh =
            stale.map(canonPath).distinct.filterNot(orphanGc.contains)
          if (fresh.nonEmpty) { orphanGc ++= fresh; persistOrphanGc() }
        }
      }
    }
  }

  /** Enumerate on-disk `<base>-gN` sibling generations:
    * (path, parsed N, complete?). ONE enumeration serves both
    * [[discoverGeneration]] and [[staleSiblings]] so they can never
    * disagree about what counts as a generation, and the returned path
    * preserves the ACTUAL listed suffix — a zero-padded `-g01` resolves
    * and GCs as itself, never re-spelled `-g1` (which would point the
    * registration at a nonexistent dir while queueing the real one for
    * deletion).
    */
  private def generationSiblings(basePath: String)
      : Seq[(String, Int, Boolean)] = {
    val base = java.nio.file.Paths.get(basePath).toAbsolutePath
    val parent = base.getParent
    val prefix = base.getFileName.toString + "-g"
    val out =
      scala.collection.mutable.ArrayBuffer.empty[(String, Int, Boolean)]
    if (parent != null && java.nio.file.Files.isDirectory(parent)) {
      val st = java.nio.file.Files.list(parent)
      try {
        val it = st.iterator()
        while (it.hasNext) {
          val p = it.next()
          val nm = p.getFileName.toString
          val suffix = nm.stripPrefix(prefix)
          // validity is by VALUE, not name length: a generation number
          // the engine could have written is any non-negative Int below
          // Int.MaxValue (dest numbering needs +1 headroom). Anything
          // else (e.g. a timestamp-suffixed backup like -g20260815120000)
          // is a directory the engine could NOT have created, so it is
          // ignored entirely — never discovered, never GC'd.
          if (nm.startsWith(prefix) && suffix.nonEmpty &&
              suffix.forall(_.isDigit)) {
            suffix.toLongOption
              .filter(v => v >= 0 && v < Int.MaxValue)
              .foreach { v =>
                out += ((s"$basePath-g$suffix", v.toInt,
                  pipeline.IndexMeta.complete(p)))
              }
          }
        }
      } finally st.close()
    }
    out.toSeq
  }

  /** On-disk generations of `basePath` other than `active`: the base dir
    * itself (when superseded) and every `<base>-gN` sibling, complete or
    * not — a crashed flip's incomplete dest is garbage by the meta-sentinel
    * contract (its writer is gone; the next flip to that number rewrites
    * it from scratch anyway).
    */
  private def staleSiblings(basePath: String, active: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    if (basePath != active && java.nio.file.Files.exists(
        java.nio.file.Paths.get(basePath).toAbsolutePath))
      out += basePath
    out ++= generationSiblings(basePath).collect {
      case (p, _, _) if p != active => p
    }
    out.toSeq
  }

  // ---- reader leases: generation-GC safety -----------------------------
  // path -> count of in-flight readers pinning it against generation GC.
  private val pathLeases = scala.collection.mutable.Map.empty[String, Int]

  /** Pin `path` against [[maintenanceTick]]'s old-generation GC: a pinned
    * generation survives flips until every lease is closed (then the next
    * tick deletes it). Queries through [[sql]]/[[sqlTimed]]/[[sqlWithStats]]
    * pin their SIMSEARCH indexes automatically; embedded callers holding a
    * DataFrame over a maintained path across ticks pin it explicitly:
    * {{{
    * val lease = db.pinPath(db.maintainedState("idx").get._1)
    * try df.collect() finally lease.close()
    * }}}
    */
  def pinPath(path: String): AutoCloseable = {
    pathLeases.synchronized {
      pathLeases(path) = pathLeases.getOrElse(path, 0) + 1
    }
    new AutoCloseable {
      private var closed = false
      def close(): Unit = pathLeases.synchronized {
        if (!closed) {
          closed = true
          val n = pathLeases.getOrElse(path, 1) - 1
          if (n <= 0) pathLeases.remove(path) else pathLeases(path) = n
        }
      }
    }
  }

  /** Canonical forms of every currently leased path — the comparison set
    * for ALL GC decisions, so a lease taken under one spelling protects
    * the directory under any spelling.
    */
  private def leasedCanon(): Set[String] =
    pathLeases.synchronized(pathLeases.keysIterator.map(canonKey).toSet)

  /** True when `guards` names `entryCanon` itself OR any path UNDER it.
    * The drains delete RECURSIVELY, so an entry that is an ancestor of a
    * guarded (leased/serving/active) path is exactly as protected as the
    * path — exact-equality alone would let a queue entry naming a parent
    * directory take a live generation down with it.
    */
  private def coversOrContains(guards: Set[String],
      entryCanon: String): Boolean =
    guards.contains(entryCanon) ||
      guards.exists(_.startsWith(entryCanon + "/"))

  private[graft] def leaseCount(path: String): Int =
    pathLeases.synchronized(pathLeases.getOrElse(path, 0))

  // ---- execution-time generation pinning -------------------------------
  // Issue-time leases ([[transferLeasesToExecution]]) cover a sql() frame's
  // FIRST direct action. A DERIVED frame (df.write, further transforms) or
  // a re-execution after the first action used to be covered only by the
  // 15-minute grace window: past it, a maintenance flip + GC could delete
  // the generation under the scan and fail the action with a raw
  // FileNotFoundException (r18's documented residual). This listener
  // narrows the gap at the one point EVERY action passes — SQL-execution
  // start: it walks the execution's plan for file relations rooted in a
  // GC-able directory (queued per-index generations, orphan-queue entries,
  // and active generations a mid-execution flip could queue) and pins them
  // until execution end, so the GC defers deletion for as long as some
  // in-flight execution reads the directory — the reference's "unless an
  // iteration holds them" retention (row_store.go:681-725) applied to the
  // execution itself rather than the issuing call. The window is NARROWED,
  // not zero: the pin is taken on the (asynchronous) listener bus, so an
  // execution whose file scans begin before the start event is processed
  // can still race a concurrent tick — which is why BOTH GC drains re-check
  // the lease set immediately before each delete, and why a loss that
  // slips through everything rethrows with the actionable GC'd-generation
  // message ([[rethrowIfGcLoss]]) instead of a raw FileNotFound. The
  // listener registers lazily at the first maintenance enrollment (a db
  // that can never GC pays nothing per execution).

  private val execPins =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[AutoCloseable]]()

  /** Canonical candidate set: every directory this db's GC could delete
    * now or after one more flip. Bounded by enrollment count + queue
    * depths (driver-side metadata, a handful of entries).
    */
  private def gcablePaths(): Set[String] = {
    val states = maintained.synchronized { maintained.values.toList }
    val perIndex = states.flatMap(st =>
      st.synchronized(st.activePath :: st.pendingDeletes.toList))
    val orphans = orphanGc.synchronized { orphanGc.toList }
    (perIndex ++ orphans).map(canonKey).toSet
  }

  private val execPinListener = new org.apache.spark.scheduler.SparkListener {
    override def onOtherEvent(
        event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
      event match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          try {
            val candidates = gcablePaths()
            if (candidates.nonEmpty) {
              // the live QueryExecution is still registered while the
              // execution runs; a null here means it already finished —
              // nothing left to protect
              val qe = org.apache.spark.sql.execution.SQLExecution
                .getQueryExecution(s.executionId)
              if (qe != null) {
                val hit = scanRoots(qe).intersect(candidates)
                if (hit.nonEmpty)
                  execPins.put(s.executionId, hit.toSeq.map(pinPath))
              }
            }
          } catch { case _: Exception => () }
        case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          // the bus is FIFO: the end event always follows its start event,
          // so a taken pin is always released here (success OR failure)
          val pins = execPins.remove(e.executionId)
          if (pins != null)
            pins.foreach(p => try p.close() catch { case _: Exception => () })
        case _ => ()
      }
  }

  /** Root directories of the execution's file scans (canonical), walked on
    * the OPTIMIZED LOGICAL plan — unlike the physical plan it is not
    * rewrapped by adaptive execution, so the relations are reachable by a
    * plain traversal, and `collectWithSubqueries` reaches scans inside
    * IN-subqueries and FROM-subqueries.
    */
  private def scanRoots(
      qe: org.apache.spark.sql.execution.QueryExecution): Set[String] =
    try {
      qe.optimizedPlan.collectWithSubqueries {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              // the FULL URI feeds the key: file:-scheme roots compare as
              // local paths; any other scheme keeps scheme+authority so an
              // object-store generation pins (and can't cross-match)
              fs.location.rootPaths.map(p => canonKey(p.toString))
            case _ => Nil
          }
      }.flatten.toSet
    } catch { case _: Exception => Set.empty }

  /** Backstop for a LOST SparkListenerSQLExecutionEnd (the listener bus
    * drops events when its queue overflows under extreme load): any held
    * execution pin whose executionId no longer maps to a live
    * QueryExecution belongs to a finished execution — release it. This is
    * exact liveness, not a time heuristic: Spark removes the registry
    * entry in the execution's finally block, so a long-running execution
    * keeps its pin for exactly as long as it runs. Races with the end
    * handler are safe — [[pinPath]] closes are idempotent.
    */
  private def sweepDeadExecutionPins(): Unit = {
    val it = execPins.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (org.apache.spark.sql.execution.SQLExecution
          .getQueryExecution(e.getKey) == null) {
        it.remove()
        e.getValue.foreach(p =>
          try p.close() catch { case _: Exception => () })
      }
    }
  }

  private val execPinRegistered =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private def ensureExecPinListener(): Unit =
    if (execPinRegistered.compareAndSet(false, true))
      spark.sparkContext.addSparkListener(execPinListener)

  // schema-declared `annindex:` entries (and their `maintain:` enrollments)
  // register at boot — placed here so every registry they touch
  // (annIndexes, maintained, pathLeases) is initialized first (Scala runs
  // the class body in declaration order); live ALTERs re-register through
  // alter()
  locally {
    registerSchemaAnnIndexes(resolveSchema(schemaText))
    // a reloaded orphan queue can GC even with zero enrollments — those
    // drains must honor execution-time pins too
    if (orphanGc.synchronized(orphanGc.nonEmpty)) ensureExecPinListener()
  }

  /** Restart durability: discover the newest COMPLETE generation of a
    * maintained index from the blue/green naming scheme (`-g1`, `-g2`,
    * ...) so a re-enrollment after a daemon restart resumes at the
    * flipped generation instead of the (possibly GC'd) base path — the
    * reference's stores re-derive their generation from the manifest on
    * open (row_store.go); the index analogue re-derives it from the
    * sibling dirs. "Complete" is the families' shared meta-sentinel
    * contract: a generation is valid iff its meta file committed LAST
    * (`_centroids.txt`/`_pq.txt` for the ANN family, `_index.txt` for
    * exact/near-dup/containment), so a crash mid-flip leaves a dest this
    * scan skips.
    */
  private def discoverGeneration(basePath: String): (String, Int) = {
    // Enumerate SIBLINGS and take the max complete generation — never a
    // sequential -g1, -g2, ... probe: with gcOldGenerations on, each flip
    // deletes the prior generation, so after two flips only the newest -gN
    // exists and a first-gap probe would resolve the (deleted) base path,
    // then re-number the next flip OVER the live generation.
    // only N >= 1 counts: flips never write -g0, so a complete "-g0"
    // sibling is foreign junk that must not beat a live base directory
    // (it stays enumerable for staleSiblings to GC)
    val complete = generationSiblings(basePath).filter(s => s._3 && s._2 > 0)
    if (complete.isEmpty) (basePath, 0)
    else {
      val (p, g, _) = complete.maxBy(_._2)
      (p, g)
    }
  }

  /** Enroll a dedup-family index (exact / near-dup / containment — the
    * layout is detected) for daemon-driven fragmentation maintenance.
    */
  def registerDedupMaintenance(name: String, path: String,
      maxFilesPerPrefix: Int = 16,
      stream: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
      restart: Option[String => org.apache.spark.sql.streaming.StreamingQuery] = None,
      gcOldGenerations: Boolean = false): Unit = {
    // same guard as the yaml parser's maintainfiles check, so both fronts
    // refuse the every-tick-full-rewrite misconfiguration
    require(maxFilesPerPrefix >= 1,
      s"maxFilesPerPrefix must be >= 1 (got $maxFilesPerPrefix): 0 or " +
        "less re-compacts the entire index on every maintenance tick")
    enroll(name, path, DedupMaint(maxFilesPerPrefix), stream, restart,
      gcOldGenerations)
  }

  /** Enroll an IVF index for daemon-driven probe-cost maintenance (the
    * drift re-cluster policy). If an ANN index of the same `name` is
    * registered for SIMSEARCH, a flip re-points it at the new generation.
    */
  def registerAnnMaintenance(name: String, path: String,
      vecCol: String, idCol: String, nProbe: Int, scanBudget: Double,
      stream: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
      restart: Option[String => org.apache.spark.sql.streaming.StreamingQuery] = None,
      gcOldGenerations: Boolean = false): Unit =
    enroll(name, path, AnnMaint(vecCol, idCol, nProbe, scanBudget), stream,
      restart, gcOldGenerations)

  /** Enroll an IVF-PQ index for daemon-driven probe-cost maintenance. A PQ
    * index stores CODES, not vectors, so a drifted one rebuilds coarse
    * cells AND codebooks from `sourceTable` — a catalog table holding the
    * ORIGINAL vectors, resolved to a DataFrame at TICK time (so a live,
    * still-growing materialized table is a valid corpus definition). If an
    * ANN index of the same `name` is registered for SIMSEARCH, a flip
    * re-points it at the new generation.
    */
  def registerPqMaintenance(name: String, path: String, sourceTable: String,
      vecCol: String, idCol: String, nProbe: Int, scanBudget: Double,
      stream: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
      restart: Option[String => org.apache.spark.sql.streaming.StreamingQuery] = None,
      gcOldGenerations: Boolean = false): Unit =
    enroll(name, path,
      PqMaint(sourceTable.toLowerCase, vecCol, idCol, nProbe, scanBudget),
      stream, restart, gcOldGenerations)

  /** One maintenance pass over every enrolled index; returns
    * (name, status) per index. Called by the Server's maintenance thread;
    * callable directly for one-shot administration. Failures are caught
    * per-index so one broken path can't starve the others.
    *
    * Locking: the registry lock is held only to SNAPSHOT the enrolled
    * states; each compaction/rebuild (Spark jobs that can take minutes)
    * runs unlocked, with the flip re-acquiring the state's own monitor —
    * registrations and [[maintainedState]] reads never block behind a
    * running pass. An index claimed by an in-flight pass is skipped
    * (`busy`) by an overlapping tick instead of double-compacted.
    */
  def maintenanceTick(): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.col
    // a closed db must not run maintenance: a pass would restart the very
    // streams close() just quiesced, reattaching a writer to a closed db.
    // The daemon orders its shutdown correctly (tick driver stops first);
    // this guard covers an embedder that doesn't — loud no-op, not silent
    if (closedFlag.get) return Seq("_closed" -> "db closed; tick skipped")
    // release leases of issued-but-never-executed sql() frames past their
    // grace window, so an abandoned frame can't pin a generation forever —
    // and execution pins orphaned by a dropped end event (exact liveness)
    sweepExpiredLeases()
    sweepDeadExecutionPins()
    // drain the orphan queue first: generations queued by enrollments that
    // have since been detached or re-pointed. Same lease + per-path error
    // discipline as the per-index GC below; reported as a pseudo-row so the
    // /metrics maintenance surface shows the work.
    val orphanStatus: Option[(String, String)] = {
      // a queued orphan matching a CURRENT enrollment's active path is live
      // again (re-attached and flipped back into service, or a reloaded
      // entry colliding with a rebuilt generation): drop it from the queue,
      // never delete a serving directory. All guard sets are CANONICALIZED
      // before comparing — registrations may spell their paths relatively,
      // and a spelling mismatch here turns "never delete a serving dir"
      // into a recursive delete of exactly that dir.
      val actives = maintained.synchronized {
        maintained.values.map(s => s.synchronized(s.activePath)).toSet
      }.map(canonKey)
      // a path a SIMSEARCH registration currently serves stays pending (a
      // later re-point frees it), like a lease — deleting it would break
      // every query on that index between its preQuery pins
      val serving = annIndexes.synchronized {
        annIndexes.values.map(_.path).toSet
      }.map(canonKey)
      val leased = leasedCanon()
      val freed = orphanGc.synchronized {
        if (orphanGc.exists(actives.contains)) {
          orphanGc.filterInPlace(p => !actives.contains(p))
          persistOrphanGc()
        }
        // ancestor-aware: an entry CONTAINING a leased/serving/active
        // path stays pending too (the recursive delete would take the
        // live path with it); exact active matches were dropped above —
        // an ancestor of an active is a DIFFERENT directory, kept pending
        // until nothing lives under it
        val guardAll = leased ++ serving ++ actives
        val (pinned, free) =
          orphanGc.partition(p => coversOrContains(guardAll, p))
        orphanGc.clear(); orphanGc ++= pinned
        free.toList
      }
      // standing degradations stay visible on every tick's status row: a
      // persist failure (until a rewrite succeeds) and reload-rejected
      // queue entries (for the process lifetime — a corrupt durable queue
      // is an operator problem)
      def notes: Seq[String] =
        orphanPersistError.map(e => s"persist error: $e").toSeq ++
          (if (orphanReloadRejected.isEmpty) Nil
           else Seq(s"rejected ${orphanReloadRejected.size} invalid " +
             "reload entries"))
      if (freed.isEmpty) {
        // a standing persist failure retries on every tick even when the
        // drain is idle: the cause may be transient (disk-full resolved),
        // and a success both restores restart durability and clears the
        // flag — until then the degradation stays visible as a status row
        if (orphanPersistError.isDefined)
          orphanGc.synchronized { persistOrphanGc() }
        val ns = notes
        if (ns.isEmpty) None
        else Some("_orphans" -> s"idle (${ns.mkString("; ")})")
      } else {
        var kept = 0
        val errs = freed.flatMap { p =>
          // delete-time lease re-check: exec pins land asynchronously on
          // the listener bus, so a pin can appear between this drain's
          // snapshot and the delete — a just-pinned path requeues for the
          // next tick instead of being deleted under its reader
          if (coversOrContains(leasedCanon(), canonKey(p))) {
            orphanGc.synchronized {
              if (!orphanGc.contains(p)) orphanGc += p
            }
            kept += 1
            None
          } else
            try { gcDelete(p); None }
            catch { case e: Exception =>
              orphanGc.synchronized {
                if (!orphanGc.contains(p)) orphanGc += p
              }
              Some(s"$p: ${e.getMessage}")
            }
        }
        // persist AFTER the deletes: a crash mid-drain leaves the file
        // listing some already-deleted paths, which reload and drain as
        // no-ops — never the reverse (a live dir missing from the file)
        orphanGc.synchronized { persistOrphanGc() }
        val base =
          if (errs.nonEmpty) s"gc errors: ${errs.mkString("; ")}"
          else if (kept > 0)
            s"gc'd ${freed.size - kept} (requeued $kept leased)"
          else s"gc'd ${freed.size}"
        val ns = notes
        Some("_orphans" -> (base +
          (if (ns.isEmpty) "" else s" (${ns.mkString("; ")})")))
      }
    }
    val snapshot = maintained.synchronized { maintained.toSeq }
    orphanStatus.toSeq ++ snapshot.map { case (name, st) =>
      var claimedThisTick = false
      val status =
        try {
          // claim the index and snapshot the pass inputs under ITS monitor.
          // spec/restart/gcOldGenerations are in-place-mutable (live
          // re-ALTER): snapshotting them under the SAME monitor enroll()
          // mutates them under gives this pass one consistent config —
          // never a torn view (new spec, old restart) or a stale read
          // with no happens-before edge
          val claimed = st.synchronized {
            if (st.inFlight) None
            else {
              st.inFlight = true
              Some((st.activePath, st.gen, st.stream, st.spec, st.restart,
                st.gcOldGenerations))
            }
          }
          claimedThisTick = claimed.isDefined
          claimed match {
            case None => "busy (pass in flight)"
            case Some((active, gen, stream0, spec0, restart0, gc0)) =>
              try {
                // GC generations superseded by PREVIOUS ticks (readers have
                // had at least one full maintenance period to drain) — but
                // never one a reader lease still pins; those stay pending
                // and are retried next tick. Failures are captured PER PATH
                // (a failing delete re-queues only itself and never aborts
                // the remaining freed entries — those were already cleared
                // from the buffer and would otherwise leak) and surface in
                // the status.
                val gcErrs = scala.collection.mutable.ArrayBuffer.empty[String]
                if (gc0) {
                  // a path a SIMSEARCH registration currently serves stays
                  // pending, like a lease (same pin as the orphan drain):
                  // an explicit registerAnnIndex at a prior generation must
                  // not be deleted out from under its queries. Guards
                  // compare CANONICAL forms (spelling must not defeat a
                  // pin — and execution-time pins are stored canonical).
                  val serving = annIndexes.synchronized {
                    annIndexes.values.map(_.path).toSet
                  }.map(canonKey)
                  val leased = leasedCanon()
                  val freed = st.synchronized {
                    // a path equal to the CURRENT active is never GC-able:
                    // the flip purges its dest from the queues, this is the
                    // backstop for reloaded or duplicated entries — drop,
                    // don't delete a serving directory
                    st.pendingDeletes.filterInPlace(_ != st.activePath)
                    // ancestor-aware like the orphan drain: the CURRENT
                    // active joins the guard set so an entry containing it
                    // can never drain from under the registration
                    val guardAll = leased ++ serving + canonKey(st.activePath)
                    val (pinned, free) = st.pendingDeletes.partition { p =>
                      coversOrContains(guardAll, canonKey(p))
                    }
                    st.pendingDeletes.clear()
                    st.pendingDeletes ++= pinned
                    free.toList
                  }
                  freed.foreach { p =>
                    // delete-time lease re-check (cheap map read): exec
                    // pins land asynchronously on the listener bus, so a
                    // pin can appear between the snapshot above and this
                    // delete — requeue a just-pinned path for the next
                    // tick instead of deleting it under its reader
                    if (coversOrContains(leasedCanon(), canonKey(p)))
                      st.synchronized { st.pendingDeletes += p }
                    else
                      try gcDelete(p)
                      catch {
                        case e: Exception =>
                          st.synchronized { st.pendingDeletes += p }
                          gcErrs += s"$p: ${e.getMessage}"
                      }
                  }
                }
                def flip(newPath: String, newGen: Int,
                    newStream: Option[org.apache.spark.sql.streaming.StreamingQuery],
                    repoint: Boolean): Unit = {
                  // a stream attached by a concurrent in-place re-enroll
                  // since this pass's snapshot would be silently clobbered
                  // by the overwrite — collect it under the monitor, stop
                  // it AFTER releasing (its micro-batch may call a
                  // st-locking API; see enroll's deadlock note). The
                  // snapshot's own stream was already quiesced by the
                  // rebuild, so it no-ops through the isActive filter.
                  val clobbered = st.synchronized {
                    val c = st.stream
                    st.activePath = newPath; st.gen = newGen
                    st.stream = newStream
                    // belt-and-braces: the just-rebuilt dest must never
                    // sit in a GC queue (dest numbering already skips
                    // every existing sibling)
                    st.pendingDeletes.filterInPlace(_ != newPath)
                    c
                  }
                  quiesceStream(clobbered, keep = newStream)
                  // queue the superseded path only AFTER its last possible
                  // writer is stopped: queued-then-quiesced would let an
                  // overlapping drain delete a directory the clobbered
                  // stream is still appending to. A detach landing in the
                  // window lands this entry on the unreachable state — the
                  // post-pass handoff (which runs later) orphans it.
                  if (gc0) st.synchronized { st.pendingDeletes += active }
                  locally {
                    val newCanon = canonPath(newPath)
                    orphanGc.synchronized {
                      if (orphanGc.contains(newCanon)) {
                        orphanGc.filterInPlace(_ != newCanon)
                        persistOrphanGc()
                      }
                    }
                  }
                  // never re-point a registration this pass no longer
                  // owns: an ALTER that replaced or detached the
                  // enrollment mid-pass has already pointed SIMSEARCH at
                  // ITS index — overriding it would serve the abandoned
                  // base's generation
                  if (repoint) maintained.synchronized {
                    if (maintained.get(name).exists(_ eq st))
                      annIndexes.synchronized {
                        annIndexes.get(name.toLowerCase).foreach { d =>
                          annIndexes(name.toLowerCase) = d.copy(path = newPath)
                        }
                      }
                  }
                  // close() racing this pass (the tick-entry guard only
                  // catches ticks STARTING after close): never leave a
                  // freshly restarted writer attached to a closed db —
                  // re-detach and stop it. Idempotent with close()'s own
                  // detach; whichever runs second sees the handle and
                  // quiesces it.
                  if (closedFlag.get)
                    quiesceStream(detachStream(st), keep = None)
                }
                // dest numbering skips EVERY existing sibling, complete or
                // not: rebuilding into an on-disk number would overwrite
                // crash debris in place and race the orphan drain (debris
                // queued there may already be drained out of the queue,
                // past the flip's purge) — a fresh number makes dest/GC
                // collisions impossible by construction
                val destGen = math.max(gen,
                  generationSiblings(st.basePath).map(_._2).maxOption
                    .getOrElse(0)) + 1
                // the validity filter admits v < Int.MaxValue, so a dest AT
                // Int.MaxValue would be undiscoverable after a restart —
                // refuse loudly (per-index error status) rather than write
                // a generation the engine itself can never resolve
                if (destGen >= Int.MaxValue) throw new IllegalStateException(
                  s"generation namespace exhausted for '${st.basePath}' " +
                    s"(next would be $destGen): remove foreign -gN siblings")
                val dest = s"${st.basePath}-g$destGen"
                val passStatus = spec0 match {
                  case DedupMaint(maxFiles) =>
                    val r = pipeline.Dedup.maintainIndex(spark, active, dest,
                      maxFiles, stream0, restart0)
                    if (r.compacted)
                      flip(r.activePath, destGen, r.stream, repoint = false)
                    if (r.compacted) s"compacted -> ${r.activePath}"
                    else s"ok (${r.maxFilesPerPrefix} files/prefix)"
                  case AnnMaint(vecCol0, idCol0, nProbe, budget) =>
                    // fail with the ACTIONABLE message before the trigger
                    // statistic: an IVF-PQ index enrolled through the IVF
                    // path (yaml `maintain:` without `maintainsource:`)
                    // would otherwise only error on the tick that first
                    // crosses budget, with maintainIndex's layout message
                    if (pipeline.IndexMeta.Pq.existsAt(active))
                      throw new IllegalStateException(
                        s"'$name' is an IVF-PQ index: its codes cannot " +
                          "re-cluster from themselves — enroll it with " +
                          "registerPqMaintenance (schema: add " +
                          "'maintainsource: <vector table>')")
                    val r = pipeline.Similarity.maintainIndex(spark, active,
                      dest, col(vecCol0), col(idCol0), nProbe, budget,
                      stream0, restart0)
                    if (r.rebuilt)
                      flip(r.activePath, destGen, r.stream, repoint = true)
                    if (r.rebuilt) s"re-clustered -> ${r.activePath}"
                    else f"ok (probedFraction ${r.probedFraction}%.2f)"
                  case PqMaint(source, vecCol0, idCol0, nProbe, budget) =>
                    // the rebuild corpus resolves from the catalog NOW — a
                    // materialized source table serves its current contents
                    val corpus = catalog.get(source).df
                    val r = pipeline.Similarity.maintainIndexPq(spark, active,
                      dest, corpus, col(vecCol0), col(idCol0), nProbe, budget,
                      stream0, restart0)
                    if (r.rebuilt)
                      flip(r.activePath, destGen, r.stream, repoint = true)
                    if (r.rebuilt) s"rebuilt -> ${r.activePath}"
                    else f"ok (probedFraction ${r.probedFraction}%.2f)"
                }
                if (gcErrs.isEmpty) passStatus
                else s"$passStatus (gc errors: ${gcErrs.mkString("; ")})"
              } finally st.synchronized { st.inFlight = false }
          }
        } catch { case e: Exception => s"error: ${e.getMessage}" }
      // the pass ran off the registry lock: if an ALTER detached or
      // replaced this enrollment meanwhile, the state (and anything its
      // flip just queued) is unreachable — hand the queue to the orphan
      // GC instead of stranding the directories on disk. Only the tick
      // that CLAIMED the pass runs the handoff: a tick that observed
      // `busy` would otherwise detachStream/quiesce a stream the owning
      // pass's in-flight rebuild snapshotted (stopping it under the other
      // pass's feet and racing its flip) — the owning pass's own handoff
      // does the orphaning when it completes.
      val (orphanedStream, orphanedState)
          : (Option[StreamingQuery], Option[MaintState]) =
        if (!claimedThisTick) (None, None)
        else maintained.synchronized {
          if (maintained.get(name).exists(_ eq st)) (None, None)
          else {
            val s = detachStream(st)
            val (finalActive, superseded) = st.synchronized {
              (st.activePath, st.pendingDeletes.toSet)
            }
            // a detach that kept the `annindex:` entry re-registered it at
            // the then-current generation BEFORE this pass flipped; if the
            // registration now points at a path this pass superseded (and
            // queued for GC), re-point it to the pass's final active so
            // SIMSEARCH never serves a directory the orphan drain is about
            // to delete
            annIndexes.synchronized {
              annIndexes.get(name.toLowerCase).foreach { d =>
                if (superseded.contains(d.path))
                  annIndexes(name.toLowerCase) = d.copy(path = finalActive)
              }
            }
            // the pass's flip may have stored a freshly RESTARTED stream
            // on the unreachable state: stop it below, outside the
            // registry lock (no owner remains to quiesce it before a
            // later GC of its write path); the queue handoff follows the
            // quiesce, also outside the lock (it persists to disk)
            (s, Some(st))
          }
        }
      quiesceStream(orphanedStream, keep = None)
      orphanedState.foreach(orphanPendingDeletes)
      name -> status
    }
  }

  /** Test seam: runs before each generation-GC recursive delete — a test
    * throws here for one path to exercise the per-path error capture
    * (filesystem-level delete failures are hard to stage as root).
    */
  @volatile private[graft] var gcDeleteHook: String => Unit = _ => ()

  private def gcDelete(path: String): Unit = {
    gcDeleteHook(path)
    deleteRecursively(java.nio.file.Paths.get(path))
    // remember what this db's GC reclaimed (bounded, driver-side strings):
    // a later execution failing on one of these paths can then name the
    // CAUSE and the remedy instead of surfacing a raw FileNotFound —
    // the reference's iterator-close contract names the file
    // (row_store.go:681-725); we name the fix
    gcHistory.synchronized {
      gcHistory += canonKey(path)
      while (gcHistory.size > 512) gcHistory -= gcHistory.head
    }
  }

  // canonical paths of generations this db's GC deleted (insertion order,
  // bounded at 512 — far above any plausible per-process flip count)
  private val gcHistory = scala.collection.mutable.LinkedHashSet.empty[String]

  /** Rethrow a failure caused by reading a generation this db's GC already
    * deleted as an actionable error: "generation <path> was GC'd by index
    * maintenance; re-issue the query" (the re-issued query resolves the
    * CURRENT generation through the registry). Matches any throwable in
    * the cause chain whose message names a [[gcHistory]] path that no
    * longer exists — that covers scan-time FileNotFoundException, java.nio
    * NoSuchFileException from driver-side meta reads, and the probe's own
    * "no parseable index meta" refusal, all of which otherwise suggest the
    * wrong remedy. Everything else rethrows untouched.
    *
    * The match requires a PATH BOUNDARY after the history entry: sibling
    * generations are named `<base>-gN`, so a failure naming the CURRENT
    * generation (its meta corrupted, its dir deleted externally) also
    * CONTAINS the GC'd base path as a prefix — a raw substring match
    * misreported those as "re-issue the query", a remedy the caller can
    * retry forever. A path mention ends at end-of-message or any character
    * that cannot continue a path segment name ([-_a-zA-Z0-9]).
    */
  private def rethrowIfGcLoss[T](body: => T): T =
    try body
    catch {
      case e: Throwable =>
        val history = gcHistory.synchronized { gcHistory.toList }
        var c: Throwable = e
        var hit: Option[String] = None
        var hops = 0
        while (c != null && hit.isEmpty && hops < 16) {
          val msg = Option(c.getMessage).getOrElse("")
          if (msg.nonEmpty)
            hit = history.find(p => GraftDB.namesWholePath(msg, p) &&
              !java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
          c = c.getCause; hops += 1
        }
        hit match {
          case Some(p) => throw new IllegalStateException(
            s"generation $p was GC'd by index maintenance; " +
              "re-issue the query", e)
          case None => throw e
        }
    }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }

  /** Last completed [[maintenanceTick]]'s statuses (observability for the
    * daemon thread's work; empty until the first tick).
    */
  @volatile var lastMaintenance: Seq[(String, String)] = Nil

  /** The enrolled index's CURRENT path and attached maintenance stream
    * (post-flip these point at the latest generation) — the handles an
    * operator needs to query the active copy or drain/stop the writer.
    */
  def maintainedState(name: String)
      : Option[(String, Option[org.apache.spark.sql.streaming.StreamingQuery])] =
    maintained.synchronized { maintained.get(name) }
      .map(st => st.synchronized((st.activePath, st.stream)))

  /** Observability snapshot per enrolled index (the `/metrics` surface):
    * active path, generation number, superseded generations awaiting GC,
    * and how many of those a reader lease currently pins.
    */
  def maintainedStats: Map[String, (String, Int, Int, Int)] = {
    val leased = leasedCanon()
    maintained.synchronized { maintained.toMap }.map { case (n, st) =>
      n -> st.synchronized {
        (st.activePath, st.gen, st.pendingDeletes.size,
          st.pendingDeletes.count(p => leased.contains(canonKey(p))))
      }
    }
  }

  /** Orphan-GC queue depth for the `/metrics` surface: (total, currently
    * lease-pinned) superseded generations queued by detached or re-pointed
    * enrollments, awaiting the next tick's drain.
    */
  def orphanGcStats: (Int, Int) = {
    val leased = leasedCanon()
    orphanGc.synchronized {
      (orphanGc.size, orphanGc.count(leased.contains))
    }
  }

  /** The most recent orphan-queue persistence failure, if the LAST
    * `_orphan_gc.txt` rewrite failed (cleared by the next success). While
    * set, the queue still drains this process but is NOT restart-durable —
    * `/metrics` surfaces it so a wedged file (read-only fs, disk full) is
    * visible without reading the daemon's tick log.
    */
  def orphanGcPersistError: Option[String] = orphanPersistError

  /** The reference's `DB.Close` (/root/reference/zenodb.go:334-349):
    * stop every writer this db owns and release its session-global hooks,
    * so an embedder shuts down cleanly — and a long-lived SparkSession
    * cycling many dbs (tests, multi-tenant drivers) doesn't accumulate
    * streams and bus listeners. Quiesces attached table-merge streams and
    * enrolled index-maintenance streams (stop + await, the flip's
    * discipline), releases leftover issue-time leases and in-flight
    * execution pins, and unregisters the execution-pin listener.
    * Idempotent. Like the reference, Close never deletes data: stores and
    * indexes stay on disk, enrollment/registration STATE survives in
    * memory, and reads through [[sql]] keep working (the SparkSession is
    * caller-owned) — only the writers and hooks are gone.
    *
    * Ordering: stop whatever drives [[maintenanceTick]] BEFORE closing
    * (the daemon's `stop()` does). The db also defends itself against an
    * embedder that doesn't: a tick STARTING after close is a loud no-op
    * (`_closed` status row), and a pass already in flight re-detaches and
    * quiesces any stream its flip restarted once it sees the closed flag —
    * either way no writer stays attached to a closed db.
    */
  def close(): Unit = if (closedFlag.compareAndSet(false, true)) {
    val tableStreams = activeStreams.synchronized {
      val s = activeStreams.toList; activeStreams.clear(); s
    }
    tableStreams.foreach(q => quiesceStream(Some(q), keep = None))
    val maintStreams = maintained.synchronized { maintained.values.toList }
      .flatMap(detachStream)
    maintStreams.foreach(q => quiesceStream(Some(q), keep = None))
    val holds = expiringLeases.synchronized { expiringLeases.toList }
    holds.foreach(releaseHold)
    val it = execPins.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); it.remove()
      e.getValue.foreach(p => try p.close() catch { case _: Exception => () })
    }
    if (execPinRegistered.get())
      try spark.sparkContext.removeSparkListener(execPinListener)
      catch { case _: Exception => () }
  }

  private val closedFlag = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The one query-run path of [[sqlTimed]], [[sqlWithStats]], HTTP `/run`
    * and RPC `QUERY`: parses once, holds the SIMSEARCH leases while
    * `consume` runs over the planned frame under [[Engine.run]], and
    * releases them when it returns.
    */
  private[graft] def runQuery[T](query: String, timeoutMs: Option[Long] = None)(
      consume: DataFrame => (T, Long)): (Option[T], Engine.QueryStats) = {
    val t0 = System.nanoTime()
    val (parsed, pins, cat) = preQuery(query)
    try rethrowIfGcLoss(
      Engine.run(Engine.plan(cat, parsed, now), query, timeoutMs, t0)(consume))
    finally pins.foreach(_.close())
  }

  /** [[sql]] executed under a deadline: expiry cancels the query's job
    * group and raises TimeoutException.
    */
  def sqlTimed(query: String, timeoutMs: Long): Array[org.apache.spark.sql.Row] =
    sqlWithStats(query, timeoutMs).completedRows(query, timeoutMs)

  /** Deadline form that never throws on expiry: returns rows plus
    * [[Engine.QueryStats]] with `completed = false` when the deadline
    * cancelled the job group (the reference's partial-result stats,
    * common/common.go:57-64).
    */
  def sqlWithStats(query: String, timeoutMs: Long): Engine.QueryResult = {
    val (rows, stats) = runQuery(query, Some(timeoutMs))(Engine.collectRows)
    Engine.QueryResult(rows.getOrElse(Array.empty), stats)
  }
}

object GraftDB {

  /** True iff `msg` mentions `p` as a WHOLE path (followed by end-of-string
    * or a character that cannot continue a path segment name) — the
    * boundary rule rethrowIfGcLoss needs because sibling generations are
    * named `<base>-gN` and a raw substring match on `<base>` also fires on
    * messages naming a LIVE sibling.
    */
  private[graft] def namesWholePath(msg: String, p: String): Boolean = {
    var i = msg.indexOf(p)
    while (i >= 0) {
      val j = i + p.length
      if (j >= msg.length || {
        val ch = msg.charAt(j)
        !(Character.isLetterOrDigit(ch) || ch == '-' || ch == '_')
      }) return true
      i = msg.indexOf(p, i + 1)
    }
    false
  }
  /** The reference's `-vtime` mode (server/server.go:632, zenodb.go
    * virtual time): a logical clock advanced by the timestamps of inserted
    * points instead of the wall. Pass one as the `now` constructor argument
    * and [[GraftDB.insert]] moves it to the max `ts` of every batch BEFORE
    * merging, so retention truncation, backfill horizons and relative
    * ASOF/UNTIL all resolve against DATA time — replaying a historical
    * stream behaves exactly as it did live, and tests/backfills need no
    * clock stubbing. Monotonic: late batches never move it backwards.
    */
  final class VirtualClock extends (() => Long) {
    private val cur = new java.util.concurrent.atomic.AtomicLong(0L)
    def apply(): Long = cur.get()
    private[graft] def advanceTo(ts: Long): Unit = {
      var prev = cur.get()
      while (ts > prev && !cur.compareAndSet(prev, ts)) prev = cur.get()
    }
  }

  def virtualClock(): VirtualClock = new VirtualClock

  /** Follow-journal replay horizon: max entries / bytes kept per stream
    * (`-Dgraft.followJournalMaxEntries=` overrides the entry count).
    */
  def FollowJournalMaxEntries: Int =
    Integer.getInteger("graft.followJournalMaxEntries", 1024)
  val FollowJournalMaxBytes: Long = 256L << 20

  /** Stamp file marking a journal entry whose append FAILED: the marker is
    * published (density) but the batch's points never reached the feed. The
    * RPC layer surfaces it as a `WARN missed <marker>` frame.
    */
  val FailedStamp = "_FAILED"

  /** True when a journal entry's batch is irrecoverably absent from the
    * feed: the append failed (stamped), or the entry path itself could not
    * even be created (disk full — nothing exists to read).
    */
  def entryMissed(entry: java.nio.file.Path): Boolean =
    !java.nio.file.Files.exists(entry) ||
      java.nio.file.Files.exists(entry.resolve(FailedStamp))

  /** Line reader over one entry data file, transparently gunzipping —
    * journal entries are written with the gzip codec (`part-*.txt.gz`), but
    * plain files survive from pre-compression journals and tests.
    */
  def entryReader(f: java.nio.file.Path): java.io.BufferedReader = {
    val in = java.nio.file.Files.newInputStream(f)
    val wrapped: java.io.InputStream =
      if (f.getFileName.toString.endsWith(".gz"))
        new java.util.zip.GZIPInputStream(in)
      else in
    new java.io.BufferedReader(new java.io.InputStreamReader(
      wrapped, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The JSON-lines data files of one journal entry, in deterministic
    * order: `part-*` under the entry dir (a Spark text write), skipping
    * `_SUCCESS`/checksum sidecars. Row order across parts is partition
    * order — insert batches carry no intra-batch ordering contract. A
    * missing path (a failed append that couldn't even stamp itself) reads
    * as empty rather than throwing.
    */
  def entryFiles(entry: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.exists(entry)) Nil
    else if (!java.nio.file.Files.isDirectory(entry)) Seq(entry)
    else {
      val st = java.nio.file.Files.list(entry)
      val fs =
        try {
          val b = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
          val it = st.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (p.getFileName.toString.startsWith("part-")) b += p
          }
          b.toSeq
        } finally st.close()
      fs.sortBy(_.getFileName.toString)
    }

  private[graft] def sizeOf(p: java.nio.file.Path): Long =
    try {
      if (!java.nio.file.Files.isDirectory(p)) java.nio.file.Files.size(p)
      else entryFiles(p).map(f =>
        try java.nio.file.Files.size(f) catch { case _: Exception => 0L }).sum
    } catch { case _: Exception => 0L }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val st = java.nio.file.Files.list(p)
      try st.forEach(deleteRecursively) finally st.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }
}
