package graft

import org.apache.spark.sql.DataFrame

/** Session-wide FIFO of persisted scan-saver DataFrames.
  *
  * Several operators persist an intermediate so multiple consumers of one
  * query read a single source scan — the CROSSTAB (keys × __ct) pre-agg,
  * tf-idf's (doc, token) term-frequency relation. The persist outlives the
  * query (nothing marks "this query's execution is over"), so a session
  * running many distinct such queries would accrete one storage entry each,
  * forever. This FIFO caps that: beyond [[maxEntries]] the oldest entry is
  * unpersisted; a straggler still executing against an evicted cache just
  * recomputes it from lineage — the cache is a scan-saver, never a
  * correctness dependency (the documented eviction contract).
  */
private[graft] object PersistCache {

  /** How many scan-saver caches stay persisted at once
    * (`-Dgraft.maxPersistedCaches=` overrides — a knob, like
    * `spark.sql.pivotMaxValues`, for drivers with more memory).
    *
    * Default 24: the cap bounds ENTRY COUNT, not bytes — each entry is a
    * group-cardinality / fingerprint-sized intermediate at MEMORY_AND_DISK,
    * and the unified memory manager still evicts blocks LRU under real
    * pressure (lineage recompute, the documented contract), so the cap's
    * only cost class is churn when it sits BELOW the live site count, not
    * OOM when it sits above. History: a cap of 8 below the workload's
    * distinct registering queries turned every rerun into a full
    * recompute — measured in r15's bench as a 3-round monotone drift of
    * q_crosstab_shift (0.42→0.57→0.80 s; FIFO round-robin eviction, not
    * ambient load). 16 was the r15 fix; by r18 the source sat at 12
    * registering sites = the 75% tripwire bound (the suite fails when
    * sites exceed 75% of the cap), so the next registering operator would
    * have tripped it mid-round. 24 re-opened ≥6 sites of headroom at the
    * 75% line (18); the no-churn/no-regression measurement at that bound
    * is in BENCH_LOCAL.md (r19), and EngineSpec pins that a session with
    * MORE distinct sites than the old cap now stays fully resident. r21's
    * optimization pass added 6 sites (the incremental-dedup family now
    * caches its candidate-bounded reused frames instead of letting
    * broadcast subtrees replay index scans — OPTIMIZATION_r21.md), taking
    * sources to 18 = the old 75% line exactly; 32 restores ≥6 sites of
    * headroom (bound 24). r22's span-gram projection
    * (Dedup.repeatedSpanCoverage) made 19. The incremental-dedup
    * `fresh`/`losers` sites no longer register on a broadcast-path admit
    * (it collects that decision to the driver instead), only on read-only
    * calls and the shuffle fallback; the source count stays 19 against the
    * bound of 24. Entry size class is unchanged —
    * candidate-/batch-bounded frames, the same class the broadcast bound
    * already admits per entry — so the memory argument above carries.
    */
  def maxEntries: Int =
    sys.props.get("graft.maxPersistedCaches").map(_.toInt).getOrElse(32)

  private val fifo = new java.util.ArrayDeque[DataFrame]()

  // Distinct registering CALL SITES seen this session (class:line of the
  // first graft frame outside this object). The r13-r15 q_crosstab_shift
  // drift recurred mechanically whenever the number of live registering
  // queries outgrew the static cap — FIFO round-robin turned every rerun
  // into a full recompute. The high-water is the tripwire: it is surfaced
  // in /metrics, and the suite (PlanSpec) asserts the SOURCE-level site
  // count stays under ~75% of [[maxEntries]], so a round that adds sites
  // without bumping the cap fails loudly instead of drifting.
  private val sites = scala.collection.mutable.Set.empty[String]

  /** Distinct registering call sites observed so far this session (runtime
    * high-water — ≤ the source-level count the suite bounds).
    */
  def sitesHighWater: Int = fifo.synchronized(sites.size)

  // callers hold fifo's monitor
  private def recordSite(): Unit = {
    val frame = new Throwable().getStackTrace
      .find(f => f.getClassName.startsWith("graft.") &&
        !f.getClassName.contains("PersistCache"))
    frame.foreach(f => sites += s"${f.getClassName}:${f.getLineNumber}")
  }

  /** Persist `df` (MEMORY_AND_DISK) and enroll it in the FIFO; returns the
    * same DataFrame for chaining. Idempotent on plan identity: a plan the
    * CacheManager already holds (the same query re-run) is returned as-is —
    * re-registering it would push a duplicate FIFO entry and evict a live
    * cache early for nothing. The storage-level check and the enrollment
    * happen under ONE lock: check-then-act outside it let two concurrent
    * queries persisting the same plan both pass the NONE check and push
    * duplicate FIFO entries, prematurely evicting other live caches.
    */
  def persist(df: DataFrame): DataFrame = fifo.synchronized {
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      enroll(p)
      p
    }
  }

  /** Enroll an already-persisted DataFrame in the eviction FIFO. */
  def register(df: DataFrame): Unit = fifo.synchronized { enroll(df) }

  /** [[persist]] with a snapshot-identity marker: a no-op filter carrying
    * `sig` (the batch's file-listing signature) is folded into the plan, so
    * the CacheManager cannot alias this frame to a cached twin built over a
    * DIFFERENT listing of the same root paths. Spark's cache identity is
    * path-based (HadoopFsRelation equality is its root paths) — measured
    * live in r22: after a file was moved into a read dir externally, a
    * freshly-built aggregation over the dir reported the OLD cached rows.
    * The marker filter is constant-folded away by the optimizer, so the
    * physical plan and its cost are unchanged; only cache identity differs.
    * `sig = None` (no file-content identity) persists unmarked — in-plan
    * data is its own identity, and opaque RDD-backed plans cannot be
    * re-built structurally equal from changed data anyway. A zero-file
    * signature (prefix "0:" — the batch is LocalRelation/Range data whose
    * content lives in the plan itself) also persists unmarked: the plan IS
    * the identity there, and the constant marker would be pure noise.
    */
  def persistTagged(df: DataFrame, sig: Option[String]): DataFrame = sig match {
    case Some(s) if !s.startsWith("0:") =>
      import org.apache.spark.sql.functions.lit
      persist(df.where(lit(s).isNotNull))
    case _ => persist(df)
  }

  // callers hold fifo's monitor
  private def enroll(df: DataFrame): Unit = {
    recordSite()
    fifo.addLast(df)
    while (fifo.size > maxEntries)
      fifo.removeFirst().unpersist(blocking = false)
  }
}
