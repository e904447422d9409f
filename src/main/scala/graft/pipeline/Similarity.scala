package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.io.LocalFs.StoreWrite

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: the brute-force path is a single map + TakeOrdered (top-k
  * never collects more than k×partitions rows to the driver); the LSH path
  * buckets by random-hyperplane sign bits so candidate generation is a
  * hash-partitioned join; the IVF path prunes to the nearest partitions of a
  * sampled centroid set broadcast to executors.
  */
object Similarity {

  /** Dot product — index-order summation in doubles, so results are
    * bit-reproducible across engines and runs. Compiled by the native
    * [[graft.functions.VecDot]] expression (tight codegen loop) rather than
    * an interpreted `aggregate(zip_with(...))` fold: identical fold order
    * and widening, ~an order of magnitude less per-pair overhead in joins.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Quantized cosine: elements rounded to 10^-6 and scaled to exact longs,
    * so the dot/norm sums are exact integers — identical in any engine.
    * Use for reproducible dedup decisions / oracle checks.
    */
  def quantize(a: Column): Column =
    transform(a, x => round(x.cast("double") * 1000000.0).cast("long"))

  def cosineQuantized(a: Column, b: Column): Column = {
    val qa = quantize(a); val qb = quantize(b)
    val dq = graft.functions.VecDot(qa, qb) // long×long stays exact
    val na = graft.functions.VecDot(qa, qa)
    val nb = graft.functions.VecDot(qb, qb)
    dq.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))
  }

  /** Driver-side twin of [[quantize]] for LITERAL query vectors. Catalyst
    * does not constant-fold higher-order functions, so `quantize(lit(q))`
    * inside a score expression re-evaluates the interpreted transform for
    * every ROW (and [[cosineQuantized]] does it twice); folding the query
    * side at plan-build time removes it entirely. Must stay bit-identical
    * to the Column path (PipelineSpec pins it): Spark's Round(x, 0) on a
    * double is BigDecimal.valueOf(x).setScale(0, HALF_UP), and the ANSI
    * long cast REFUSES NaN/±Inf — mirror that refusal so a poisoned query
    * vector fails fast here exactly as it would in the Column path.
    */
  private[graft] def quantizeLocal(v: Seq[Float]): Array[Long] =
    v.map { f =>
      val d = f.toDouble * 1000000.0
      require(!d.isNaN && !d.isInfinite,
        s"cannot quantize non-finite query component $f")
      // mirror the Column path's ANSI long-cast overflow refusal too:
      // BigDecimal.doubleValue.toLong would silently SATURATE past
      // Long.MaxValue where the Column path throws (ADVICE r21)
      require(math.abs(d) <= Long.MaxValue.toDouble,
        s"cannot quantize query component $f: scaled value overflows long")
      java.math.BigDecimal.valueOf(d)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toLong
    }.toArray

  /** [[cosineQuantized]] of a PRE-quantized corpus column against a
    * pre-quantized local query vector: the per-pair/per-row work collapses
    * to native VecDots (the corpus transform runs once wherever `xq` was
    * projected; the query side is a plan-time literal). Arithmetic is the
    * exact [[cosineQuantized]] sequence — long dots, corpus-sqrt ×
    * query-sqrt in that order — so scores are bit-identical.
    */
  private[graft] def cosineQuantizedPre(xq: Column, qArr: Array[Long]): Column = {
    val qn = math.sqrt(qArr.map(x => x * x).sum.toDouble) // exact long sum
    graft.functions.VecDot(xq, lit(qArr)).cast("double") /
      (sqrt(graft.functions.VecDot(xq, xq).cast("double")) * lit(qn))
  }

  /** Pre-quantized two-Column twin ([[cosineQuantized]] with both sides
    * already carrying `quantize(...)` arrays and their sqrt'd norms): used
    * by the batch retrieval joins so the O(dim) interpreted transforms run
    * once per ROW instead of 2× per JOINED PAIR, leaving only the native
    * cross-dot per pair. `xn`/`qn` must be
    * `sqrt(VecDot(q, q).cast("double"))` of their side — the exact
    * [[cosineQuantized]] factors in the exact order.
    */
  private[graft] def cosineQuantizedPre2(xq: Column, xn: Column, qq: Column,
                                         qn: Column): Column =
    graft.functions.VecDot(xq, qq).cast("double") / (xn * qn)

  /** Brute-force top-k by cosine against one query vector. Catalyst plans
    * sort+limit as TakeOrderedAndProject — no global sort materializes.
    */
  def topK(df: DataFrame, vecCol: Column, idCol: Column,
           query: Seq[Float], k: Int, quantized: Boolean = false): DataFrame =
    if (quantized)
      // corpus side quantized once per row in its own projection; query
      // side folded at plan time — same scores, no per-row HOF re-folding
      df.select(idCol.as("id"), quantize(vecCol).as("__xq"))
        .select(col("id"),
          cosineQuantizedPre(col("__xq"), quantizeLocal(query)).as("score"))
        .orderBy(col("score").desc, col("id"))
        .limit(k)
    else
      df.select(idCol.as("id"), cosine(vecCol, lit(query.toArray)).as("score"))
        .orderBy(col("score").desc, col("id"))
        .limit(k)

  /** Random-hyperplane LSH bucket id: `nBits` sign bits of projections onto
    * seeded pseudo-random planes. Vectors in the same bucket are cosine-close
    * with high probability; search = bucket equi-join instead of cross join.
    */
  def lshBucket(vecCol: Column, dim: Int, nBits: Int, seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dot(vecCol, lit(p)) >= 0, 1L << i).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** All pairs with cosine ≥ threshold among vectors sharing an LSH bucket
    * (near-duplicate detection on the embedding side).
    */
  def lshCosinePairs(df: DataFrame, vecCol: Column, idCol: Column, dim: Int,
                     nBits: Int, threshold: Double,
                     stripes: Int = 1): DataFrame = {
    val withB = df.select(idCol.as("id"), vecCol.as("v"))
      .withColumn("bucket", lshBucket(col("v"), dim, nBits))
    selfPairs(withB, Seq("bucket"), "id", stripes)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Every unordered pair of `prep` rows sharing the `blockKeys` values,
    * one row per pair as struct columns `a` and `b` (no id-order guarantee
    * between the two — normalize with least/greatest downstream).
    *
    * `stripes` parallelizes giant blocks: a block's pairs otherwise all land
    * on ONE reducer (its key hashes to a single shuffle partition) — the
    * classic skewed-LSH-bucket / single-block failure at scale. Each row is
    * replicated to the `stripes` (lo,hi) stripe-grid tasks it participates
    * in, so one block's pair triangle fans out over stripes·(stripes+1)/2
    * independent tasks at the cost of a stripes× heavier shuffle of the
    * (compact) prep rows. Spark's AQE skew-join can't do this for us: it
    * splits skewed *partitions*, but a single join key is atomic — the grid
    * is the only way to cut inside one key.
    */
  def selfPairs(prep: DataFrame, blockKeys: Seq[String], idKey: String,
                stripes: Int = 1): DataFrame = {
    require(stripes >= 1, "stripes must be >= 1")
    val cols = prep.columns.toSeq
    if (stripes == 1) {
      val a = prep.select(struct(cols.map(col): _*).as("a"))
      val b = prep.select(struct(cols.map(col): _*).as("b"))
      a.join(b,
        blockKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$idKey") < col(s"b.$idKey"))
    } else {
      // row with stripe s participates in tasks {(min(s,t), max(s,t)) : t};
      // the side-local s==lo / s==hi predicates push below the join, so each
      // side keeps only the copies playing that side's role in the task
      val repl = prep
        .withColumn("__s", pmod(xxhash64(col(idKey)), lit(stripes)).cast("int"))
        .select(struct(cols.map(col): _*).as("r"), col("__s"),
          explode(sequence(lit(0), lit(stripes - 1))).as("__t"))
        .select(col("r"), col("__s"),
          least(col("__s"), col("__t")).as("__lo"),
          greatest(col("__s"), col("__t")).as("__hi"))
      val a = repl.as("pa"); val b = repl.as("pb")
      a.join(b,
          blockKeys.map(k => col(s"pa.r.$k") === col(s"pb.r.$k")).reduce(_ && _) &&
            col("pa.__lo") === col("pb.__lo") &&
            col("pa.__hi") === col("pb.__hi") &&
            col("pa.__s") === col("pa.__lo") &&
            col("pb.__s") === col("pb.__hi") &&
            // diagonal task (i,i): id-order picks each pair once; off-diagonal
            // (i,j): the role predicates above already orient the pair
            (col("pa.__s") =!= col("pb.__s") ||
              col(s"pa.r.$idKey") < col(s"pb.r.$idKey")))
        .select(col("pa.r").as("a"), col("pb.r").as("b"))
    }
  }

  /** Embedding-cosine near-duplicate dedup: drop every row that has a
    * neighbor with cosine ≥ `threshold` and a smaller id — the one-pass
    * "earliest representative wins" rule production dedup pipelines use.
    * (A chain a~b~c with a<b<c keeps only a, but a component whose later
    * member is linked only through even-later rows can keep a second
    * representative — the documented trade vs an iterative
    * connected-components pass, which no single shuffle can express.)
    *
    * Candidates come from an LSH bucket self-join (`nBits` hyperplane sign
    * bits): identical/near-identical vectors collide deterministically, so
    * shuffle volume is per-bucket quadratic, not corpus quadratic. nBits=0
    * degrades to exact all-pairs — bounded blocks and oracle checks only.
    * The dropped-id set is compact (ids only), so the final anti-join
    * broadcasts at any realistic dup rate.
    */
  def cosineDedup(df: DataFrame, vecCol: Column, idCol: Column,
                  threshold: Double, dim: Int = 0, nBits: Int = 0,
                  quantized: Boolean = false, stripes: Int = 1): DataFrame = {
    require(nBits == 0 || dim > 0, "dim is required when nBits > 0")
    // per-ROW prep (quantization + norm) BEFORE the join: a HOF like
    // quantize() inside the pair predicate would re-fold both arrays
    // interpreted, once per pair — the same trap blockedTopPairs dodges
    val base = df.select(idCol.as("id"), vecCol.as("v"))
      .withColumn("bucket",
        if (nBits == 0) lit(0L) else lshBucket(col("v"), dim, nBits))
    val prep =
      if (quantized) base
        .select(col("id"), col("bucket"), quantize(col("v")).as("qv"))
        .withColumn("nq",
          sqrt(graft.functions.VecDot(col("qv"), col("qv")).cast("double")))
      else base.select(col("id"), col("bucket"), col("v").as("qv"))
        .withColumn("nq", norm(col("qv")))
    val dotC =
      if (quantized)
        graft.functions.VecDot(col("a.qv"), col("b.qv")).cast("double")
      else dot(col("a.qv"), col("b.qv"))
    val dups = selfPairs(prep, Seq("bucket"), "id", stripes)
      .filter(dotC / (col("a.nq") * col("b.nq")) >= threshold)
      .select(greatest(col("a.id"), col("b.id")).as("__dup")).distinct()
    df.join(dups, idCol === col("__dup"), "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic dedup scoped to
    * embedding clusters. Every row assigns to its maximum-cosine centroid
    * (ties → lowest centroid id); within a cluster, a row is dropped when
    * any SMALLER-id cluster-mate reaches `threshold` cosine — the
    * [[cosineDedup]] dominance rule, which an exact SQL oracle can state
    * where SemDeDup's greedy keep-one cannot. Output: the surviving input
    * rows plus their `cluster` id.
    *
    * Centroids are an explicit bounded list — derive them with
    * [[sampleCentroids]]/[[refineCentroids]] for the k-means mode, or pass
    * fixed vectors for decisions reproducible across engines. All cosines
    * (assignment AND dedup) use the quantized exact-integer arithmetic of
    * [[cosineQuantized]], so every decision is bit-identical anywhere (the
    * per-element 1e6 quantization keeps all dot sums below 2^53 at
    * embedding scale — exact in doubles regardless of summation order).
    *
    * Scale shape: assignment is map-only; the pair join blocks on the
    * cluster id via [[selfPairs]] (+`stripes` for a skewed cluster), so
    * nothing quadratic exists above cluster granularity — the paper's
    * core argument, unchanged in Spark.
    *
    * CENTROID-COUNT BOUND: the centroid list rides the plan as literals
    * (one quantized array + one dot per centroid), which is what makes
    * the assignment exactly reproducible — and which stops scaling
    * somewhere in the hundreds of centroids (plan size and codegen grow
    * linearly in k). SemDeDup's web-scale k ≈ √N does NOT fit this path:
    * there, assign cells with the IVF machinery ([[sampleCentroids]] /
    * [[refineCentroids]] / [[ivfAssign]] — native ArgMinCosine, O(1) plan
    * size at any k, float arithmetic) and run the same within-cell
    * dominance on `__c`; the float/exact trade only moves boundary-case
    * assignments, never the dominance rule. This operator's exact-literal
    * path is for bounded-k, decision-auditable curation (the gate shape).
    */
  def semanticDedup(df: DataFrame, vecCol: Column, idCol: Column,
                    centroids: Seq[(Int, Seq[Float])], threshold: Double,
                    stripes: Int = 1): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val qcents = centroids.map { case (cid, v) =>
      (cid, v.map(x => math.round(x.toDouble * 1000000.0)))
    }
    val nq = sqrt(graft.functions.VecDot(col("__qv"), col("__qv"))
      .cast("double"))
    // argmax cosine via struct-min over (-cos, cid): ties take the lowest
    // centroid id, matching the oracle's ORDER BY cos DESC, cid
    val best = array_min(array(qcents.map { case (cid, qc) =>
      val qcDot = qc.map(x => x * x).sum // exact in Long at 1e6 scale
      val cos = graft.functions.VecDot(col("__qv"), typedLit(qc))
        .cast("double") / (nq * math.sqrt(qcDot.toDouble))
      struct((-cos).as("n"), lit(cid).as("c"))
    }: _*)).getField("c")
    val withC = df
      .withColumn("__qv", quantize(vecCol))
      .withColumn("cluster", best)
    // per-row prep BEFORE the pair join (quantization + norm computed once
    // per row, the cosineDedup discipline)
    val prep = graft.PersistCache.persist(
      withC.select(idCol.as("id"), col("cluster"), col("__qv").as("qv"))
        .withColumn("nq",
          sqrt(graft.functions.VecDot(col("qv"), col("qv")).cast("double"))))
    val dotC = graft.functions.VecDot(col("a.qv"), col("b.qv")).cast("double")
    // dominated = greater id of every verified pair; consumers are
    // anti-joins, so no distinct is needed (duplicate keys are free there)
    val dups = selfPairs(prep, Seq("cluster"), "id", stripes)
      .filter(dotC / (col("a.nq") * col("b.nq")) >= threshold)
      .select(greatest(col("a.id"), col("b.id")).as("__dup"))
    withC.join(dups, idCol === col("__dup"), "left_anti").drop("__qv")
  }

  /** Most-similar pair per block (e.g. per label/cluster): block-local
    * self-join + window rank. The block key bounds the join quadratically —
    * at scale, blocks come from LSH buckets or IVF cells, and the same
    * ranking runs unchanged.
    */
  def blockedTopPairs(df: DataFrame, vecCol: Column, idCol: Column,
                      blockCol: Column, quantized: Boolean = true,
                      stripes: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // precompute per-ROW vectors and norms once; the O(pairs) join then only
    // evaluates the dot product — norms inside the pair expression would
    // re-fold both arrays for every pair
    val prep =
      if (quantized) df.select(blockCol.as("block"), idCol.as("id"),
        quantize(vecCol).as("qv"))
        .withColumn("nq",
          sqrt(graft.functions.VecDot(col("qv"), col("qv")).cast("double")))
      else df.select(blockCol.as("block"), idCol.as("id"), vecCol.as("qv"))
        .withColumn("nq", norm(col("qv")))
    val dotC =
      if (quantized)
        graft.functions.VecDot(col("a.qv"), col("b.qv")).cast("double")
      else dot(col("a.qv"), col("b.qv"))
    val pairs = selfPairs(prep, Seq("block"), "id", stripes)
      .select(col("a.block").as("block"),
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        (dotC / (col("a.nq") * col("b.nq"))).as("c"))
    val w = Window.partitionBy(col("block"))
      .orderBy(col("c").desc, col("id_a"), col("id_b"))
    pairs.withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Deterministic pseudo-random centroid sample: the `n` rows with the
    * smallest xxhash64(id) — independent of scan/partition order (a seeded
    * stand-in for k-means|| sampling; plans as TakeOrderedAndProject, so no
    * global sort materializes).
    */
  def sampleCentroids(df: DataFrame, vecCol: Column, idCol: Column,
                      n: Int): Seq[(Int, Seq[Float])] =
    df.select(idCol.as("id"), vecCol.as("v"))
      .orderBy(xxhash64(col("id")), col("id")).limit(n)
      .collect().zipWithIndex.map { case (r, i) => i -> r.getSeq[Float](1) }.toSeq

  /** Lloyd refinement of seeded centroids: `iters` rounds of
    * assign-then-average, each round one map-only assign plus one partial
    * aggregation on (cell, position) — 2 jobs whose result is
    * nCentroids×dim doubles on the driver, independent of corpus size.
    * Hash-sampled seeds + a few Lloyd rounds is the k-means|| recipe minus
    * the randomized oversampling, kept deterministic so a cached index can
    * be reused exactly. A cell that loses all rows keeps its seed (mirrors
    * k-means's empty-cluster guard). Balanced cells are what make nProbe
    * pruning effective: with arbitrary seeds one hot cell can hold most of
    * the corpus and the "index" degenerates to a scan.
    */
  def refineCentroids(df: DataFrame, vecCol: Column,
                      centroids: Seq[(Int, Seq[Float])],
                      iters: Int): Seq[(Int, Seq[Float])] = {
    var cur = centroids
    for (_ <- 0 until iters) {
      // sum as exact decimals, divide on the driver: double partial sums
      // would make the mean depend on Spark's partial-aggregate merge order,
      // and a last-ulp wobble breaks the "cached index reuse is exact"
      // contract (_centroids.txt reload compares bit-for-bit)
      val means = ivfAssign(df.select(vecCol.as("__v")), col("__v"), cur)
        .select(col("__c"), posexplode(col("__v")).as(Seq("__p", "__x")))
        .groupBy("__c", "__p")
        .agg(sum(col("__x").cast("decimal(38,12)")).as("s"),
          count(lit(1)).as("n"))
        .collect().map(r =>
          (r.getInt(0), r.getInt(1), r.getDecimal(2).doubleValue() / r.getLong(3)))
      val byCell = means.groupBy(_._1).map { case (c, rows) =>
        c -> rows.sortBy(_._2).map(_._3.toFloat).toSeq
      }
      cur = cur.map { case (i, seed) => i -> byCell.getOrElse(i, seed) }
    }
    cur
  }

  /** Assign each row to its nearest centroid (broadcast argmin — map-only).
    * One native [[graft.functions.ArgMinCosine]] expression: the centroid
    * matrix rides as a single flat reference object, so code size is O(1)
    * in centroid count. The `array_min(array(struct(dist, id), ...))`
    * formulation this replaces emitted one dot-product subtree PER centroid
    * — past a few hundred centroids (and a balanced 100 TB IVF index wants
    * sqrt(N) ≈ tens of thousands) it exceeds codegen limits and falls back
    * to interpretation.
    */
  def ivfAssign(df: DataFrame, vecCol: Column,
                centroids: Seq[(Int, Seq[Float])]): DataFrame =
    df.withColumn("__c", graft.functions.ArgMinCosine(vecCol, centroids))

  /** Build an IVF index at `indexPath`: sample centroids, assign rows, and
    * write the assigned table `partitionBy("__c")`. That layout is what makes
    * the probe an index: `ivfTopK`'s cell filter becomes a partition filter,
    * so at 100 TB a probe reads nProbe/nCentroids of the files, not all of
    * them.
    *
    * Rows CLUSTER on the cell before the write (one shuffle): a dynamic-
    * partition write otherwise sprays every cell across every task —
    * (tasks × cells) tiny files, measured 0.6–0.8× of a full REBUILD per
    * append before the fix (BENCH_LOCAL.md "Round-14: incremental ANN
    * maintenance"; the retired AnnAppendStress tool, at git 6fef9ce) —
    * where clustering bounds it at one file per cell per write (the
    * buildExactIndex discipline).
    */
  def ivfBuild(df: DataFrame, vecCol: Column, idCol: Column, nCentroids: Int,
               indexPath: String, refineIters: Int = 2): Seq[(Int, Seq[Float])] = {
    val centroids = refineCentroids(df, vecCol,
      sampleCentroids(df, vecCol, idCol, nCentroids), refineIters)
    ivfAssign(df, vecCol, centroids)
      // ~one shuffle partition per CELL (not the session default): a task
      // then writes ~one cell's worth of data, so file size tracks cell
      // size at any corpus scale instead of (cells/defaultPartitions)
      // cells piling into one task; AQE coalesces the empties at small
      // scale
      .repartition(centroids.length, col("__c"))
      .storeWrite.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__c").parquet(indexPath)
    centroids
  }

  /** Order-independent dataset fingerprint: row count + XOR of xxhash64(id).
    * A single column-pruned aggregation — far cheaper than the index build
    * it guards — that changes whenever rows are added, removed, or re-keyed.
    */
  def datasetFingerprint(df: DataFrame, idCol: Column): String = {
    val r = df.agg(
      org.apache.spark.sql.functions.count(lit(1)),
      org.apache.spark.sql.functions.bit_xor(xxhash64(idCol))).collect()(0)
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  /** Content identity of a DataFrame's file INPUTS: an MD5 over the sorted
    * (path, length, mtime) triples of every file the plan's already-built
    * FileIndex listings name — driver metadata only, no job and no extra
    * filesystem round-trips. In-plan leaves (LocalRelation, Range,
    * OneRowRelation) carry their content in the plan itself and contribute
    * nothing. Returns None when the plan reads an OPAQUE leaf (an RDD, a
    * stream, a cached relation) or hosts a subquery — content the listing
    * cannot witness — so callers skip memoization instead of risking a
    * stale hit.
    *
    * This is the batch-side snapshot-pinning discipline the r21 memos
    * lacked: a memo keyed on a plan hash alone is BLIND to file-listing
    * growth (HadoopFsRelation identity is its root PATHS — measured live:
    * adding a file to a read dir leaves `analyzed.semanticHash()`
    * byte-identical), so a landing dir that gains files between two calls
    * would replay under the same key. SnapshotSpec pins the fix.
    */
  private[graft] def inputSnapshotSig(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, OneRowRelation}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var opaque = false
    df.queryExecution.analyzed.foreach { node =>
      if (node.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))
        opaque = true // a subquery reads data this walk does not see
      node match {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            try fs.location.listFiles(Nil, Nil).foreach(_.files.foreach(f =>
              parts += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"))
            catch { case _: Exception => opaque = true }
          case _ => opaque = true
        }
        case _: LocalRelation => ()
        case _: org.apache.spark.sql.catalyst.plans.logical.Range => ()
        case _: OneRowRelation => ()
        case _: LeafNode => opaque = true
        case _ => ()
      }
    }
    if (opaque) None
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      parts.sorted.foreach(p => md.update(p.getBytes(
        java.nio.charset.StandardCharsets.UTF_8)))
      Some(parts.length + ":" + md.digest().map("%02x".format(_)).mkString)
    }
  }

  /** Memo identity for a corpus/batch DataFrame: the file-listing signature
    * PLUS the plan hash when the inputs are files (content-true — listing
    * growth or a different transformation both invalidate), else the plan
    * hash alone (in-plan data is its own identity; opaque RDD-backed plans
    * keep the documented plan-shape-only caveat on [[ivfBuildIfMissing]]).
    */
  private[graft] def corpusMemoIdentity(df: DataFrame): String = {
    val planHash = df.queryExecution.analyzed.semanticHash()
    inputSnapshotSig(df) match {
      case Some(sig) => s"files:$sig:$planHash"
      case None => s"plan:$planHash"
    }
  }

  /** Build the IVF index only if absent — or STALE: the cached index is
    * keyed by (nCentroids, dataset fingerprint), so a changed dataset at the
    * same path rebuilds instead of silently serving stale cells. Real
    * deployments build once and amortize over queries; the fingerprint check
    * costs one count+hash scan, not a rebuild. Centroids are persisted next
    * to the index; the sample is deterministic, so reuse is exact.
    *
    * Validation is memoized per (path, [[corpusMemoIdentity]], nCentroids,
    * refineIters) in [[IndexMeta.validateOrBuild]]: fingerprinting the
    * corpus on EVERY probe is itself anti-scale — at 100 TB the staleness
    * check would cost a full id-column scan per query. The identity is the
    * file listing + sizes + mtimes + plan hash for file-backed corpora (so a
    * corpus dir that gains files re-validates), plan hash alone for in-plan
    * data; only same-size same-mtime byte mutation under an identical plan
    * evades it, and that also invalidates any open Spark scan.
    *
    * The header keys the index by dataset AND build recipe (v2: exact
    * decimal Lloyd means), so a recipe change never silently reuses old
    * cells. An unparseable meta reads as STALE, never as a bricked path;
    * one whose `appends` trailer shows [[ivfAppend]]ed history refuses the
    * corpus-change rebuild instead (delete the index directory to start
    * over), the contract of [[Dedup.buildExactIndexIfMissing]].
    */
  def ivfBuildIfMissing(df: DataFrame, vecCol: Column, idCol: Column,
                        nCentroids: Int, indexPath: String,
                        refineIters: Int = 2): Seq[(Int, Seq[Float])] =
    IndexMeta.validateOrBuild(IndexMeta.Ivf, indexPath, "IVF index",
        s"${corpusMemoIdentity(df)}|$nCentroids|$refineIters")(
      s"fp=${datasetFingerprint(df, idCol)};lloyd=$refineIters;v=2")(
      ivfBuild(df, vecCol, idCol, nCentroids, indexPath, refineIters))

  /** Test-only fault injection for the incremental-append commit path (same
    * contract as [[Dedup.crashHook]]): fired at "ann.meta-pre" /
    * "ann.meta-tmp" / "ann.meta-moved" (inside [[IndexMeta.commit]]) and
    * "ann.appended" (after the parquet append in [[ivfAppend]] /
    * [[ivfPqAppend]]). The fuzzed invariant: a death at ANY point can never
    * leave appended index rows with no appends counted — the state where a
    * later corpus-change staleness check would silently rebuild over them.
    */
  @volatile private[graft] var crashHook: String => Unit = _ => ()

  /** Test-only capture of the append anti-join's physical plan (guarded —
    * zero cost when off): lets the plan spec pin that a daily-size append
    * stays all-broadcast while a giant batch takes the shuffle fallback.
    */
  @volatile private[graft] var capturePlans: Boolean = false
  @volatile private[graft] var lastAppendPlan: String = ""

  /** Parse an IVF-PQ index's persisted meta: (coarse cells, codebooks).
    * The read-side twin of [[loadIvfCentroids]] — lets probes (and the
    * dialect's SIMSEARCH) reopen a PQ index without re-deriving anything
    * from the corpus.
    */
  def loadIvfPqMeta(indexPath: String)
      : (Seq[(Int, Seq[Float])], Seq[Seq[Seq[Double]]]) =
    IndexMeta.load(indexPath, IndexMeta.Pq,
      s"no parseable IVF-PQ index meta at $indexPath — build the index " +
        "first (ivfPqBuildIfMissing)")._2

  /** Reload an IVF index's frozen centroids from its persisted meta — the
    * probe-side entry for sessions (or the SIMSEARCH dialect surface) that
    * did not build the index and so hold no centroid handle. One tiny
    * driver-side file read; throws with guidance when the index has no
    * parseable meta (never built, or a half-compacted copy).
    */
  def loadIvfCentroids(indexPath: String): Seq[(Int, Seq[Float])] =
    IndexMeta.load(indexPath, IndexMeta.Ivf,
      s"no parseable IVF index meta at $indexPath — build the index first " +
        "(ivfBuildIfMissing)")._2

  // ---- incremental index maintenance -----------------------------------
  //
  // At 100 TB with daily appends, "any corpus change forces a full index
  // rebuild" is the scale-killer of the ANN story — re-clustering reads the
  // whole corpus. These append paths port exactIncremental's contract to
  // ANN: assign only NEW rows against the FROZEN centroids/codebooks,
  // append into the existing `__c=` partition layout, and record the
  // mutation in an `appends=` meta trailer with the counter-BEFORE-append
  // crash discipline, so the fingerprint-keyed staleness check can never
  // silently rebuild over appended history. Frozen cells only grow as the
  // data distribution drifts, so a deployment rebuilds from scratch
  // periodically (explicit delete) — the compaction policy of an index.

  /** Shared append machinery: dedup the batch WITHIN itself (one row per
    * id — a batch carrying an id twice must not store duplicate ids, the
    * invariant every probe and the crash fuzz assume; mirrors
    * exactIncremental's intra-batch winners step) and against ONE
    * column-pruned id scan of the index, bump the `appends=` counter
    * crash-atomically BEFORE the parquet append, then append
    * `encode(fresh)` into the `__c=` layout. The fresh frame is
    * persisted across the decision and the write so the index id scan runs
    * once. Re-running the same batch is a no-op, which is also the crash
    * recovery: counter-first ordering means a death between the two
    * commits leaves a spurious extra count over an unchanged index (an
    * explicit delete away), never appended rows under `appends=0`.
    *
    * Broadcast sizing is two-tier, ported from [[Dedup.exactIncremental]]:
    * a daily-size batch broadcasts its id set into the index id scan
    * (map-only — the index never shuffles and its vectors/codes are never
    * read), but a bootstrap-scale backfill batch (10^7+ ids ≈ hundreds of
    * MB) would OOM every executor as a broadcast, so past
    * `maxBroadcastIds` distinct ids the joins fall back to shuffles — the
    * index id column then shuffles ONCE, amortized over the whole batch.
    * When the optimizer's row estimate already proves the batch small the
    * counting job is skipped; `maxBroadcastIds <= 0` is an explicit
    * "always shuffle" override.
    *
    * SINGLE WRITER: one append at a time per index path. The meta
    * read-modify-write and the pre-append file-list snapshot are not
    * guarded against a concurrent second writer — two simultaneous appends
    * (two streams, or a stream plus an ad-hoc ivfAppend) can both miss
    * each other's in-flight rows (double-inserting shared ids) and lose a
    * counter bump. Serialize all writers of one index; readers are
    * unaffected.
    */
  /** (indexPath, full meta CONTENT, dedup flag, batch snapshot signature)
    * → canonicalized batch plan, for appends PROVEN no-ops (0 fresh rows)
    * by a full anti-join check in this JVM: replaying the same batch
    * CONTENT against an index whose meta is byte-identical re-proves the
    * same 0, so the index id scan + count can be skipped. Identity is
    * content-true on every axis (r21 VERDICT item 1): the batch side is
    * the file listing + sizes + mtimes ([[inputSnapshotSig]] — a landing
    * dir that gains files between replays changes it, so the grown batch
    * re-proves; SnapshotSpec pins this, proven failing under the old
    * plan-hash key), a hit additionally confirms canonicalized-plan
    * EQUALITY (never a bare 64-bit hash), and the meta side is the full
    * string, not its hashCode. Any REAL append bumps the `appends=`
    * counter, changing the meta content and the key. Opaque batches (no
    * file-content identity) never memoize. Insertion-order bounded.
    */
  private val appendNoopMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String, Boolean, String),
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Boolean, String),
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Boolean =
        size() > 256
    })

  private def appendIndexed(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, fmt: IndexMeta.Format[_],
                            lines: Seq[String], batch: DataFrame, idCol: Column,
                            indexIdCol: Column, dedupAgainstIndex: Boolean,
                            maxBroadcastIds: Long = 4000000L)
                           (encode: DataFrame => DataFrame): Long = {
    val batchCanon = batch.queryExecution.analyzed.canonicalized
    val memoKey = inputSnapshotSig(batch).map(sig =>
      (indexPath, lines.mkString("\n"), dedupAgainstIndex, sig))
    if (memoKey.exists(k => batchCanon == appendNoopMemo.get(k))) return 0L
    // pin the index SNAPSHOT by a driver-side file listing: Spark's
    // recache-on-write would otherwise re-plan the scan against the
    // mutated index (same hazard as Dedup.exactIncremental), and a
    // path-based read lists and infers the schema in jobs of their own
    val preFiles = IndexSnapshot.list(spark, indexPath)
    // intra-batch dedup: exactly one row per id survives (arbitrary but
    // single — ids are the identity; a duplicated id in one batch would
    // otherwise store BOTH rows, and no later probe or append could ever
    // distinguish them)
    val b1 = batch.withColumn("__gbid", idCol).dropDuplicates("__gbid")
      .drop("__gbid")
    val batchIds = b1.select(idCol.as("__bid")).distinct()
    // two-tier sizing (see scaladoc): ambiguous or large batches pay one
    // persisted count of the compact id frame
    var counted: Option[DataFrame] = None
    val small = IndexMeta.fitsBroadcast(b1, maxBroadcastIds) {
      val p = batchIds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      counted = Some(p)
      p.count()
    }
    val bIds = counted.getOrElse(batchIds)
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val hits =
      if (preFiles.isEmpty || !dedupAgainstIndex)
        bIds.select(col("__bid").as("__iid")).limit(0)
      else IndexSnapshot.read(spark, preFiles).select(indexIdCol.as("__iid"))
        .join(maybeB(bIds), col("__iid") === col("__bid"), "left_semi")
        .distinct()
    val fresh = b1.join(maybeB(hits), idCol === col("__iid"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // test-only plan pin (off in production): the two-tier sizing is a
    // plan-shape decision, so the spec asserts the daily path keeps its
    // broadcast joins and the giant-batch path actually shuffles
    if (capturePlans)
      lastAppendPlan = fresh.queryExecution.executedPlan.toString
    try {
      val n = fresh.count()
      if (n == 0L) {
        memoKey.foreach(k => appendNoopMemo.put(k, batchCanon))
        return 0L
      }
      IndexMeta.bump(indexPath, fmt)
      encode(fresh)
        .repartition(col("__c")) // ≤ one appended file per touched cell
        .storeWrite.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("__c").parquet(indexPath)
      crashHook("ann.appended")
      n
    } finally {
      fresh.unpersist(blocking = false)
      // release the counted-path id cache (it served the path choice and
      // the joins); the stats-proven path never persisted it
      counted.foreach(_.unpersist(blocking = false))
    }
  }

  /** Append NEW rows (by id) of `batch` — same schema as the seed corpus —
    * to the IVF index at `indexPath`, assigning them against the index's
    * FROZEN centroids. Returns the number of rows appended (0 for a replay
    * of an already-admitted batch). See the crash/staleness contract on
    * [[appendIndexed]]; [[ivfBuildIfMissing]] refuses a corpus-change
    * rebuild once appends are recorded.
    *
    * `dedupAgainstIndex = false` skips the index id scan entirely, making
    * the append O(batch) instead of O(index id column) — the right mode
    * when the pipeline GUARANTEES globally-fresh ids (monotonic snowflake
    * ids, date-prefixed crawl ids). The trade is explicit: without the
    * anti-join, replaying a batch DUPLICATES its rows, so a crashed append
    * must be retried with the default (self-deduplicating) mode, never
    * blind-replayed in this one.
    *
    * SINGLE WRITER per index path (see [[appendIndexed]]): concurrent
    * appends — two streams, or a stream plus an ad-hoc call — can
    * double-insert shared ids and lose counter bumps. `maxBroadcastIds`
    * bounds the batch-id broadcast; larger batches take the shuffle
    * fallback (<= 0 forces it).
    */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                batch: DataFrame, vecCol: Column, idCol: Column,
                dedupAgainstIndex: Boolean = true,
                maxBroadcastIds: Long = 4000000L): Long = {
    val (lines, centroids) = IndexMeta.load(indexPath, IndexMeta.Ivf,
      s"no parseable IVF index meta at $indexPath to append to — " +
        "build the index first (ivfBuildIfMissing)")
    appendIndexed(spark, indexPath, IndexMeta.Ivf, lines, batch, idCol, idCol,
      dedupAgainstIndex, maxBroadcastIds)(
      fresh => ivfAssign(fresh, vecCol, centroids))
  }

  /** [[ivfAppend]] for an IVF-PQ index: fresh rows are encoded with the
    * index's FROZEN codebooks and assigned to its frozen coarse cells, then
    * appended as (id, codes, cell) rows. Same `dedupAgainstIndex`,
    * single-writer, and `maxBroadcastIds` contract as [[ivfAppend]].
    */
  def ivfPqAppend(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                  batch: DataFrame, vecCol: Column, idCol: Column,
                  dedupAgainstIndex: Boolean = true,
                  maxBroadcastIds: Long = 4000000L): Long = {
    val (lines, (coarse, books)) = IndexMeta.load(indexPath, IndexMeta.Pq,
      s"no parseable IVF-PQ index meta at $indexPath to append to — " +
        "build the index first (ivfPqBuildIfMissing)")
    // kept metadata columns (filtered-search attributes) ride along with
    // the appended rows exactly as at build time
    val keep = keptColumns(lines.head)
    appendIndexed(spark, indexPath, IndexMeta.Pq, lines, batch,
      idCol, col("__id"), dedupAgainstIndex, maxBroadcastIds) { fresh =>
      ivfAssign(fresh.select(idCol.as("__id") +: vecCol.as("__v") +:
          keep.map(col): _*), col("__v"), coarse)
        .select(col("__id") +: pqEncode(col("__v"), books).as("__codes") +:
          (keep.map(col) :+ col("__c")): _*)
    }
  }

  /** Cell-occupancy histogram of an IVF/IVF-PQ index — the RE-CLUSTER
    * monitor for incrementally-appended indexes: appends against frozen
    * centroids can only grow cells, and a drifted ingest crowds few of
    * them until "pruned" probes read most of the corpus
    * (the retired AnnDriftStress tool, at git 6fef9ce, measured the
    * probed fraction climbing 0.30 → 0.64 as a shared ingest shift passed
    * the inter-cluster scale, while recall stayed ≥ 0.99; BENCH_LOCAL.md
    * "Round-14: frozen-centroid drift" — the degradation is COST, not
    * quality, so a recall floor would never fire). One column-pruned
    * aggregate over the partition column; returns (cell, rows, share)
    * ordered by share descending. Re-cluster blue/green when
    * `sum(top nProbe shares)` crosses the probe's scan budget.
    */
  def cellHistogram(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String): DataFrame = {
    val counts = spark.read.parquet(indexPath)
      .groupBy(col("__c")).agg(count(lit(1)).as("rows"))
    // nCells-row frame: the 1-row total broadcasts into it
    counts.crossJoin(broadcast(counts.agg(sum(col("rows")).as("__t"))))
      .select(col("__c").as("cell"), col("rows"),
        (col("rows").cast("double") / col("__t")).as("share"))
      .orderBy(col("share").desc, col("cell"))
  }

  /** The probed-fraction-at-nProbe statistic the drift measurements
    * (BENCH_LOCAL.md "Round-14: frozen-centroid drift")
    * validated as THE re-cluster trigger: the worst-case fraction of index
    * rows an nProbe probe reads = the sum of the top-nProbe cell shares.
    * Frozen-centroid drift does not hurt recall (measured ≥ 0.99 out to 5×
    * the cluster radius) — it crowds few cells until "pruned" probes read
    * most of the corpus, so the degradation is COST and this is the number
    * to alarm on, not a recall floor. One column-pruned aggregate + a
    * bounded (≤ nProbe rows) collect.
    */
  def probedFraction(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, nProbe: Int): Double = {
    val r = cellHistogram(spark, indexPath).limit(nProbe)
      .agg(sum(col("share"))).collect()(0)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Outcome of one [[maintainIndex]] pass: the measured statistic, whether
    * a re-cluster ran, the path readers should use from now on, and the
    * (possibly restarted) maintenance stream.
    */
  final case class MaintainResult(
      probedFraction: Double, rebuilt: Boolean, activePath: String,
      stream: Option[org.apache.spark.sql.streaming.StreamingQuery])

  /** Operational glue for the incremental-IVF lifecycle — the re-cluster
    * policy BENCH_LOCAL.md "Round-14: frozen-centroid drift" measured, as
    * one entry point:
    *
    *   1. compute [[probedFraction]] at the caller's `nProbe`;
    *   2. under `scanBudget` → no action (appends against frozen centroids
    *      remain the right trade);
    *   3. over budget → stop the attached [[graft.streaming.AnnIndexStream]]
    *      (single-writer: the rebuild reads a quiesced index), re-cluster
    *      blue/green into `destPath` with FRESH centroids over the index's
    *      full current contents (the stored rows carry their original
    *      columns, so no corpus re-read is needed), carry the `appends=`
    *      counter verbatim (the refusal tripwire stays armed), verify the
    *      dest via [[requireIndexComplete]], then restart the stream
    *      against the dest via `restart`.
    *
    * The flip is the return value: readers (and the restarted stream)
    * switch to `activePath`; the caller deletes the source after its own
    * readers have drained, per the blue/green contract. IVF only — a PQ
    * index stores codes, not vectors, so it cannot re-cluster from itself
    * (rebuild from the original corpus instead).
    */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String, destPath: String,
                    vecCol: Column, idCol: Column,
                    nProbe: Int, scanBudget: Double,
                    stream: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
                    restart: Option[String => org.apache.spark.sql.streaming.StreamingQuery] = None,
                    refineIters: Int = 2): MaintainResult = {
    val pf = probedFraction(spark, indexPath, nProbe)
    if (pf <= scanBudget)
      return MaintainResult(pf, rebuilt = false, indexPath, stream)
    val lines = IndexMeta.lines(indexPath, IndexMeta.Ivf).getOrElse(
      throw new IllegalStateException(
        s"maintainIndex requires an IVF index (${IndexMeta.Ivf.file}) at " +
          s"$indexPath — a PQ index cannot re-cluster from its own codes"))
    val h0 = lines.head
    val nCentroids = IndexMeta.field(h0, "n").get.toInt
    val lloyd = IndexMeta.field(h0, "lloyd").map(_.toInt).getOrElse(refineIters)
    val appends = IndexMeta.parseAppends(lines)
    // quiesce the single writer BEFORE reading the rebuild snapshot
    stream.foreach { q => q.stop(); q.awaitTermination() }
    val full = spark.read.parquet(indexPath).drop("__c")
    val centroids = ivfBuild(full, vecCol, idCol, nCentroids, destPath, lloyd)
    // self-describing dest, meta LAST (completion sentinel): fresh recipe
    // header over the rebuilt corpus + the carried appends counter
    IndexMeta.commit(destPath, IndexMeta.Ivf, IndexMeta.Ivf.text(IndexMeta.Ivf.encode(
      s"fp=${datasetFingerprint(full, idCol)};lloyd=$lloyd;v=2", centroids), appends))
    requireIndexComplete(destPath)
    val restarted = restart.map(f => f(destPath))
    MaintainResult(pf, rebuilt = true, destPath, restarted)
  }

  /** [[maintainIndex]] for the IVF-PQ family. A PQ index stores CODES, not
    * vectors, so a drifted one cannot re-cluster from its own contents —
    * which previously left it with no automated recovery (maintainIndex
    * correctly refuses it). This overload rebuilds coarse cells AND
    * codebooks from `sourceCorpus` — the original vector table (or any
    * registered source covering the index's current docs, appends
    * included; the rebuilt index holds exactly `sourceCorpus`'s rows) —
    * with the recipe (m, k, Lloyd/PQ iterations, kept columns) read from
    * the drifted index's own meta, blue/green into `destPath` with the
    * `appends=` counter carried, meta written LAST, and the dest verified
    * via [[requireIndexComplete]] before the stream restarts against it.
    * Same trigger, quiesce, and flip contract as [[maintainIndex]].
    */
  def maintainIndexPq(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, destPath: String,
                      sourceCorpus: DataFrame, vecCol: Column, idCol: Column,
                      nProbe: Int, scanBudget: Double,
                      stream: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
                      restart: Option[String => org.apache.spark.sql.streaming.StreamingQuery] = None)
      : MaintainResult = {
    val pf = probedFraction(spark, indexPath, nProbe)
    if (pf <= scanBudget)
      return MaintainResult(pf, rebuilt = false, indexPath, stream)
    val lines = IndexMeta.lines(indexPath, IndexMeta.Pq).getOrElse(
      throw new IllegalStateException(
        s"maintainIndexPq requires an IVF-PQ index (${IndexMeta.Pq.file}) at " +
          s"$indexPath — use maintainIndex for a plain IVF index"))
    val h0 = lines.head
    def field(name: String) = IndexMeta.field(h0, name).get.toInt
    val (m, k, lloyd, pqIters, nCentroids) =
      (field("m"), field("k"), field("lloyd"), field("pq"), field("c"))
    val keep = keptColumns(h0)
    val appends = IndexMeta.parseAppends(lines)
    // quiesce the single writer BEFORE training on the rebuild snapshot
    stream.foreach { q => q.stop(); q.awaitTermination() }
    val built = ivfPqBuild(sourceCorpus, vecCol, idCol,
      nCentroids, m, k, destPath, lloyd, pqIters, keep)
    IndexMeta.commit(destPath, IndexMeta.Pq, IndexMeta.Pq.text(IndexMeta.Pq.encode(
      pqRecipe(datasetFingerprint(sourceCorpus, idCol), m, k, lloyd, pqIters,
        nCentroids, keep), built), appends))
    requireIndexComplete(destPath)
    val restarted = restart.map(f => f(destPath))
    MaintainResult(pf, rebuilt = true, destPath, restarted)
  }

  /** Blue/green compaction of an appended index: each [[ivfAppend]] adds
    * up to one file per touched cell, so a long-lived index fragments
    * exactly like a size-tiered store. This rewrites the index CLUSTERED
    * (~one file per cell) into a NEW directory and carries the meta —
    * centroids/codebooks AND the `appends=` counter — verbatim, so the
    * compacted copy answers probes identically and keeps refusing
    * corpus-change rebuilds. Blue/green is the crash-safe shape: build
    * dest, flip readers, delete source; an incomplete dest is simply
    * deleted, the source is never touched. (In-place rewrite is
    * deliberately not offered — Spark cannot atomically overwrite a
    * directory it is reading.)
    *
    * COMPLETION SENTINEL: the meta file is written LAST, crash-atomically,
    * so "dest is valid iff its meta file is present". A death mid-compact
    * leaves data files without meta — [[requireIndexComplete]] refuses
    * exactly that state, and every flip (manual or [[maintainIndex]])
    * must check it before switching readers; without the check, a
    * half-compacted dest would answer probes while silently missing the
    * `appends=` history its meta was carrying. The source requires a meta
    * to compact (IfMissing-built indexes always have one): there is
    * nothing else that could make the dest self-describing.
    */
  def indexCompactTo(spark: org.apache.spark.sql.SparkSession,
                     srcPath: String, destPath: String): Unit = {
    val fmt = Seq(IndexMeta.Ivf, IndexMeta.Pq).find(_.existsAt(srcPath))
      .getOrElse(throw new IllegalStateException(
        s"ANN index at $srcPath has no meta (${IndexMeta.Ivf.file}/" +
          s"${IndexMeta.Pq.file}) — cannot produce a self-describing compacted copy"))
    // read the meta BEFORE the (long) data rewrite: the verbatim carry must
    // reflect the same snapshot the data read pinned
    val meta = IndexMeta.carried(srcPath, fmt)
    val df = spark.read.parquet(srcPath)
    val cells = df.select(col("__c")).distinct().count().toInt
    df.repartition(math.max(cells, 1), col("__c"))
      .storeWrite.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__c").parquet(destPath)
    crashHook("ann.compact-data")
    // meta LAST (the completion sentinel), verbatim
    IndexMeta.commit(destPath, fmt, meta)
    crashHook("ann.compact-done")
  }

  /** Refuse a directory that holds index data but no meta — the state a
    * death inside [[indexCompactTo]] leaves behind. Flip readers to a
    * compacted dest only after this passes; a dest that fails it must be
    * deleted and re-compacted (the source is still intact — that is the
    * blue/green contract).
    */
  def requireIndexComplete(indexPath: String): Unit =
    IndexMeta.requireComplete(indexPath, Seq(IndexMeta.Ivf, IndexMeta.Pq))

  private def cosLocal(a: Seq[Float], b: Seq[Float]): Double = {
    val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    d / (na * nb)
  }

  /** ANN top-k over a built index: read only the nProbe nearest centroid
    * cells (partition-pruned scan), score, TakeOrdered. nProbe = nCentroids
    * degrades to exact top-k (the oracle configuration).
    *
    * `extraFilter` is the PRE-FILTER mode of filtered vector search
    * (metadata predicate + top-k): the index stores every source column, so
    * the predicate composes with the cell partition filter and pushes into
    * the pruned parquet scan — candidates are filtered BEFORE ranking, so
    * the result always holds k matching rows when they exist, unlike a
    * post-filter over an unfiltered top-k. (Selective filters reduce each
    * probed cell's yield, so callers should raise nProbe with filter
    * selectivity — the standard filtered-ANN recall trade.)
    */
  def ivfTopK(spark: org.apache.spark.sql.SparkSession, indexPath: String,
              centroids: Seq[(Int, Seq[Float])],
              vecCol: Column, idCol: Column, query: Seq[Float], k: Int,
              nProbe: Int, quantized: Boolean = false,
              extraFilter: Option[Column] = None): DataFrame = {
    val probes = centroids.sortBy { case (i, c) => (-cosLocal(c, query), i) }
      .take(nProbe).map(_._1)
    val pruned = spark.read.parquet(indexPath)
      .filter(col("__c").isin(probes: _*))
      .filter(extraFilter.getOrElse(lit(true)))
    val scored =
      if (quantized)
        // row-side quantize once per row; literal query folded at plan time
        pruned.select(idCol.as("id"), quantize(vecCol).as("__xq"))
          .select(col("id"),
            cosineQuantizedPre(col("__xq"), quantizeLocal(query)).as("score"))
      else pruned.select(idCol.as("id"),
        cosine(vecCol, lit(query.toArray)).as("score"))
    scored.orderBy(col("score").desc, col("id")).limit(k)
  }

  /** Batched ANN: top-k corpus neighbors for EVERY row of a query
    * DataFrame in one pass over the index — the retrieval join a RAG/
    * augmentation pipeline runs, where per-query [[ivfTopK]] calls would
    * mean one index scan each.
    *
    * Shape: queries cross a broadcast centroid table (nCentroids rows) and
    * keep their nProbe best cells by a per-query keyed window; the distinct
    * probed cells (≤ nCentroids ids, one tiny collect) partition-prune the
    * index scan; the (query, cell) assignments then join the scan — by
    * broadcast when `broadcastQueries` (one pass over the index, no index
    * shuffle; right for query batches that fit executor memory), or by a
    * cell-keyed shuffle join for query sets too large to broadcast (the
    * index shuffles once on `__c`, amortized over the whole batch). Final
    * per-query top-k is another keyed window — never a global sort.
    */
  def ivfTopKBatch(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                   centroids: Seq[(Int, Seq[Float])],
                   queries: DataFrame, qIdCol: Column, qVecCol: Column,
                   idCol: Column, vecCol: Column, k: Int, nProbe: Int,
                   quantized: Boolean = true,
                   broadcastQueries: Boolean = true,
                   extraFilter: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cdf = {
      import spark.implicits._
      centroids.map { case (i, c) => (i, c.toArray) }.toDF("__cc", "__cv")
    }
    val cellRank = Window.partitionBy(col("__qid"))
      .orderBy(col("__cs").desc, col("__cc"))
    // quantized mode pre-computes each side's quantization + norm ONCE PER
    // ROW (queries here, index rows below): cosineQuantized inline in the
    // join projection would re-fold the interpreted quantize transforms
    // 2× per JOINED PAIR — measured as the dominant stage of the sf0.1
    // batch gates (16 s of task time for a 0.07 MB shuffle). The
    // assignment frame carries (q̂_quantized, norm) instead of the raw
    // vector — same broadcast size class, and the raw vector is not
    // needed downstream.
    val qprep = queries.select(qIdCol.as("__qid"), qVecCol.as("__qv"))
    val assigned0 = (if (quantized)
        qprep.withColumn("__qq", quantize(col("__qv")))
          .withColumn("__qn", sqrt(
            graft.functions.VecDot(col("__qq"), col("__qq")).cast("double")))
      else qprep)
      .crossJoin(broadcast(cdf))
      .withColumn("__cs", cosine(col("__qv"), col("__cv")))
      .withColumn("__r", row_number().over(cellRank))
      .filter(col("__r") <= nProbe)
    val assigned =
      if (quantized) assigned0.select(col("__qid"), col("__qq"), col("__qn"),
        col("__cc"))
      else assigned0.select(col("__qid"), col("__qv"), col("__cc"))
    // Cell pruning of the index scan. Full-probe configs (nProbe >=
    // nCentroids — the exact-equivalence oracle mode) probe every cell by
    // construction, so the union is known statically without a job. Pruned
    // configs with a BROADCAST assignment side prune via DYNAMIC partition
    // pruning riding the join instead of the old eager distinct+collect:
    // the assignment subtree then executes ONCE (the reused broadcast
    // exchange feeds both the scan's partition filter and the join) where
    // the collect ran it twice and paid a driver round-trip per execution
    // (r21 VERDICT item 5). The non-broadcast fallback (query batches too
    // big to broadcast) keeps the explicit collect: DPP's default
    // reuseBroadcastOnly mode cannot prune through a shuffle join, and one
    // extra job is noise against a batch that size.
    val probedStatic: Option[Seq[Int]] =
      if (nProbe >= centroids.length) Some(centroids.map(_._1))
      else if (!broadcastQueries)
        Some(assigned.select(col("__cc")).distinct()
          .collect().map(_.getInt(0)).toSeq)
      else None
    // the PRE-FILTER mode of filtered retrieval, same contract as
    // ivfTopK's: the metadata predicate composes with the cell partition
    // filter and pushes into the pruned parquet scan, so candidates are
    // filtered BEFORE ranking for EVERY query of the batch
    val idx0 = (probedStatic match {
        case Some(p) => spark.read.parquet(indexPath)
          .filter(col("__c").isin(p: _*))
        case None => spark.read.parquet(indexPath)
      })
      .filter(extraFilter.getOrElse(lit(true)))
    val idx =
      if (quantized) idx0.select(idCol.as("__xid"), col("__c"),
          quantize(vecCol).as("__xq"))
        .withColumn("__xn", sqrt(
          graft.functions.VecDot(col("__xq"), col("__xq")).cast("double")))
      else idx0
    val asn = if (broadcastQueries) broadcast(assigned) else assigned
    val score =
      if (quantized) cosineQuantizedPre2(col("__xq"), col("__xn"),
        col("__qq"), col("__qn"))
      else cosine(vecCol, col("__qv"))
    val outId = if (quantized) col("__xid") else idCol
    idx.join(asn, idx("__c") === asn("__cc"))
      .select(col("__qid").as("qid"), outId.as("id"), score.as("__s"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("__s").desc, col("id")))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("rank"), round(col("__s"), 6).as("score"))
  }

  // ---- Product quantization (IVF-PQ) ----------------------------------
  //
  // The 100 TB ANN economics: an IVF cell probe still reads full vectors
  // (dim floats/row — 256 B at dim 64). PQ stores M one-byte codes per
  // vector instead (8 B at M=8, a 32× scan-width cut), scores candidates
  // with an O(M) table lookup per row (PqAdc, codegen), and re-ranks only
  // the top ADC candidates against exact vectors. Codebooks are trained on
  // UNIT-NORMALIZED vectors so the ADC sum approximates dot(q̂, x̂) =
  // cosine(q, x) directly — no stored norms needed at probe time.

  /** Unit-normalize an array<float|double> column (zero vectors pass
    * through unchanged — their cosine against anything is already 0/NaN).
    */
  def normalize(a: Column): Column = {
    val n = sqrt(graft.functions.VecDot(a, a))
    when(n === 0.0, transform(a, x => x.cast("double")))
      .otherwise(transform(a, x => x.cast("double") / n))
  }

  private def pqSlice(nv: Column, sub: Int, dsub: Int): Column =
    slice(nv, sub * dsub + 1, dsub)

  /** Train PQ codebooks on the unit-normalized vectors: `m` subspaces of
    * `dim/m` elements, `k` codewords each. Deterministic — hash-ordered
    * seed sample plus `iters` Lloyd rounds, each round ONE aggregation job
    * covering all m subspaces at once (explode to (sub, code, pos) triples,
    * partial-aggregated average); the collected result is m·k·dsub doubles,
    * independent of corpus size. Empty cells keep their seed codeword.
    */
  def pqTrain(df: DataFrame, vecCol: Column, idCol: Column, dim: Int,
              m: Int, k: Int, iters: Int = 2): Seq[Seq[Seq[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into $m subspaces")
    // full unsigned-byte range: codes are stored offset-encoded as
    // (code - 128).toByte, so k = 256 (the standard PQ codebook size —
    // double the recall-per-byte of a signed-byte-only k = 128) still
    // costs one byte per subspace
    require(k > 1 && k <= 256, "codebook size must fit one byte")
    val dsub = dim / m
    val seeds = df.select(idCol.as("id"), normalize(vecCol).as("nv"))
      .orderBy(xxhash64(col("id")), col("id")).limit(k)
      .collect().map(_.getSeq[Double](1))
    require(seeds.nonEmpty, "pqTrain needs a non-empty corpus")
    // short seed sets recycle rows (k distinct codewords are not required
    // for correctness, only for quantization quality)
    var books: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      (0 until k).map(j => seeds(j % seeds.length)
        .slice(s * dsub, s * dsub + dsub).toSeq)
    }
    val nvDf = df.select(normalize(vecCol).as("__nv"))
    for (_ <- 0 until iters) {
      val parts = (0 until m).map { s =>
        struct(lit(s).as("s"),
          graft.functions.ArgMinL2(col("__nv"), books(s), s * dsub).as("c"),
          pqSlice(col("__nv"), s, dsub).as("sv"))
      }
      // exact decimal sums + driver division, same merge-order-insensitivity
      // argument as refineCentroids: the codebooks are persisted in _pq.txt
      // and reloaded with an exact compare
      val means = nvDf.select(explode(array(parts: _*)).as("e"))
        .select(col("e.s").as("s"), col("e.c").as("c"),
          posexplode(col("e.sv")).as(Seq("p", "x")))
        .groupBy("s", "c", "p")
        .agg(sum(col("x").cast("decimal(38,18)")).as("sm"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          (r.getInt(2), r.getDecimal(3).doubleValue() / r.getLong(4))))
        .groupBy(_._1).map { case (sc, rows) =>
          sc -> rows.map(_._2).sortBy(_._1).map(_._2).toSeq
        }
      books = (0 until m).map { s =>
        (0 until k).map(j => means.getOrElse((s, j), books(s)(j)))
      }
    }
    books
  }

  /** Byte-offset used to pack an unsigned code `[0, 256)` into a signed
    * byte: stored = code - 128, decoded back inside [[graft.functions.PqAdc]].
    */
  val PqCodeOffset = 128

  /** Encode the unit-normalized vector as `m` one-byte codewords — m
    * O(1)-code-size native argmin loops over one shared normalized array.
    * Codes are offset-encoded (`code - 128`) so the full unsigned range
    * fits parquet's signed byte type.
    */
  def pqEncode(vecCol: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val m = books.length
    val dsub = books.head.head.length
    val nv = normalize(vecCol)
    array((0 until m).map { s =>
      (graft.functions.ArgMinL2(nv, books(s), s * dsub) - PqCodeOffset)
        .cast("byte")
    }: _*)
  }

  /** Build an IVF-PQ index at `indexPath`: coarse IVF cells laid out as
    * partitions (same pruning as [[ivfBuild]]), but each row stores only
    * (id, m-byte code array). Codebooks and coarse centroids persist next
    * to the data keyed by (recipe, dataset fingerprint).
    *
    * `keep` names source columns persisted ALONGSIDE the codes — the
    * filterable-attribute store of filtered vector search (the FAISS/
    * Vespa metadata-field pattern): a metadata predicate over them pushes
    * into the pruned codes scan, filtering candidates BEFORE the ADC
    * ranking. Each kept column widens the scan, so keep only what
    * predicates actually reference.
    */
  def ivfPqBuild(df: DataFrame, vecCol: Column, idCol: Column,
                 nCentroids: Int, m: Int, k: Int, indexPath: String,
                 refineIters: Int = 2, pqIters: Int = 2,
                 keep: Seq[String] = Nil)
      : (Seq[(Int, Seq[Float])], Seq[Seq[Seq[Double]]]) = {
    val dim = df.select(size(vecCol)).first().getInt(0)
    val coarse = refineCentroids(df, vecCol,
      sampleCentroids(df, vecCol, idCol, nCentroids), refineIters)
    val books = pqTrain(df, vecCol, idCol, dim, m, k, pqIters)
    ivfAssign(df.select(idCol.as("__id") +: vecCol.as("__v") +:
        keep.map(col): _*), col("__v"), coarse)
      .select(col("__id") +: pqEncode(col("__v"), books).as("__codes") +:
        (keep.map(col) :+ col("__c")): _*)
      .repartition(coarse.length, col("__c")) // ~one task per cell (see ivfBuild)
      .storeWrite.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__c").parquet(indexPath)
    (coarse, books)
  }

  /** Fingerprint-guarded [[ivfPqBuild]] — same contract as
    * [[ivfBuildIfMissing]]: a cached index at the same path is reused only
    * when the dataset fingerprint AND build recipe match. v2 of the recipe
    * is exact decimal means + offset-encoded codes — a v1 index's stored
    * bytes decode differently, so the version tag forces its rebuild. A
    * changed `keep` column set changes the stored schema, so it is part of
    * the recipe (absent entirely when empty, keeping pre-keep indexes
    * valid).
    */
  def ivfPqBuildIfMissing(df: DataFrame, vecCol: Column, idCol: Column,
                          nCentroids: Int, m: Int, k: Int, indexPath: String,
                          refineIters: Int = 2, pqIters: Int = 2,
                          keep: Seq[String] = Nil)
      : (Seq[(Int, Seq[Float])], Seq[Seq[Seq[Double]]]) =
    IndexMeta.validateOrBuild(IndexMeta.Pq, indexPath, "IVF-PQ index",
        s"${corpusMemoIdentity(df)}|$nCentroids;$m;$k;$refineIters;$pqIters;" +
          keep.mkString("|"))(
      pqRecipe(datasetFingerprint(df, idCol), m, k, refineIters, pqIters,
        nCentroids, keep))(
      ivfPqBuild(df, vecCol, idCol, nCentroids, m, k, indexPath, refineIters,
        pqIters, keep))

  /** The build recipe an IVF-PQ meta header records (see [[IndexMeta.Pq]]). */
  private def pqRecipe(fp: String, m: Int, k: Int, lloyd: Int, pqIters: Int,
                       nCentroids: Int, keep: Seq[String]): String = {
    val keepTag = if (keep.isEmpty) "" else s"keep=${keep.mkString("|")};"
    s"fp=$fp;m=$m;k=$k;lloyd=$lloyd;pq=$pqIters;c=$nCentroids;${keepTag}v=2"
  }

  /** The kept metadata columns an IVF-PQ meta header records. */
  private def keptColumns(header: String): Seq[String] =
    IndexMeta.field(header, "keep").map(_.split('|').toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

  /** Batched ANN over an IVF-PQ index: top-k corpus neighbors for EVERY
    * query row in one pass over the CODES — [[ivfTopKBatch]]'s retrieval
    * join at [[ivfPqTopK]]'s scan width (8 B/row of codes instead of full
    * vectors).
    *
    * The single-query ADC trick (a driver-built per-query LUT) doesn't
    * compose with a batch join, so scoring uses [[graft.functions.PqAdcVec]]:
    * the fused `dot(reconstruct(codes), q̂)` loop over the shared codebook
    * reference, with each pair's normalized query read straight from the
    * joined row. Per-query ADC candidates (`refineK` by keyed window) then
    * re-rank exactly against the base table — the candidate set is
    * queries×refineK ids, a broadcast at any real batch size, so the exact
    * pass is a point-lookup-shaped read, never a second corpus scan.
    * Full probe + refineK ≥ corpus degrades to exact (the oracle
    * configuration); `refineK <= 0` returns raw ADC rankings.
    */
  def ivfPqTopKBatch(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, coarse: Seq[(Int, Seq[Float])],
                     books: Seq[Seq[Seq[Double]]], base: DataFrame,
                     vecCol: Column, idCol: Column, queries: DataFrame,
                     qIdCol: Column, qVecCol: Column, k: Int, nProbe: Int,
                     refineK: Int, quantized: Boolean = true,
                     broadcastQueries: Boolean = true,
                     extraFilter: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cdf = {
      import spark.implicits._
      coarse.map { case (i, c) => (i, c.toArray) }.toDF("__cc", "__cv")
    }
    val cellRank = Window.partitionBy(col("__qid"))
      .orderBy(col("__cs").desc, col("__cc"))
    // the nProbe-expanded assignment frame carries ONLY (__qid, q̂, cell):
    // cell ranking on q̂ equals ranking on q (cosine is scale-invariant),
    // and the raw vector joins back from the compact one-row-per-query
    // table at refine time — at production batch sizes the expanded frame
    // would otherwise broadcast nProbe redundant dim-vectors per query
    val assigned = queries
      .select(qIdCol.as("__qid"), normalize(qVecCol).as("__qhat"))
      .crossJoin(broadcast(cdf))
      .withColumn("__cs", cosine(col("__qhat"), col("__cv")))
      .withColumn("__r", row_number().over(cellRank))
      .filter(col("__r") <= nProbe)
      .select(col("__qid"), col("__qhat"), col("__cc"))
    // cell pruning: static for full probe, DYNAMIC partition pruning via
    // the broadcast assignment join for pruned probes, explicit collect
    // only on the non-broadcast fallback — see ivfTopKBatch's note
    val probedStatic: Option[Seq[Int]] =
      if (nProbe >= coarse.length) Some(coarse.map(_._1))
      else if (!broadcastQueries)
        Some(assigned.select(col("__cc")).distinct()
          .collect().map(_.getInt(0)).toSeq)
      else None
    // pre-filter mode over the KEPT metadata columns (ivfPqBuild `keep`):
    // the predicate composes with the cell partition filter into the
    // pruned codes scan, so candidates are filtered BEFORE the ADC
    // ranking — and therefore before the refine re-rank too
    val idx = (probedStatic match {
        case Some(p) => spark.read.parquet(indexPath)
          .filter(col("__c").isin(p: _*))
        case None => spark.read.parquet(indexPath)
      })
      .filter(extraFilter.getOrElse(lit(true)))
    // one flag governs EVERY query-derived broadcast in this plan: the
    // assignment frame here, and the candidate/query tables in the refine
    // joins below — they all scale with batch size, so a batch too big to
    // broadcast into the ADC join is too big for the refine joins too
    // (queries x refineK candidate rows). broadcastQueries = false keeps
    // them as shuffle joins: the candidate-keyed base-table join shuffles
    // once on id, amortized over the whole batch.
    def maybeB(d: DataFrame): DataFrame =
      if (broadcastQueries) broadcast(d) else d
    val asn = maybeB(assigned)
    val adc = idx.join(asn, idx("__c") === asn("__cc"))
      .select(col("__qid"), col("__id"),
        graft.functions.PqAdcVec(col("__codes"), col("__qhat"), books,
          PqCodeOffset).as("__adc"))
    val adcRank = Window.partitionBy(col("__qid"))
      .orderBy(col("__adc").desc, col("__id"))
    if (refineK <= 0)
      adc.withColumn("rank", row_number().over(adcRank).cast("long"))
        .filter(col("rank") <= k)
        .select(col("__qid").as("qid"), col("__id").as("id"), col("rank"),
          round(col("__adc"), 6).as("score"))
    else {
      val cand = adc.withColumn("__cr", row_number().over(adcRank))
        .filter(col("__cr") <= refineK)
        .select(col("__qid"), col("__id"))
      // raw query vectors re-enter here, one row per query (ids must be
      // unique per query row, as in any retrieval join). Quantized mode
      // pre-quantizes the query side per QUERY ROW and the candidate side
      // once per surviving pair (a single transform instead of
      // cosineQuantized's four interpreted re-folds per pair).
      val qtab =
        if (quantized) queries
          .select(qIdCol.as("__qid2"), quantize(qVecCol).as("__qq"))
          .withColumn("__qn", sqrt(
            graft.functions.VecDot(col("__qq"), col("__qq")).cast("double")))
        else queries.select(qIdCol.as("__qid2"), qVecCol.as("__qv"))
      val joined0 = base.join(maybeB(cand), idCol === col("__id"))
      val joined =
        if (quantized) joined0.withColumn("__xq", quantize(vecCol))
          .withColumn("__xn", sqrt(
            graft.functions.VecDot(col("__xq"), col("__xq")).cast("double")))
        else joined0
      val score =
        if (quantized) cosineQuantizedPre2(col("__xq"), col("__xn"),
          col("__qq"), col("__qn"))
        else cosine(vecCol, col("__qv"))
      joined
        .join(maybeB(qtab), col("__qid") === col("__qid2"))
        .select(col("__qid").as("qid"), idCol.as("id"), score.as("__s"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("__s").desc, col("id")))
          .cast("long"))
        .filter(col("rank") <= k)
        .select(col("qid"), col("id"), col("rank"),
          round(col("__s"), 6).as("score"))
    }
  }

  /** ANN top-k over an IVF-PQ index: prune to the `nProbe` nearest cells,
    * ADC-score the code rows (O(M) lookups/row over an 8-byte column — the
    * scan reads no vectors), keep the top `refineK` candidates, then
    * re-rank exactly: the candidate ids (a bounded broadcast) semi-join the
    * base table, which at 100 TB is a point-lookup-shaped read of refineK
    * rows, not a second corpus scan. `refineK <= 0` skips the re-rank and
    * returns raw ADC scores. Full probe + refineK >= corpus degrades to
    * exact top-k (the oracle configuration, like [[ivfTopK]]'s).
    */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                coarse: Seq[(Int, Seq[Float])], books: Seq[Seq[Seq[Double]]],
                base: DataFrame, vecCol: Column, idCol: Column,
                query: Seq[Float], k: Int, nProbe: Int, refineK: Int,
                quantized: Boolean = true,
                extraFilter: Option[Column] = None): DataFrame = {
    val probes = coarse.sortBy { case (i, c) => (-cosLocal(c, query), i) }
      .take(nProbe).map(_._1)
    val dsub = books.head.head.length
    val qn = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    val qhat = if (qn == 0.0) query.map(_.toDouble)
               else query.map(_.toDouble / qn)
    val lut = books.zipWithIndex.map { case (book, s) =>
      val qs = qhat.slice(s * dsub, s * dsub + dsub)
      book.map(cw => cw.zip(qs).map { case (a, b) => a * b }.sum)
    }
    val adc = spark.read.parquet(indexPath)
      .filter(col("__c").isin(probes: _*))
      .filter(extraFilter.getOrElse(lit(true))) // pre-filter on kept cols
      .select(col("__id"),
        graft.functions.PqAdc(col("__codes"), lut, PqCodeOffset).as("__adc"))
    if (refineK <= 0)
      adc.select(col("__id").as("id"), col("__adc"))
        .orderBy(col("__adc").desc, col("id")).limit(k)
        .select(col("id"), round(col("__adc"), 6).as("score"))
    else {
      val cand = adc.orderBy(col("__adc").desc, col("__id")).limit(refineK)
        .select(col("__id"))
      // rank on the UNROUNDED score (the oracle's ORDER BY), round only in
      // the final projection; quantized mode folds the literal query side
      // at plan time and quantizes each candidate row once
      val scored =
        if (quantized) base.join(broadcast(cand), idCol === col("__id"))
          .select(idCol.as("id"), quantize(vecCol).as("__xq"))
          .select(col("id"),
            cosineQuantizedPre(col("__xq"), quantizeLocal(query)).as("__s"))
        else base.join(broadcast(cand), idCol === col("__id"))
          .select(idCol.as("id"), cosine(vecCol, lit(query.toArray)).as("__s"))
      scored.orderBy(col("__s").desc, col("id")).limit(k)
        .select(col("id"), round(col("__s"), 6).as("score"))
    }
  }
}
