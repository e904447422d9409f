package graft.tools

import org.apache.spark.sql.functions._

/** Standing close-out assertion for the maintenance lifecycle under REAL
  * multi-process executors: drives a flip + lease + GC + restart-discovery
  * cycle through [[graft.GraftDB]] and checks the /metrics-surface fields
  * ([[graft.GraftDB.maintainedStats]]: activePath, generation, pendingGc,
  * leasedGc) at every step. The NIO-side machinery this pins — sibling
  * enumeration in discoverGeneration, recursive generation GC, the
  * pendingDeletes queue — runs on the DRIVER against the same filesystem
  * executors read through, so a local-cluster run (closeout.sh) verifies
  * the multi-JVM shared-FS assumptions each round.
  *
  * Exits non-zero on any violated expectation (closeout.sh runs under
  * `set -e`).
  *
  * Run: SPARK_GRAFT_MASTER='local-cluster[4,8,4096]' SPARK_GRAFT_JARS=...
  *      sbt "runMain graft.tools.MaintLifecycleCheck"
  */
object MaintLifecycleCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.fromEnv()
    import spark.implicits._

    def check(cond: Boolean, what: String): Unit =
      if (cond) println(s"[maint-check] OK   $what")
      else { System.err.println(s"[maint-check] FAIL $what"); sys.exit(1) }

    val idx = java.nio.file.Files
      .createTempDirectory("maint-check").toString + "/i"
    def exists(p: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    val seed = (0L until 30L).map(i => (i, s"maint check seed text $i"))
      .toDF("doc_id", "text")
    graft.pipeline.Dedup.buildNearDupIndexIfMissing(seed, col("text"),
      col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
    def fragment(at: String, round: Int): Unit =
      graft.pipeline.Dedup.nearDupIncremental(
        (0L until 20L).map(i => (1000L * round + i, s"mc round $round doc $i"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), at, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = true)
    for (r <- 1 to 2) fragment(idx, r)
    val rows = spark.read.parquet(idx).count()

    val db = new graft.GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      java.nio.file.Files.createTempDirectory("maint-check-db").toString)
    db.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)

    val t1 = db.maintenanceTick()
    check(t1.exists { case (n, s) => n == "nd" && s == s"compacted -> $idx-g1" },
      s"tick 1 flips to -g1 (got $t1)")
    // the compaction's reads pin the superseded generation through the exec
    // listener, which releases on the async listener bus — poll briefly
    val flip0 = System.nanoTime()
    while (db.maintainedStats("nd")._4 > 0 &&
        System.nanoTime() - flip0 < 60L * 1000000000L) Thread.sleep(20)
    val s1 = db.maintainedStats("nd")
    check(s1 == ((s"$idx-g1", 1, 1, 0)),
      s"stats after flip: active=-g1 gen=1 pendingGc=1 leasedGc=0 (got $s1)")

    // a reader lease pins the superseded generation across the GC tick
    val lease = db.pinPath(idx)
    val t2 = db.maintenanceTick()
    check(t2.exists { case (n, s) => n == "nd" && s.startsWith("ok") },
      s"tick 2 reports ok (got $t2)")
    check(exists(idx), "leased superseded generation survives the GC tick")
    val s2 = db.maintainedStats("nd")
    check(s2._3 == 1 && s2._4 == 1,
      s"stats while leased: pendingGc=1 leasedGc=1 (got $s2)")
    check(spark.read.parquet(idx).count() == rows,
      "executors still read the pinned generation through the shared FS")

    lease.close()
    db.maintenanceTick()
    check(!exists(idx), "drained generation GC'd on the following tick")
    val s3 = db.maintainedStats("nd")
    check(s3._3 == 0 && s3._4 == 0,
      s"stats after GC: pendingGc=0 leasedGc=0 (got $s3)")
    check(spark.read.parquet(s"$idx-g1").count() == rows,
      "compacted generation serves the full row count")

    // second flip + GC, then restart-discovery with a hole at -g1: the
    // sibling scan must land on -g2 and number the next flip -g3
    fragment(s"$idx-g1", 3)
    val t4 = db.maintenanceTick()
    check(t4.exists { case (n, s) => n == "nd" && s == s"compacted -> $idx-g2" },
      s"tick 4 flips to -g2 (got $t4)")
    db.maintenanceTick()
    check(!exists(s"$idx-g1"), "superseded -g1 GC'd")
    val db2 = new graft.GraftDB(spark,
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n",
      java.nio.file.Files.createTempDirectory("maint-check-db2").toString)
    db2.registerDedupMaintenance("nd", idx, maxFilesPerPrefix = 1,
      gcOldGenerations = true)
    val s4 = db2.maintainedStats("nd")
    check(s4._1 == s"$idx-g2" && s4._2 == 2,
      s"restart discovery resumes at -g2 with base and -g1 both GC'd (got $s4)")
    fragment(s"$idx-g2", 4)
    val t6 = db2.maintenanceTick()
    check(t6.exists { case (n, s) => n == "nd" && s == s"compacted -> $idx-g3" },
      s"post-restart flip numbers -g3, past the live generation (got $t6)")
    db2.maintenanceTick() // GC -g2 so the declarative phase starts clean

    // declarative + orphan lifecycle under the same executors: a yaml
    // `dedupindex:` entry enrolls at boot (discovery lands on the live
    // generation), a flip queues the superseded copy, an ALTER that drops
    // the entry mid-queue hands it to the orphan GC, and the next tick —
    // with the enrollment GONE — still reclaims the directory
    val tableYaml =
      "combined:\n  sql: >\n    SELECT requests FROM inbound GROUP BY server, period(5m)\n"
    val db3Base =
      java.nio.file.Files.createTempDirectory("maint-check-db3").toString
    val db3 = new graft.GraftDB(spark,
      s"""${tableYaml}nd_idx:
         |  dedupindex: $idx
         |  maintain: true
         |  maintainfiles: 1
         |  maintaingc: true
         |""".stripMargin,
      db3Base)
    check(db3.maintainedState("nd_idx").exists(_._1 == s"$idx-g3"),
      s"yaml dedupindex boot discovers -g3 (got ${db3.maintainedState("nd_idx")})")
    fragment(s"$idx-g3", 6)
    val preFlip = spark.read.parquet(s"$idx-g3").count()
    val t7 = db3.maintenanceTick()
    check(t7.exists { case (n, s) =>
      n == "nd_idx" && s == s"compacted -> $idx-g4" },
      s"yaml-enrolled tick flips to -g4 (got $t7)")
    db3.alter(tableYaml)
    check(db3.maintainedState("nd_idx").isEmpty && exists(s"$idx-g3"),
      "ALTER detach leaves the queued generation on disk for the orphan GC")
    check(db3.orphanGcStats == ((1, 0)),
      s"orphan queue visible on the metrics surface (got ${db3.orphanGcStats})")
    // "crash" between the detach and the drain: the orphan queue must be
    // restart-durable ($baseDir/_orphan_gc.txt) — a fresh boot over the
    // same baseDir has no enrollment left whose sibling scan could
    // re-derive the queued dir, so only the durable twin prevents a leak
    val db4 = new graft.GraftDB(spark, tableYaml, db3Base)
    check(db4.orphanGcStats == ((1, 0)),
      s"durable orphan queue reloads after restart (got ${db4.orphanGcStats})")
    val t8 = db4.maintenanceTick()
    check(t8.exists { case (n, s) => n == "_orphans" && s == "gc'd 1" },
      s"post-restart orphan drain reported (got $t8)")
    check(!exists(s"$idx-g3") && db4.orphanGcStats == ((0, 0)),
      "detached enrollment's superseded generation reclaimed after restart")
    // the invariant is flip-preserves-rows (admits per batch vary: the
    // MinHash estimate can reject a J≈0.8 pair at 64 hashes)
    check(spark.read.parquet(s"$idx-g4").count() == preFlip,
      "final flip preserves every admitted row")

    // lazy-frame lease transfer under the same multi-JVM executors: a
    // sql() frame issued before a flip holds its issue lease across ticks
    // (the superseded generation survives GC), the lease drains when the
    // frame's first action completes, and the GC then proceeds — the
    // QueryExecutionListener release path and the leasedGc metrics
    // surface, previously spec-tested in local[32] only
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(6)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val annIdx = java.nio.file.Files
      .createTempDirectory("maint-check-ann").toString + "/i"
    graft.pipeline.Similarity.ivfBuildIfMissing(vecs, col("embedding"),
      col("vec_id"), nCentroids = 4, annIdx)
    val db5 = new graft.GraftDB(spark, tableYaml,
      java.nio.file.Files.createTempDirectory("maint-check-db5").toString)
    db5.registerAnnIndex("vidx", annIdx, "embedding", "vec_id",
      quantized = false)
    db5.registerAnnMaintenance("vidx", annIdx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 0.0, gcOldGenerations = true)
    val qv = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val vecLit = qv.map(f => new java.math.BigDecimal(f.toString)
      .toPlainString).mkString(",")
    val frame = db5.sql(
      s"SELECT score FROM SIMSEARCH('vidx', [$vecLit], 3, 4) GROUP BY id")
    check(db5.leaseCount(annIdx) == 1,
      s"issued frame holds its lease (got ${db5.leaseCount(annIdx)})")
    val t9 = db5.maintenanceTick() // budget 0: flip to -g1, base queued
    check(t9.exists { case (n, s) =>
      n == "vidx" && s == s"re-clustered -> $annIdx-g1" },
      s"tick flips the ANN index under the leased frame (got $t9)")
    db5.registerAnnMaintenance("vidx", annIdx, "embedding", "vec_id",
      nProbe = 4, scanBudget = 2.0, gcOldGenerations = true) // stop rebuilds
    db5.maintenanceTick()
    check(exists(annIdx),
      "the leased frame's generation survives a GC tick unexecuted")
    val s5 = db5.maintainedStats("vidx")
    check(s5._3 == 1 && s5._4 == 1,
      s"stats while frame-leased: pendingGc=1 leasedGc=1 (got $s5)")
    check(frame.collect().length == 3,
      "the frame's first action reads the pinned generation")
    // the execution listener releases on the bus — poll briefly
    val lease0 = System.nanoTime()
    while (db5.leaseCount(annIdx) > 0 &&
        System.nanoTime() - lease0 < 60L * 1000000000L) Thread.sleep(20)
    check(db5.leaseCount(annIdx) == 0,
      "the issue lease drains when the frame's action completes")
    db5.maintenanceTick()
    check(!exists(annIdx) && exists(s"$annIdx-g1"),
      "GC proceeds once the executed frame's lease is gone")

    println("[maint-check] PASS all lifecycle assertions")
    spark.stop()
  }
}
