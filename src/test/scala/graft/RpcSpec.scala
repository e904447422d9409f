package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.server.{RpcClient, RpcServer}

/** Round trip over the RPC surface ≅ the reference's rpc/server test
  * (rpc/server/rpc_test.go): streaming insert, streamed query results,
  * follow delivering subsequent inserts.
  */
class RpcSpec extends AnyFunSuite with TestSession {

  private val T0 = 1700000000000L

  test("RPC insert (client-streaming) + query (server-streaming) + follow") {
    val dir = Files.createTempDirectory("graft-rpc").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new RpcServer(spark, db, 0)
    val port = srv.start()
    try {
      val client = new RpcClient("localhost", port)

      // a follower subscribed BEFORE the inserts sees every batch
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val latch = new CountDownLatch(2)
      val follower = client.follow("inbound") { lines =>
        seen.add(lines); latch.countDown()
      }
      Thread.sleep(200) // let the FOLLOW registration land

      // two POINTS frames in ONE streaming insert call
      val n = client.insert("inbound", Seq(
        Seq(
          s"""{"ts": $T0, "dims": {"server": "s1"}, "vals": {"requests": 56}}""",
          s"""{"ts": ${T0 + 1000}, "dims": {"server": "s1"}, "vals": {"requests": 12}}"""
        ).mkString("\n"),
        s"""{"ts": ${T0 + 2000}, "dims": {"server": "s2"}, "vals": {"requests": 30}}"""))
      assert(n == 3)

      val (cols, rows, stats) = client.queryWithStats(
        "SELECT _points, requests FROM combined GROUP BY server ORDER BY requests DESC")
      assert(cols == Seq("_time", "server", "_points", "requests"))
      assert(rows.length == 2)
      assert(rows(0).contains("\"server\":\"s1\"") && rows(0).contains("\"requests\":68.0"))
      assert(rows(1).contains("\"server\":\"s2\"") && rows(1).contains("\"requests\":30.0"))
      // the END frame carries QueryStats (common.QueryStats analogue)
      assert(stats.contains("\"rows\":2") && stats.contains("\"completed\":true"), stats)

      // both POINTS frames reached the follower
      assert(latch.await(10, TimeUnit.SECONDS))
      val delivered = seen.toArray.mkString("\n")
      assert(delivered.contains("\"requests\":56"))
      assert(delivered.contains("\"server\":\"s2\""))
      follower.close()

      // errors come back as ERR frames, not hung connections
      val ex = intercept[RuntimeException](client.query("SELECT nope FROM missing"))
      assert(String.valueOf(ex.getMessage).contains("ERR"))
    } finally srv.stop()
  }

  test("FOLLOW backlog replay: since-marker resumes committed batches, then live") {
    // the reference's Follow replays from a client-held WAL offset before
    // going live (rpc/rpc.go Follow, cluster_follow.go); graft replays from
    // the bounded follow journal of committed insert batches
    val dir = Files.createTempDirectory("graft-rpc-replay").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new RpcServer(spark, db, 0)
    val port = srv.start()
    try {
      val client = new RpcClient("localhost", port)
      def point(i: Int) =
        s"""{"ts": ${T0 + i * 1000}, "dims": {"server": "s$i"}, "vals": {"requests": $i}}"""

      // two batches committed BEFORE any follower exists
      client.insert("inbound", Seq(point(1)))
      client.insert("inbound", Seq(point(2)))

      // entries are gzip-compressed on disk — the byte-capped replay
      // horizon reaches ~5-10× further back at the same cap
      val e1 = java.nio.file.Paths.get(dir, "_follow", "inbound", "1.jsonl")
      val parts = GraftDB.entryFiles(e1)
      assert(parts.nonEmpty &&
        parts.forall(_.getFileName.toString.endsWith(".gz")), parts)

      // subscribe from the beginning: both committed batches replay as
      // backlog, each frame carrying its dense marker with the end flag
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      var lastDone = 0L
      val latch1 = new CountDownLatch(2)
      val f1 = client.followSince("inbound", Some(0L)) { (m, lines, end) =>
        got.add(m -> lines)
        if (end) { lastDone = m; latch1.countDown() }
      }()
      assert(latch1.await(10, TimeUnit.SECONDS))
      assert(got.toArray(Array.empty[(Long, String)]).map(_._1).toSeq == Seq(1L, 2L))
      assert(got.peek()._2.contains("\"requests\":1"))
      assert(lastDone == 2L)

      // live tail: a batch inserted while subscribed arrives with marker 3
      val latch2 = new CountDownLatch(1)
      val live = new java.util.concurrent.atomic.AtomicReference[(Long, String)]()
      val f1b = client.followSince("inbound", Some(lastDone)) { (m, lines, end) =>
        if (end && m > 2) { live.set(m -> lines); latch2.countDown() }
      }()
      f1.close()
      Thread.sleep(300) // subscription lands
      client.insert("inbound", Seq(point(3)))
      assert(latch2.await(10, TimeUnit.SECONDS))
      assert(live.get()._1 == 3L && live.get()._2.contains("\"requests\":3"))
      f1b.close()

      // reconnect mid-stream: batches 4 and 5 land while disconnected;
      // resuming from the last end-flagged marker replays exactly them
      client.insert("inbound", Seq(point(4)))
      client.insert("inbound", Seq(point(5)))
      val resumed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val latch3 = new CountDownLatch(2)
      val f2 = client.followSince("inbound", Some(3L)) { (m, _, end) =>
        if (end) { resumed.add(m); latch3.countDown() }
      }()
      assert(latch3.await(10, TimeUnit.SECONDS))
      assert(resumed.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq ==
        Seq(4L, 5L))
      f2.close()

      // a marker ahead of the journal (wiped/foreign store) fails loud
      val err = new java.util.concurrent.atomic.AtomicReference[String]()
      val latch4 = new CountDownLatch(1)
      val f3 = client.followSince("inbound", Some(99L))((_, _, _) => ()) { e =>
        err.set(e); latch4.countDown()
      }
      assert(latch4.await(10, TimeUnit.SECONDS))
      assert(err.get().contains("replay gap"), err.get())
      f3.close()

      // a stream name that is a path-traversal attempt gets an ERR frame,
      // never a directory walk outside the data dir
      val travErr = new java.util.concurrent.atomic.AtomicReference[String]()
      val latch5 = new CountDownLatch(1)
      val f4 = client.followSince("../../../etc", Some(0L))((_, _, _) => ()) { e =>
        travErr.set(e); latch5.countDown()
      }
      assert(latch5.await(10, TimeUnit.SECONDS))
      assert(travErr.get().contains("invalid stream name"), travErr.get())
      f4.close()
    } finally srv.stop()
  }

  test("journal survives a restart: a new server over the same store replays the backlog") {
    // the in-memory journal state must seed from disk on first touch, so a
    // follower resuming against a RESTARTED server still gets every batch
    // committed before the restart (the reference's WAL outlives the
    // process; so must the journal)
    val dir = Files.createTempDirectory("graft-rpc-restart").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    def point(i: Int) =
      s"""{"ts": ${T0 + i * 1000}, "dims": {"server": "s$i"}, "vals": {"requests": $i}}"""

    val db1 = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv1 = new RpcServer(spark, db1, 0)
    val port1 = srv1.start()
    new RpcClient("localhost", port1).insert("inbound", Seq(point(1)))
    new RpcClient("localhost", port1).insert("inbound", Seq(point(2)))
    srv1.stop()

    // fresh process analogue: new GraftDB + server over the same store
    val db2 = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv2 = new RpcServer(spark, db2, 0)
    val port2 = srv2.start()
    try {
      val client = new RpcClient("localhost", port2)
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val latch = new CountDownLatch(3)
      val f = client.followSince("inbound", Some(0L)) { (m, _, end) =>
        if (end) { got.add(m); latch.countDown() }
      }()
      Thread.sleep(300)
      // markers continue the pre-restart sequence, not restart at 1
      client.insert("inbound", Seq(point(3)))
      assert(latch.await(15, TimeUnit.SECONDS))
      assert(got.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq ==
        Seq(1L, 2L, 3L))
      f.close()
    } finally srv2.stop()
  }

  test("concurrent inserts to one stream: a follower sees every marker, dense and in order") {
    // the journal's per-stream lock serializes marker allocation + publish
    // and followers read a dense in-memory deque — under real contention
    // the follower must still receive 1..N dense, in order, with no
    // replay-gap error
    val dir = Files.createTempDirectory("graft-rpc-conc").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new RpcServer(spark, db, 0)
    val port = srv.start()
    try {
      val client = new RpcClient("localhost", port)
      val total = 18
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val err = new java.util.concurrent.atomic.AtomicReference[String]()
      val latch = new CountDownLatch(total)
      val f = client.followSince("inbound", Some(0L)) { (m, _, end) =>
        if (end) { seen.add(m); latch.countDown() }
      } { e => err.set(e) }

      val insertErrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 3).map { t =>
        val th = new Thread(() => {
          try (1 to total / 3).foreach { i =>
            new RpcClient("localhost", port).insert("inbound", Seq(
              s"""{"ts": ${T0 + (t * 100 + i) * 1000}, "dims": {"server": "t$t"}, "vals": {"requests": $i}}"""))
          } catch { case e: Throwable => insertErrs.add(e) }
        })
        th.start(); th
      }
      threads.foreach(_.join(60000))
      assert(insertErrs.isEmpty, insertErrs.toArray.take(2).mkString("; "))

      assert(latch.await(30, TimeUnit.SECONDS),
        s"got ${seen.size}/$total markers; err=${err.get()}")
      assert(err.get() == null, String.valueOf(err.get()))
      val markers = seen.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq
      assert(markers == (1L to total.toLong), markers)
      f.close()
    } finally srv.stop()
  }

  test("FOLLOW behind the pruned journal horizon fails loud, never silently skips") {
    // markers are dense; once pruning removes entries a resuming follower
    // still needs, it must get ERR replay gap — a silent skip would drop
    // committed batches without the client ever knowing
    System.setProperty("graft.followJournalMaxEntries", "3")
    val dir = Files.createTempDirectory("graft-rpc-horizon").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new RpcServer(spark, db, 0)
    val port = srv.start()
    try {
      val client = new RpcClient("localhost", port)
      (1 to 5).foreach { i =>
        client.insert("inbound", Seq(
          s"""{"ts": ${T0 + i * 1000}, "dims": {"server": "s$i"}, "vals": {"requests": $i}}"""))
      }
      // entries 1-2 pruned (cap 3 keeps 3-5); resuming from 0 must error
      val err = new java.util.concurrent.atomic.AtomicReference[String]()
      val latch = new CountDownLatch(1)
      val f = client.followSince("inbound", Some(0L))((_, _, _) => ()) { e =>
        err.set(e); latch.countDown()
      }
      assert(latch.await(15, TimeUnit.SECONDS))
      assert(err.get().contains("replay gap"), err.get())
      f.close()
      // resuming from INSIDE the kept window still works
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val latch2 = new CountDownLatch(3)
      val f2 = client.followSince("inbound", Some(2L)) { (m, _, end) =>
        if (end) { got.add(m); latch2.countDown() }
      }()
      assert(latch2.await(15, TimeUnit.SECONDS))
      assert(got.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq ==
        Seq(3L, 4L, 5L))
      f2.close()
    } finally { srv.stop(); System.clearProperty("graft.followJournalMaxEntries") }
  }

  test("FOLLOW chunking: a fat batch splits across frames, end flag on the last") {
    val dir = Files.createTempDirectory("graft-rpc-chunk").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new RpcServer(spark, db, 0)
    val port = srv.start()
    try {
      val client = new RpcClient("localhost", port)
      // one insert batch of 1200 points > FollowChunkRows=500 → 3 frames
      val fat = (1 to 1200).map(i =>
        s"""{"ts": ${T0 + i}, "dims": {"server": "s${i % 7}"}, "vals": {"requests": $i}}""")
        .mkString("\n")
      client.insert("inbound", Seq(fat))

      val frames = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Boolean)]()
      val latch = new CountDownLatch(1)
      val f = client.followSince("inbound", Some(0L)) { (m, lines, end) =>
        frames.add((m, lines.split("\n").count(_.nonEmpty), end))
        if (end) latch.countDown()
      }()
      assert(latch.await(10, TimeUnit.SECONDS))
      val fs = frames.toArray(Array.empty[(Long, Int, Boolean)]).toSeq
      assert(fs.length == 3, fs.map(x => (x._1, x._2, x._3)))
      assert(fs.forall(_._1 == 1L)) // one batch = one marker
      assert(fs.map(_._2).sum == 1200) // no row lost or duplicated
      assert(fs.map(_._3) == Seq(false, false, true)) // end flags the last
      f.close()
    } finally srv.stop()
  }

  test("multi-follower soak: concurrent replay + live multi-stream inserts, every follower dense") {
    // several followers per stream (plain AND snappy transports) replay a
    // backlog while inserters keep committing to BOTH streams — every
    // follower must converge on the identical dense marker sequence for
    // its stream, with no replay-gap errors and no cross-stream bleed
    val dir = Files.createTempDirectory("graft-rpc-soak").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |out:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT sent FROM outbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new RpcServer(spark, db, 0)
    val port = srv.start()
    try {
      def point(stream: String, i: Int): String =
        if (stream == "inbound")
          s"""{"ts": ${T0 + i * 1000}, "dims": {"server": "s$i"}, "vals": {"requests": $i}}"""
        else
          s"""{"ts": ${T0 + i * 1000}, "dims": {"server": "s$i"}, "vals": {"sent": $i}}"""
      val perStream = 12
      val backlog = 4
      // backlog committed before any follower exists
      for (s <- Seq("inbound", "outbound"); i <- 1 to backlog)
        new RpcClient("localhost", port).insert(s, Seq(point(s, i)))

      final case class F(stream: String, snappy: Boolean) {
        val markers = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val err = new java.util.concurrent.atomic.AtomicReference[String]()
        val done = new CountDownLatch(perStream)
        val handle = new RpcClient("localhost", port, snappy)
          .followSince(stream, Some(0L)) { (m, _, end) =>
            if (end) { markers.add(m); done.countDown() }
          }(onError = e => err.set(e))
      }
      val followers = Seq(
        F("inbound", snappy = false), F("inbound", snappy = true),
        F("inbound", snappy = false), F("inbound", snappy = true),
        F("outbound", snappy = false), F("outbound", snappy = true))
      Thread.sleep(300) // subscriptions land; replay of the backlog begins

      // live phase: two inserter threads per stream fill in the rest
      val insertErrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = for (s <- Seq("inbound", "outbound"); t <- 0 until 2) yield {
        val th = new Thread(() => {
          try {
            val half = (perStream - backlog) / 2
            (1 to half).foreach { i =>
              new RpcClient("localhost", port).insert(s,
                Seq(point(s, backlog + t * half + i)))
            }
          } catch { case e: Throwable => insertErrs.add(e) }
        })
        th.start(); th
      }
      threads.foreach(_.join(120000))
      assert(insertErrs.isEmpty, insertErrs.toArray.take(2).mkString("; "))

      followers.foreach { f =>
        assert(f.done.await(60, TimeUnit.SECONDS),
          s"${f.stream} snappy=${f.snappy}: saw ${f.markers.size}/$perStream, err=${f.err.get()}")
        assert(f.err.get() == null, s"err=${f.err.get()}")
        val ms = f.markers.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq
        assert(ms == (1L to perStream.toLong), s"${f.stream}: $ms")
        f.handle.close()
      }
    } finally srv.stop()
  }

  test("failed journal append: follower gets WARN missed, stream continues, markers dense") {
    // the reference's WAL append failure fails the insert itself, so its
    // followers can't silently miss data (wal.go); here the merge commits
    // first and the journal is only the feed — a failed append must not
    // fail the insert, but the LOSS must be loud: WARN missed <marker>,
    // then the empty end-flagged frame so the resume cursor advances
    val dir = Files.createTempDirectory("graft-rpc-warn").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new RpcServer(spark, db, 0)
    val port = srv.start()
    try {
      val client = new RpcClient("localhost", port)
      def point(i: Int) =
        s"""{"ts": ${T0 + i * 1000}, "dims": {"server": "s$i"}, "vals": {"requests": $i}}"""
      client.insert("inbound", Seq(point(1)))

      val chunks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Boolean)]()
      val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val m1 = new CountDownLatch(1)
      val m3 = new CountDownLatch(3)
      val f = client.followSince("inbound", Some(0L)) { (m, lines, end) =>
        chunks.add((m, lines, end))
        if (end) { if (m == 1) m1.countDown(); m3.countDown() }
      }(onError = _ => (), onWarn = w => warns.add(w))
      assert(m1.await(10, TimeUnit.SECONDS)) // marker 1 replayed with data

      // induce an append failure: replace the stream's journal dir with a
      // plain FILE — the distributed entry write and even the failure
      // stamp's createDirectories both fail (running as root bypasses
      // permission bits, so a read-only dir can't induce this)
      val jdir = java.nio.file.Paths.get(dir, "_follow", "inbound")
      GraftDB.deleteRecursively(jdir)
      Files.createFile(jdir)
      val n = client.insert("inbound", Seq(point(2)))
      assert(n == 1) // the insert itself SUCCEEDS — the merge committed

      // heal and keep going: marker density must survive the failure
      Files.delete(jdir)
      client.insert("inbound", Seq(point(3)))

      assert(m3.await(15, TimeUnit.SECONDS),
        s"saw ${chunks.size} chunks, warns=${warns.toArray.mkString(",")}")
      assert(warns.toArray(Array.empty[String]).toSeq == Seq("WARN missed 2"))
      val ends = chunks.toArray(Array.empty[(Long, String, Boolean)])
        .toSeq.filter(_._3)
      assert(ends.map(_._1) == Seq(1L, 2L, 3L), ends.map(_._1)) // dense
      assert(ends(1)._2.trim.isEmpty) // the missed marker carries no rows
      assert(ends(2)._2.contains("\"requests\":3")) // post-failure data flows
      f.close()

      // the STORE has all three points even though the feed missed one
      val (_, rows, _) = client.queryWithStats(
        "SELECT requests FROM combined GROUP BY * ORDER BY requests")
      assert(rows.length == 3, rows)
    } finally srv.stop()
  }

  test("a _FAILED-stamped entry from a prior process replays as WARN missed") {
    // the stamp is durable: a restarted server seeding its journal from
    // disk must surface the missed batch to replaying followers too
    val dir = Files.createTempDirectory("graft-rpc-warn-restart").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    def point(i: Int) =
      s"""{"ts": ${T0 + i * 1000}, "dims": {"server": "s$i"}, "vals": {"requests": $i}}"""
    val db1 = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv1 = new RpcServer(spark, db1, 0)
    val port1 = srv1.start()
    new RpcClient("localhost", port1).insert("inbound", Seq(point(1)))
    srv1.stop()
    // a failed append's stamped entry, as appendJournal publishes it
    val stamped = java.nio.file.Paths.get(dir, "_follow", "inbound", "2.jsonl")
    Files.createDirectories(stamped)
    Files.createFile(stamped.resolve(GraftDB.FailedStamp))

    val db2 = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv2 = new RpcServer(spark, db2, 0)
    val port2 = srv2.start()
    try {
      val client = new RpcClient("localhost", port2)
      val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val ends = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val latch = new CountDownLatch(3)
      val f = client.followSince("inbound", Some(0L)) { (m, _, end) =>
        if (end) { ends.add(m); latch.countDown() }
      }(onError = _ => (), onWarn = w => warns.add(w))
      Thread.sleep(300)
      // markers continue past the stamped entry (seed saw it: seq=2)
      client.insert("inbound", Seq(point(3)))
      assert(latch.await(15, TimeUnit.SECONDS))
      assert(ends.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq ==
        Seq(1L, 2L, 3L))
      assert(warns.toArray(Array.empty[String]).toSeq == Seq("WARN missed 2"))
      f.close()
    } finally srv2.stop()
  }

  test("snappy-framed transport: auto-detected per connection, plain client coexists") {
    // the reference wraps EVERY rpc socket in the snappy framing format
    // (rpc/snappyconn.go snappyDialer/SnappyListener); our server detects
    // the 0xFF stream-identifier byte and speaks the same public format
    // (snappy-java's SnappyFramed streams implement it) per connection
    val dir = Files.createTempDirectory("graft-rpc-snappy").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new RpcServer(spark, db, 0)
    val port = srv.start()
    try {
      val zipped = new RpcClient("localhost", port, snappy = true)
      val plain = new RpcClient("localhost", port)

      // follow over the compressed transport
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val latch = new CountDownLatch(1)
      val follower = zipped.follow("inbound") { lines =>
        seen.add(lines); latch.countDown()
      }
      Thread.sleep(200)

      // compressed streaming insert
      val n = zipped.insert("inbound", Seq(
        s"""{"ts": $T0, "dims": {"server": "s1"}, "vals": {"requests": 7}}""",
        s"""{"ts": ${T0 + 1000}, "dims": {"server": "s2"}, "vals": {"requests": 5}}"""))
      assert(n == 2)

      // compressed query sees the data; an interleaved PLAIN connection to
      // the same server sees the identical result
      for (c <- Seq(zipped, plain)) {
        val (cols, rows, stats) = c.queryWithStats(
          "SELECT requests FROM combined GROUP BY server ORDER BY requests DESC")
        assert(cols == Seq("_time", "server", "requests"))
        assert(rows.length == 2, rows)
        assert(rows(0).contains("\"requests\":7.0"), rows)
        assert(stats.contains("\"completed\":true"), stats)
      }

      assert(latch.await(10, TimeUnit.SECONDS))
      assert(seen.toArray.mkString("\n").contains("\"requests\":7"))
      follower.close()

      // ERR frames survive the compressed transport too
      val ex = intercept[RuntimeException](zipped.query("SELECT nope FROM missing"))
      assert(String.valueOf(ex.getMessage).contains("ERR"))
    } finally srv.stop()
  }

  test("verbs answer nasty input with usage errors, not index crashes") {
    val dir = Files.createTempDirectory("graft-rpc-nasty").toString
    val yaml =
      """combined:
        |  retentionperiod: 1h
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir, () => T0 + 10000)
    val srv = new RpcServer(spark, db, 0)
    val port = srv.start()
    // raw plain-transport frame: length-prefixed UTF-8 (first byte of the
    // int prefix is 0x00, so the server's snappy sniff picks plain)
    def raw(frame: String): String = {
      val sock = new java.net.Socket("localhost", port)
      try {
        sock.setSoTimeout(15000)
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        val in = new java.io.DataInputStream(sock.getInputStream)
        val bytes = frame.getBytes("UTF-8")
        out.writeInt(bytes.length); out.write(bytes); out.flush()
        val len = in.readInt()
        val buf = new Array[Byte](len); in.readFully(buf)
        new String(buf, "UTF-8")
      } finally sock.close()
    }
    try {
      // bare verbs used to die with the split's index-out-of-bounds text
      assert(raw("FOLLOW").contains("usage: FOLLOW <stream> [since=<marker>]"),
        raw("FOLLOW"))
      assert(raw("INSERT").contains("usage: INSERT <stream>"), raw("INSERT"))
      assert(raw("FOLLOW   ").contains("usage: FOLLOW"), raw("FOLLOW   "))
      // a non-numeric resume marker names the field, not a bare
      // NumberFormatException
      assert(raw("FOLLOW inbound since=junk").contains("bad since= marker"),
        raw("FOLLOW inbound since=junk"))
      assert(raw("BOGUS x").contains("unknown verb"), raw("BOGUS x"))
    } finally srv.stop()
  }
}
