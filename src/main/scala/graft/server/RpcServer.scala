package graft.server

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import graft.GraftDB

/** Length-prefixed frames: 4-byte big-endian length + UTF-8 payload.
  * Payload is `<VERB> [arg]\n<body>`; the verb line is plain ASCII, bodies
  * are JSON-lines (points/rows), so the protocol is language-agnostic.
  */
private[server] object Framing {
  val MaxFrame: Int = 64 << 20 // 64 MiB — a batch, not a table

  def write(out: DataOutputStream, payload: String): Unit = {
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    out.writeInt(bytes.length)
    out.write(bytes)
    out.flush()
  }

  /** None on orderly EOF before a frame starts. */
  def read(in: DataInputStream): Option[String] = {
    val len =
      try in.readInt()
      catch { case _: EOFException => return None }
    require(len >= 0 && len <= MaxFrame, s"bad frame length $len")
    val buf = new Array[Byte](len)
    in.readFully(buf)
    Some(new String(buf, StandardCharsets.UTF_8))
  }

  def split(frame: String): (String, String) = frame.indexOf('\n') match {
    case -1 => (frame.trim, "")
    case i  => (frame.substring(0, i).trim, frame.substring(i + 1))
  }
}

/** Remote insert/query/follow — the reference's gRPC service surface
  * (/root/reference/rpc/rpc.go:26-99, rpc/server/rpc.go) on the embedded
  * [[GraftDB]]. The reference's wire stack is three layers deep — gRPC over
  * HTTP/2, a snappy-stream-wrapped socket (rpc/snappyconn.go), and a msgpack
  * message codec (rpc/msgpack_codec.go, NOT protobuf) — and replicating the
  * HTTP/2+HPACK+msgpack layers dependency-free is out of scope (README
  * "Wire compatibility"). The SAME three streaming RPC shapes ride
  * [[Framing]] over TCP instead, and the TRANSPORT layer matches the
  * reference exactly: connections are optionally wrapped in the public
  * snappy framing format (the same bytes golang/snappy's NewReader/NewWriter
  * speak in snappyconn.go), auto-detected per connection by the 0xFF stream
  * identifier — a plain first frame always begins 0x00-0x03 (length-prefix
  * high byte, frames ≤64 MiB), so the two framings cannot collide:
  *
  *  - '''Insert''' (client-streaming, ≅ `Insert`/`EndOfInserts` →
  *    `InsertReport`): `INSERT <stream>`, then any number of
  *    `POINTS\n<json-lines>` frames — each is parsed and merged as it
  *    arrives, not buffered — then `END`; reply `OK inserted=<n>` or
  *    `ERR <msg>`.
  *  - '''Query''' (server-streaming, ≅ `RemoteQueryResult`/`EndOfResults`):
  *    `QUERY\n<dialect sql>`; reply `SCHEMA\n<cols>` then chunked
  *    `ROWS\n<json-lines>` frames (local-iterator paging, never a whole-
  *    result driver collect) then `END\n<QueryStats JSON>` (elapsedMs/
  *    rows/completed — the reference's common.QueryStats rides its results
  *    the same way).
  *  - '''Follow''' (long-lived server stream, ≅ `Follow` replaying from a
  *    client-held WAL offset then going live, rpc/rpc.go Follow /
  *    cluster_follow.go): `FOLLOW <stream> [since=<marker>]`. The server
  *    tails the database's bounded follow journal of committed insert
  *    batches: entries after `since` (all history a fresh follower can
  *    reach, when omitted: live-only from subscription time) stream as
  *    `POINTS <marker>\n<json-lines>` frames — chunked, a fat batch never
  *    rides one frame or one driver string — with the batch's final chunk
  *    flagged `POINTS <marker> end`. A client that reconnects with the last
  *    end-flagged marker it processed resumes without loss (at-least-once
  *    per batch, the reference's resume contract). Markers are dense, so a
  *    follower that falls behind the journal's pruning horizon gets an
  *    `ERR replay gap` instead of a silently-incomplete stream.
  *
  * Point JSON is the HTTP surface's shape:
  * `{"ts": millis|RFC3339, "dims": {..}, "vals": {..}}`.
  */
final class RpcServer(spark: SparkSession, db: GraftDB, port: Int) {

  private val server = new ServerSocket()
  @volatile private var running = false

  // the follow surface replays from the journal; without it FOLLOW could
  // only ever see batches inserted while a follower happened to be attached
  db.enableFollowJournal()

  def start(): Int = {
    server.bind(new InetSocketAddress(port))
    running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          val t = new Thread(() => handle(sock), "graft-rpc-conn")
          t.setDaemon(true)
          t.start()
        } catch { case _: Exception => if (running) Thread.sleep(50) }
      }
    }, "graft-rpc-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    server.getLocalPort
  }

  def stop(): Unit = { running = false; server.close() }

  private def handle(sock: Socket): Unit = {
    // transport auto-detect: the snappy framing format's stream identifier
    // chunk begins 0xFF ("sNaPpY"); a plain length-prefixed frame begins
    // 0x00-0x03. The reference compresses every RPC socket this way
    // (rpc/snappyconn.go) — at 100 TB the follow/insert streams are
    // cross-node bandwidth, and stream compression is the cheap win.
    // Detection itself can throw (garbage after 0xFF fails the snappy
    // header check; a reset pipe fails the eager header write), so it runs
    // inside the same finally that closes the socket — a malformed
    // handshake must not leak a file descriptor.
    var out: DataOutputStream = null
    try {
      val pb = new java.io.PushbackInputStream(sock.getInputStream, 1)
      val b0 = pb.read()
      if (b0 == -1) return
      pb.unread(b0)
      val (rawIn, rawOut) =
        if (b0 == 0xff)
          (new org.xerial.snappy.SnappyFramedInputStream(pb): java.io.InputStream,
            new org.xerial.snappy.SnappyFramedOutputStream(
              sock.getOutputStream): java.io.OutputStream)
        else (pb: java.io.InputStream, sock.getOutputStream)
      val in = new DataInputStream(rawIn)
      out = new DataOutputStream(rawOut)
      val first = Framing.read(in).getOrElse(return)
      val (verbLine, body) = Framing.split(first)
      val verb = verbLine.split("\\s+", 2)
      // a verb missing its argument must answer with its usage, not the
      // index-out-of-bounds text the bare split would throw
      def arg(usage: String): String =
        if (verb.length > 1 && verb(1).trim.nonEmpty) verb(1)
        else throw new IllegalArgumentException(s"usage: $usage")
      verb(0) match {
        case "INSERT" =>
          handleInsert(arg("INSERT <stream>"), in, out)
        case "QUERY"  => handleQuery(body, out)
        case "FOLLOW" =>
          handleFollow(arg("FOLLOW <stream> [since=<marker>]"), out)
        case other    => Framing.write(out, s"ERR unknown verb $other")
      }
    } catch {
      case e: Exception =>
        try if (out != null) Framing.write(out, s"ERR ${String.valueOf(e.getMessage)}")
        catch { case _: Exception => () }
    } finally sock.close()
  }

  private def handleInsert(stream: String, in: DataInputStream,
                           out: DataOutputStream): Unit = {
    var inserted = 0L
    var done = false
    while (!done) {
      Framing.read(in) match {
        case None => done = true // client hung up: report what landed
        case Some(frame) =>
          val (v, body) = Framing.split(frame)
          v match {
            case "POINTS" => inserted += PointsJson.insert(spark, db, stream, body)
            case "END"    => done = true
            case other    => throw new IllegalArgumentException(s"unexpected $other")
          }
      }
    }
    Framing.write(out, s"OK inserted=$inserted")
  }

  private def handleQuery(sql: String, out: DataOutputStream): Unit = {
    val (_, stats) = db.runQuery(sql) { df =>
      Framing.write(out, "SCHEMA\n" + df.columns.mkString("\t"))
      val it = df.toJSON.toLocalIterator()
      val chunk = new StringBuilder
      var n = 0
      var total = 0L
      while (it.hasNext) {
        chunk.append(it.next()).append('\n')
        n += 1; total += 1
        if (n == 500) { Framing.write(out, "ROWS\n" + chunk); chunk.clear(); n = 0 }
      }
      if (n > 0) Framing.write(out, "ROWS\n" + chunk)
      ((), total)
    }
    // the END frame body is the QueryStats JSON — the reference's query
    // results travel with common.QueryStats the same way (rpc/rpc.go,
    // common/common.go:57-64); clients that only match the verb ignore it
    Framing.write(out, "END\n" + stats.toJson)
  }

  private def handleFollow(argLine: String, out: DataOutputStream): Unit = {
    val toks = argLine.trim.split("\\s+")
    val stream = toks(0).toLowerCase
    val since = toks.drop(1).collectFirst {
      case t if t.startsWith("since=") =>
        val raw = t.stripPrefix("since=")
        raw.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"bad since= marker: '$raw' (expected a numeric journal marker)"))
    }
    val head = db.followMarker(stream)
    if (since.exists(_ > head)) {
      // a marker from the future means a wiped/foreign store — resuming
      // would replay under a marker sequence the client's isn't part of
      Framing.write(out,
        s"ERR replay gap: since=${since.get} is ahead of marker $head")
      return
    }
    // no since= → live-only from subscription time (the pre-replay Follow)
    var last = since.getOrElse(head)
    var idlePolls = 0
    while (running) {
      val entries = db.followEntriesAfter(stream, last)
      if (entries.isEmpty) {
        // idle heartbeat: a PING to a dead socket throws, reaping followers
        // whose client vanished without a FIN instead of spinning forever
        idlePolls += 1
        if (idlePolls >= RpcServer.HeartbeatPolls) {
          Framing.write(out, "PING")
          idlePolls = 0
        }
        Thread.sleep(RpcServer.FollowPollMillis)
      } else if (entries.head._1 != last + 1) {
        // the journal publishes markers under a per-stream lock and serves
        // entries from a dense in-memory deque, so a hole below the head
        // has exactly one cause: pruning outran this consumer. Permanent —
        // fail loud, a silent skip would drop committed batches.
        Framing.write(out, s"ERR replay gap: have marker $last, oldest " +
          s"available ${entries.head._1}; reconnect without since=")
        return
      } else {
        idlePolls = 0
        entries.foreach { case (marker, path) =>
          writeJournalEntry(marker, path, out)
          last = marker
        }
      }
    }
  }

  /** Stream one journal entry (a dir of part files from the distributed
    * journal write, or a plain file) as chunked POINTS frames: ≤500 lines /
    * ≤8 MiB per frame so a fat insert batch can neither blow
    * [[Framing.MaxFrame]] nor materialize as one giant string. The final
    * chunk carries the `end` flag that makes the marker safe to resume
    * from — a completed chunk is held back until the next line proves more
    * data exists, so the flag lands on the true last frame even when the
    * entry ends exactly on a chunk boundary or a trailing part is empty.
    */
  private def writeJournalEntry(marker: Long, path: java.nio.file.Path,
                                out: DataOutputStream): Unit = {
    // a `_FAILED`-stamped (or wholly absent) entry means a committed batch
    // never reached the feed — the reference's WAL append failure fails the
    // insert itself so its followers can't silently miss data; here the
    // insert survived, so the LOSS must be loud instead: a WARN frame the
    // client can turn into a re-sync. The empty end-flagged POINTS frame
    // still follows so the resume cursor advances past the marker.
    if (graft.GraftDB.entryMissed(path)) {
      Framing.write(out, s"WARN missed $marker")
      Framing.write(out, s"POINTS $marker end\n")
      return
    }
    var pending: String = null // completed chunk awaiting a non-end flush
    val chunk = new StringBuilder
    var n = 0
    def roll(): Unit = {
      if (pending != null) Framing.write(out, s"POINTS $marker\n" + pending)
      pending = chunk.toString
      chunk.clear(); n = 0
    }
    graft.GraftDB.entryFiles(path).foreach { f =>
      val reader = graft.GraftDB.entryReader(f)
      try {
        var line = reader.readLine()
        while (line != null) {
          // roll BEFORE appending: the arriving line proves more data
          // exists, so the held-back chunk can flush as non-end
          if (n >= RpcServer.FollowChunkRows ||
              chunk.length >= RpcServer.FollowChunkChars) roll()
          chunk.append(line).append('\n')
          n += 1
          line = reader.readLine()
        }
      } finally reader.close()
    }
    roll()
    Framing.write(out, s"POINTS $marker end\n" + pending)
  }
}

object RpcServer {
  /** Journal-poll interval for live tailing (the idle path; replay and a
    * busy stream never sleep).
    */
  val FollowPollMillis: Long = 150L

  /** Idle polls between heartbeat PINGs (≈2s at [[FollowPollMillis]]). */
  val HeartbeatPolls: Int = 13

  /** Per-frame chunk bounds for FOLLOW delivery. */
  val FollowChunkRows: Int = 500
  val FollowChunkChars: Int = 8 << 20
}

/** Client for [[RpcServer]] — the reference's `rpc.Client` surface
  * (NewInserter / Query-with-row-callback / Follow, rpc/rpc.go:73-86).
  * With `snappy = true` the socket is wrapped in the snappy framing format,
  * matching the reference's always-on snappyDialer (rpc/snappyconn.go);
  * the server auto-detects either transport per connection.
  */
final class RpcClient(host: String, port: Int, snappy: Boolean = false) {

  /** Defers wrapping until the first read: SnappyFramedInputStream's
    * constructor eagerly reads the stream header, which the server only
    * emits together with its first response frame.
    */
  private final class LazyInput(make: () => java.io.InputStream)
      extends java.io.InputStream {
    private lazy val under = make()
    def read(): Int = under.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      under.read(b, off, len)
  }

  private def connect(): (Socket, DataInputStream, DataOutputStream) = {
    val sock = new Socket(host, port)
    if (snappy) {
      val out = new DataOutputStream(
        new org.xerial.snappy.SnappyFramedOutputStream(sock.getOutputStream))
      val in = new DataInputStream(new LazyInput(() =>
        new org.xerial.snappy.SnappyFramedInputStream(sock.getInputStream)))
      (sock, in, out)
    } else
      (sock, new DataInputStream(sock.getInputStream),
        new DataOutputStream(sock.getOutputStream))
  }

  /** Client-streaming insert: each element of `jsonLineBatches` is sent (and
    * applied server-side) as its own frame. Returns the server's count.
    */
  def insert(stream: String, jsonLineBatches: Seq[String]): Long =
    insert(stream, jsonLineBatches.iterator)

  /** Iterator form — the reference's streaming `NewInserter` (rpc/rpc.go):
    * batches are framed and sent as the iterator produces them, so a large
    * upload never materializes client-side.
    */
  def insert(stream: String, jsonLineBatches: Iterator[String]): Long = {
    val (sock, in, out) = connect()
    try {
      Framing.write(out, s"INSERT $stream")
      jsonLineBatches.foreach(b => Framing.write(out, "POINTS\n" + b))
      Framing.write(out, "END")
      val resp = Framing.read(in).getOrElse(sys.error("connection closed"))
      if (resp.startsWith("OK inserted=")) resp.stripPrefix("OK inserted=").trim.toLong
      else sys.error(resp)
    } finally sock.close()
  }

  /** Server-streaming query: returns (columns, JSON rows). */
  def query(sql: String): (Seq[String], Seq[String]) = {
    val (cols, rows, _) = queryWithStats(sql)
    (cols, rows)
  }

  /** Like [[query]], also returning the END frame's QueryStats JSON
    * (elapsedMs/rows/completed — the reference's result stats).
    */
  def queryWithStats(sql: String): (Seq[String], Seq[String], String) = {
    val (sock, in, out) = connect()
    try {
      Framing.write(out, "QUERY\n" + sql)
      var cols: Seq[String] = Nil
      var stats: String = "{}"
      val rows = Seq.newBuilder[String]
      var done = false
      while (!done) {
        val frame = Framing.read(in).getOrElse(sys.error("connection closed"))
        val (v, body) = Framing.split(frame)
        v match {
          case "SCHEMA" => cols = body.split("\t").toSeq
          case "ROWS"   => rows ++= body.split("\n").filter(_.nonEmpty)
          case "END"    => if (body.nonEmpty) stats = body; done = true
          case other    => sys.error(other + " " + body)
        }
      }
      (cols, rows.result(), stats)
    } finally sock.close()
  }

  /** Follow a stream live-only: `onPoints` fires with each inserted batch's
    * JSON lines until the returned handle is closed.
    */
  def follow(stream: String)(onPoints: String => Unit): AutoCloseable =
    followSince(stream, None)(
      (_, lines, _) => if (lines.nonEmpty) onPoints(lines))()

  /** Follow with backlog replay (the reference's offset-resuming Follow,
    * rpc/rpc.go): with `since = Some(m)` every committed batch after marker
    * `m` replays first, then the stream goes live. `onChunk(marker, lines,
    * end)` fires per frame; a batch may span several frames and only its
    * `end = true` frame makes `marker` safe to hand back as the next
    * `since`. `onError` receives the server's ERR line (e.g. a replay gap
    * past the journal horizon) before the connection closes. `onWarn`
    * receives advisory `WARN` lines — today only `WARN missed <marker>`,
    * a committed batch whose journal append failed server-side and whose
    * points will never arrive; the stream CONTINUES (the marker still
    * end-flags empty), and a caller that needs every point should re-sync
    * out of band.
    */
  def followSince(stream: String, since: Option[Long])(
      onChunk: (Long, String, Boolean) => Unit)(
      onError: String => Unit = _ => (),
      onWarn: String => Unit = w => System.err.println(s"graft follow: $w"))
      : AutoCloseable = {
    val (sock, in, out) = connect()
    Framing.write(out,
      s"FOLLOW $stream" + since.map(m => s" since=$m").getOrElse(""))
    @volatile var closed = false
    val t = new Thread(() => {
      try {
        var done = false
        while (!done) Framing.read(in) match {
          case Some(frame) =>
            val (v, body) = Framing.split(frame)
            val toks = v.split("\\s+")
            toks(0) match {
              case "POINTS" =>
                onChunk(toks(1).toLong, body, toks.contains("end"))
              case "WARN" => onWarn(v)
              case "PING" => ()
              case _ if v.startsWith("ERR") => onError(v); done = true
              case _ => ()
            }
          case None => done = true
        }
      } catch {
        // a dead socket after close() is the expected shutdown path; any
        // OTHER failure (onChunk threw, bad frame, server vanished) must
        // reach the caller — a silently-dead reader thread looks exactly
        // like an idle live tail
        case e: Exception if !closed =>
          try onError(s"ERR follow client failure: ${e.getMessage}")
          catch { case _: Exception => () }
        case _: Exception => () // post-close socket teardown: expected
      } finally { try sock.close() catch { case _: Exception => () } }
    }, "graft-rpc-follow")
    t.setDaemon(true)
    t.start()
    () => { closed = true; sock.close() }
  }
}
