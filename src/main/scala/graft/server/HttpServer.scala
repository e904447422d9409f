package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer => JdkHttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, struct, to_json}
import graft.GraftDB

/** HTTP surface parity with the reference's web handler
  * (/root/reference/web/handler.go:115-124):
  *
  *  - `POST /insert/{stream}` — body is JSON lines
  *    `{"ts": <epochMillis|RFC3339>, "dims": {..}, "vals": {..}}`
  *    (web/insert.go:22-47). Parsed by Spark's JSON reader, dims/vals
  *    flattened to columns, routed through [[GraftDB.insert]].
  *  - `GET/POST /run` — zenodb-dialect SQL (query param `sql` or body);
  *    responds with JSON rows plus per-column cardinalities, exact counts
  *    of distinct non-null values over the returned rows (the reference
  *    attaches HLL estimates, web/query.go:303-327).
  *
  * Built on the JDK server: zero extra dependencies, good enough for an
  * embedded control plane (the data plane is Spark itself).
  */
final class HttpServer(spark: SparkSession, db: GraftDB, port: Int,
                       cacheTtlMillis: Long = HttpServer.CacheTtlMillis,
                       maxCacheEntries: Int = HttpServer.MaxCacheEntries,
                       maxBodyBytes: Int = HttpServer.MaxBodyBytes,
                       maxPendingAsync: Int = HttpServer.MaxPendingAsync) {

  private val server = JdkHttpServer.create(new InetSocketAddress(port), 0)
  private val startedAt = System.currentTimeMillis()

  /** The `/metrics` payload. Store stats walk each table's live day dirs
    * driver-side — O(files), a control-plane cost paid per scrape, never on
    * the data path.
    */
  def metricsJson(): String = {
    val tables = db.tables.toSeq.sortBy(_._1).map { case (name, t) =>
      val (gen, days, bytes, liveGens) = t.storeStats
      // insert-disposition counters (reference TableStats): process-
      // lifetime points queued/inserted/filtered(WHERE)/dropped(retention)
      val st = t.stats
      s""""$name":{"generation":$gen,"days":$days,"bytes":$bytes,""" +
        s""""liveGenerations":$liveGens,"cachedRelations":${t.relationCacheSize},""" +
        s""""queuedPoints":${st.queuedPoints},"insertedPoints":${st.insertedPoints},""" +
        s""""filteredPoints":${st.filteredPoints},"droppedPoints":${st.droppedPoints}}"""
    }.mkString("{", ",", "}")
    val journals = db.journalStats.toSeq.sortBy(_._1).map { case (s, (n, b)) =>
      s""""$s":{"entries":$n,"bytes":$b}"""
    }.mkString("{", ",", "}")
    // the daemon's last maintenance pass per enrolled index (empty until
    // the first --maintain-interval tick) — the operator's view of the
    // self-driving compaction/re-cluster loop
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val maint = db.lastMaintenance.map { case (n, st) =>
      s"${jstr(n)}:${jstr(st)}"
    }.mkString("{", ",", "}")
    // per-enrolled-index lifecycle state: active generation + the GC
    // queue (pending = superseded generations awaiting deletion, leased =
    // how many an in-flight reader currently pins)
    val maintained = db.maintainedStats.toSeq.sortBy(_._1)
      .map { case (n, (path, gen, pending, leased)) =>
        s"${jstr(n)}:{\"path\":${jstr(path)},\"generation\":$gen," +
          s"\"pendingGc\":$pending,\"leasedGc\":$leased}"
      }.mkString("{", ",", "}")
    s"""{"uptimeMs":${System.currentTimeMillis() - startedAt},""" +
      s""""tables":$tables,"journals":$journals,""" +
      s""""activeStreams":${db.activeStreamCount},""" +
      s""""asyncCacheEntries":${byPermalink.size()},""" +
      // scan-saver cache pressure: distinct registering sites seen this
      // session vs the FIFO cap — sites approaching max is the r13-r15
      // crosstab-drift precondition (eviction churn), visible here before
      // it shows up as bench regression
      s""""persistCache":{"sites":${graft.PersistCache.sitesHighWater},""" +
      s""""max":${graft.PersistCache.maxEntries}},""" +
      // generations queued by DETACHED/re-pointed enrollments (drained by
      // the next tick): nonzero here after lifecycle churn is normal;
      // persistently nonzero means a lease is pinning an orphan
      { val (pending, leased) = db.orphanGcStats
        // persistError appears ONLY while the last _orphan_gc.txt rewrite
        // failed (queue not restart-durable until a later rewrite
        // succeeds) — absent in the healthy steady state
        val persist = db.orphanGcPersistError
          .map(e => s""","persistError":${jsonStr(e)}""").getOrElse("")
        s""""orphanGc":{"pending":$pending,"leased":$leased$persist},""" } +
      s""""maintained":$maintained,"maintenance":$maint}"""
  }

  /** Bounded body read: `readAllBytes` on an unbounded POST would buffer a
    * multi-GB upload straight into heap — cap it the way the RPC framing
    * caps its frames, failing with a clean 400 instead of an OOM.
    */
  private def readBody(ex: HttpExchange): String = {
    val in = ex.getRequestBody
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](64 * 1024)
    var n = in.read(chunk)
    while (n >= 0) {
      buf.write(chunk, 0, n)
      require(buf.size <= maxBodyBytes,
        s"request body exceeds $maxBodyBytes bytes; batch large inserts " +
          "into multiple requests")
      n = in.read(chunk)
    }
    buf.toString(StandardCharsets.UTF_8)
  }

  private def sqlOf(ex: HttpExchange): String =
    Option(ex.getRequestURI.getQuery)
      .flatMap(_.split("&").find(_.startsWith("sql=")))
      .map(s => java.net.URLDecoder.decode(s.stripPrefix("sql="), "UTF-8"))
      .getOrElse(readBody(ex))

  private def timeoutOf(ex: HttpExchange): Option[Long] =
    Option(ex.getRequestURI.getQuery)
      .flatMap(_.split("&").find(_.startsWith("timeout=")))
      .map { s =>
        val ms = graft.sqlx.Durations.parseMillis(
          java.net.URLDecoder.decode(s.stripPrefix("timeout="), "UTF-8"))
        // refuse instead of treating it as already-expired: `timeout=0s`
        // or a negative duration would submit a job group only to cancel
        // it immediately and answer completed=false — a misconfiguration
        // the caller should hear about, not a degenerate partial result
        require(ms > 0, s"timeout must be positive, got ${ms}ms")
        ms
      }

  def start(): Int = {
    server.createContext("/insert/", (ex: HttpExchange) => handle(ex) {
      val stream = ex.getRequestURI.getPath.stripPrefix("/insert/")
      val body = readBody(ex)
      val n = insertJsonLines(stream, body)
      s"""{"inserted":$n}"""
    })
    server.createContext("/run", (ex: HttpExchange) => handle(ex) {
      runToJson(sqlOf(ex), timeoutOf(ex))
    })
    // `/immediate` skips the cache like the reference (web/handler.go:118)
    server.createContext("/immediate", (ex: HttpExchange) => handle(ex) {
      runToJson(sqlOf(ex), timeoutOf(ex))
    })
    // async query + cached permalink (web/handler.go:117-124, web/cache.go):
    // `/async?sql=` registers (or reuses, within the TTL) a cache entry keyed
    // by the SQL text, runs the query on a background thread, and returns the
    // entry's permalink immediately; `/cached/{permalink}` polls it.
    server.createContext("/async", (ex: HttpExchange) => handle(ex) {
      // the deadline rides along: an async query with `timeout=` caps the
      // background run exactly like /run (no rows, completed=false)
      asyncQuery(sqlOf(ex), timeoutOf(ex))
    })
    server.createContext("/cached/", (ex: HttpExchange) => handle(ex) {
      cachedResult(ex.getRequestURI.getPath.stripPrefix("/cached/")
        .stripSuffix("/"))
    })
    // ops stats (the reference serves engine stats as JSON —
    // web/metrics.go:10-17, route web/handler.go:123; its payload is mostly
    // cluster leader/follower partition state, which dissolved into Spark).
    // What remains useful to an operator of THIS daemon: per-table store
    // generation/days/bytes, follow-journal depth per stream, attached
    // streaming queries, async-cache entries, uptime.
    server.createContext("/metrics", (ex: HttpExchange) => handle(ex) {
      metricsJson()
    })
    // ops maintenance: POST /compact/{table} forces full generation
    // consolidation (flushes already auto-compact incrementally; an
    // operator reaches for this before e.g. bulk-exporting a store or
    // after restoring one built elsewhere). Runs on the handler thread —
    // it is a Spark job; the JDK server's default executor serializes
    // handlers, which is the right pressure valve for a control plane.
    // the query console (web/index.go:10-33 serves an embedded index.html
    // that posts the textarea's SQL to /run and renders rows +
    // cardinalities; ours is self-contained vanilla HTML/JS — the
    // reference pulls Bootstrap/dygraphs from CDNs, useless in the
    // airgapped deployments this daemon targets). "/" is the JDK server's
    // longest-prefix fallback, so unmatched paths land here too: serve the
    // page only at the root and 404 the rest.
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      if (path == "/" || path == "/index.html") {
        val bytes = HttpServer.IndexHtml.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      } else {
        // full JSON escaping: a %5C- or control-character path would
        // otherwise produce an invalid JSON body
        val bytes = s"""{"error":${jsonStr("not found: " + path)}}"""
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(404, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.createContext("/compact/", (ex: HttpExchange) => handle(ex) {
      require(ex.getRequestMethod == "POST", "POST required")
      val table = ex.getRequestURI.getPath.stripPrefix("/compact/")
        .stripSuffix("/")
      val rewritten = db.compact(table)
      s"""{"table":${jsonStr(table)},"day_dirs_rewritten":$rewritten}"""
    })
    // one-shot maintenance pass over every enrolled index — the manual
    // counterpart of the --maintain-interval daemon loop (an operator
    // forcing recovery NOW instead of waiting a period); the result also
    // lands in /metrics' "maintenance" object like a daemon tick's would
    server.createContext("/maintain", (ex: HttpExchange) => handle(ex) {
      require(ex.getRequestMethod == "POST", "POST required")
      val statuses = db.maintenanceTick()
      db.lastMaintenance = statuses
      statuses.map { case (n, st) => s"${jsonStr(n)}:${jsonStr(st)}" }
        .mkString("{", ",", "}")
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange)(body: => String): Unit = {
    val (code, payload) =
      try (200, body)
      catch {
        case e: Exception =>
          (400, s"""{"error":${jsonStr(String.valueOf(e.getMessage))}}""")
      }
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    // the reference gzips query results (web/query.go:129,248); here it is
    // negotiated on Accept-Encoding — honoring an explicit q=0 refusal —
    // and skipped for tiny payloads where the envelope costs more than it
    // saves
    // "gzip" or "*" counts as acceptance unless its qvalue parses to 0
    // (RFC 9110 §12.5.3: q is a number, not a fixed spelling — "q=0.0000"
    // must refuse just like "q=0"), and an EXPLICIT gzip member always
    // outranks "*" ("*" matches only codings not otherwise named, so
    // "gzip;q=0, *" is a refusal, not an acceptance)
    // a malformed qvalue ("q=junk") is a refusal for that member, not an
    // acceptance — compression must be opted INTO, and garbage is not an
    // opt-in; duplicate members resolve first-wins (RFC 9110 leaves it
    // unspecified; first-wins is the conservative reading)
    val acceptsGzip = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists { h =>
        val qs: Map[String, Double] =
          h.toLowerCase.split(",").map(_.trim).flatMap { enc =>
            val parts = enc.split(";").map(_.trim)
            val q = parts.tail.map(_.replace(" ", "")).collectFirst {
              case p if p.startsWith("q=") =>
                try p.drop(2).toDouble
                catch { case _: NumberFormatException => 0.0 }
            }.getOrElse(1.0)
            if (parts.head.nonEmpty) Some(parts.head -> q) else None
          }.foldLeft(Map.empty[String, Double]) { case (m, (k, v)) =>
            if (m.contains(k)) m else m + (k -> v)
          }
        qs.get("gzip").orElse(qs.get("*")).exists(_ > 0.0)
      }
    val outBytes =
      if (acceptsGzip && bytes.length >= HttpServer.GzipMinBytes) {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(bytes); gz.close()
        ex.getResponseHeaders.set("Content-Encoding", "gzip")
        bos.toByteArray
      } else bytes
    ex.sendResponseHeaders(code, outBytes.length)
    ex.getResponseBody.write(outBytes)
    ex.close()
  }

  /** Parse zenodb point JSON-lines and insert into `stream`. */
  def insertJsonLines(stream: String, jsonLines: String): Long =
    PointsJson.insert(spark, db, stream, jsonLines)

  /** Run dialect SQL through [[GraftDB.runQuery]]; return rows, per-column
    * cardinalities and a `stats` object (elapsedMs, rows, completed — the
    * reference's QueryStats analogue, common/common.go:57-64). One bounded
    * collect (`limit(MaxRows + 1)`) brings back each row's JSON beside its
    * column values, truncated at [[HttpServer.MaxRows]] with a `truncated`
    * marker — this is a control-plane endpoint, not a data path. The
    * cardinalities are exact counts of distinct non-null values per column
    * over the returned rows (the reference keeps HLL estimates per field
    * as rows stream past, web/query.go:303-327).
    *
    * With `timeoutMs` set, expiry cancels the query's job group and the
    * response carries zero rows with `stats.completed = false` and
    * `truncated = true`, like [[GraftDB.sqlWithStats]].
    */
  def runToJson(sql: String, timeoutMs: Option[Long] = None): String = {
    val (res, stats) = db.runQuery(sql, timeoutMs) { df =>
      val got = df.select(to_json(struct(col("*"))), col("*"))
        .limit(HttpServer.MaxRows + 1).collect()
      val rows = got.take(HttpServer.MaxRows)
      ((df.columns, rows, got.length > rows.length), rows.length.toLong)
    }
    res match {
      case Some((cols, rows, truncated)) =>
        val cards = cols.indices.map { i =>
          val seen = new java.util.HashSet[Any]()
          rows.foreach(r => if (!r.isNullAt(i + 1)) seen.add(distinctKey(r.get(i + 1))))
          s"${jsonStr(cols(i))}:${seen.size}"
        }.mkString("{", ",", "}")
        s"""{"rows":${rows.map(_.getString(0)).mkString("[", ",", "]")},""" +
          s""""cardinalities":$cards,"truncated":$truncated,"stats":${stats.toJson}}"""
      case None =>
        s"""{"rows":[],"cardinalities":{},"truncated":true,"stats":${stats.toJson}}"""
    }
  }

  /** A value's identity for distinct counting, as Spark groups it: floating
    * zeros and NaNs are normalized and binary compares by content.
    */
  private def distinctKey(v: Any): Any = v match {
    case d: Double      => if (d == 0.0) 0.0 else d
    case f: Float       => if (f == 0.0f) 0.0f else f
    case b: Array[Byte] => b.toSeq
    case other          => other
  }

  // ---- async query cache (web/cache.go: permalink entries with TTL) ------

  private final class CacheEntry(val permalink: String, val created: Long) {
    @volatile var status: String = "pending"
    @volatile var payload: String = null // result JSON or error message
  }
  private val bySql = new java.util.concurrent.ConcurrentHashMap[String, CacheEntry]()
  private val byPermalink = new java.util.concurrent.ConcurrentHashMap[String, CacheEntry]()
  // in-flight async runs (claimed at submission, released in the worker's
  // finally): the backlog cap's source of truth — map scans raced
  private val runningAsync = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drop every expired entry from both maps (the reference expires cache
    * entries, web/cache.go). Runs inline on each async/cached access —
    * O(entries), driver-side, and it bounds memory to one TTL window of
    * distinct queries instead of leaking payloads forever.
    */
  private def sweepExpired(now: Long): Unit = {
    val dead = new java.util.ArrayList[String]()
    byPermalink.forEach { (pl, e) =>
      // never TTL-expire a still-'pending' entry: its Spark job is RUNNING
      // and its submitter polls this permalink — eviction would orphan the
      // job and remove it from every view of the backlog. A run outliving
      // the TTL settles eventually (runs carry their own deadline) and is
      // swept on the next pass.
      if (now - e.created >= cacheTtlMillis && e.status != "pending")
        dead.add(pl)
    }
    dead.forEach { pl =>
      val e = byPermalink.remove(pl)
      if (e != null) bySql.entrySet().removeIf(kv => kv.getValue eq e)
    }
    // hard entry cap on top of the TTL: a burst of distinct queries inside
    // one TTL window must not hold an unbounded set of result payloads —
    // evict oldest-first until under the bound (the reference's cache is
    // disk-backed, web/cache.go; ours is in-heap so the bound is
    // load-bearing). Settled entries go first: evicting a still-'pending'
    // entry orphans a running Spark job whose submitter can never find the
    // result — only when EVERY entry is pending does the bound win anyway.
    while (byPermalink.size > maxCacheEntries) {
      var oldest: CacheEntry = null
      var oldestSettled: CacheEntry = null
      byPermalink.forEach { (_, e) =>
        if (oldest == null || e.created < oldest.created) oldest = e
        if (e.status != "pending" &&
            (oldestSettled == null || e.created < oldestSettled.created))
          oldestSettled = e
      }
      val victim = if (oldestSettled != null) oldestSettled else oldest
      if (victim == null) return
      byPermalink.remove(victim.permalink)
      bySql.entrySet().removeIf(kv => kv.getValue eq victim)
    }
  }

  private def asyncQuery(sql: String, timeoutMs: Option[Long] = None): String = {
    val now = System.currentTimeMillis()
    sweepExpired(now)
    // the timeout is part of the cache identity: a deadline-truncated
    // result must never be served to a caller who asked for the full one
    // (and vice versa)
    val key = s"${timeoutMs.getOrElse(-1L)}:$sql"
    val entry = bySql.compute(key, (_, old) =>
      if (old != null && now - old.created < cacheTtlMillis) old
      else {
        // a fresh entry launches a background Spark job: refuse when the
        // backlog of still-running entries is at the cap — the
        // alternative (sweepExpired's eviction) would orphan a running
        // job whose submitter can never find its result, and an unbounded
        // burst of distinct queries would otherwise pile up driver
        // threads. Admission is an ATOMIC claim on the in-flight counter
        // (incrementAndGet, decremented in the worker's finally): the old
        // count-the-map check let two concurrent submissions under
        // DISTINCT keys both read the same count and both admit past the
        // cap.
        val claimed = runningAsync.incrementAndGet()
        if (claimed > maxPendingAsync) {
          runningAsync.decrementAndGet()
          throw new IllegalArgumentException(
            s"requirement failed: async query backlog full " +
              s"(${claimed - 1} running); " +
              "poll /cached/{permalink} for submitted queries or retry later")
        }
        if (old != null) byPermalink.remove(old.permalink)
        val e = new CacheEntry(java.util.UUID.randomUUID().toString, now)
        byPermalink.put(e.permalink, e)
        val t = new Thread(() => {
          try {
            // Throwable, not Exception: an Error (OOM in runToJson) would
            // otherwise leave the entry 'pending' forever — and pending
            // entries are exempt from the TTL sweep, so the submitter
            // polls a permanent ghost (ADVICE r21). Fatal errors are
            // re-thrown after the status lands.
            try { e.payload = runToJson(sql, timeoutMs); e.status = "succeeded" }
            catch { case ex: Throwable =>
              e.payload = String.valueOf(ex.getMessage); e.status = "failed"
              if (!scala.util.control.NonFatal(ex)) throw ex }
          } finally runningAsync.decrementAndGet()
        }, s"graft-async-${e.permalink}")
        t.setDaemon(true)
        t.start()
        e
      })
    renderEntry(entry)
  }

  private def cachedResult(permalink: String): String = {
    sweepExpired(System.currentTimeMillis())
    byPermalink.get(permalink) match {
      case null => s"""{"status":"unknown","permalink":${jsonStr(permalink)}}"""
      case e    => renderEntry(e)
    }
  }

  private def renderEntry(e: CacheEntry): String = e.status match {
    case "succeeded" =>
      s"""{"permalink":"${e.permalink}","status":"succeeded","result":${e.payload}}"""
    case "failed" =>
      s"""{"permalink":"${e.permalink}","status":"failed","error":${jsonStr(e.payload)}}"""
    case s =>
      s"""{"permalink":"${e.permalink}","status":"$s"}"""
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

object HttpServer {
  /** Row cap for the JSON query endpoints (control plane, not a data path). */
  val MaxRows: Int = 100000

  /** Async query cache TTL (the reference's cache expiration, web/cache.go). */
  val CacheTtlMillis: Long = 3600000L

  /** Hard cap on live async cache entries (oldest evicted first). */
  val MaxCacheEntries: Int = 1024

  /** Cap on CONCURRENTLY RUNNING async queries: a fresh /async beyond this
    * refuses loudly (400) instead of stacking another driver thread +
    * Spark job. Settled cache entries don't count — only in-flight runs.
    */
  val MaxPendingAsync: Int = 64

  /** The embedded query console (the reference's web/index.go page shape:
    * SQL textarea → POST /run → rows table + per-column cardinalities +
    * stats line). Self-contained — no external assets.
    */
  val IndexHtml: String =
    """<!DOCTYPE html>
      |<html lang="en">
      |<head>
      |<meta charset="utf-8">
      |<meta name="viewport" content="width=device-width, initial-scale=1">
      |<title>graft</title>
      |<style>
      |  body { font-family: system-ui, sans-serif; margin: 2em; color: #222; }
      |  textarea { width: 100%; height: 10em; font-family: monospace;
      |             font-size: 14px; box-sizing: border-box; }
      |  button { margin: 0.5em 0; padding: 0.4em 1.2em; font-size: 14px; }
      |  table { border-collapse: collapse; margin-top: 1em; }
      |  th, td { border: 1px solid #ccc; padding: 0.25em 0.6em;
      |           font-size: 13px; text-align: left; }
      |  th { background: #f0f0f0; }
      |  th .card { font-weight: normal; color: #777; font-size: 11px; }
      |  .error { color: #b00; font-weight: bold; }
      |  .stats { color: #555; font-size: 12px; margin-top: 0.5em; }
      |</style>
      |</head>
      |<body>
      |<h2>graft query console</h2>
      |<textarea id="sql" placeholder="SELECT ...">SELECT _points FROM </textarea>
      |<br><button id="runBtn">Run</button>
      |<div id="out"></div>
      |<script>
      |function esc(s) { var d = document.createElement('div');
      |  d.appendChild(document.createTextNode(String(s))); return d.innerHTML; }
      |function render(r) {
      |  var out = document.getElementById('out');
      |  if (r.error) { out.innerHTML = '<p class="error">' + esc(r.error) + '</p>'; return; }
      |  var cols = {};
      |  r.rows.forEach(function(row) { Object.keys(row).forEach(function(k) { cols[k] = 1; }); });
      |  var names = Object.keys(cols);
      |  var h = '<table><tr>' + names.map(function(n) {
      |    var c = r.cardinalities && r.cardinalities[n];
      |    return '<th>' + esc(n) + (c !== undefined ?
      |      ' <span class="card">' + esc(c) + ' distinct</span>' : '') + '</th>';
      |  }).join('') + '</tr>';
      |  r.rows.forEach(function(row) {
      |    h += '<tr>' + names.map(function(n) {
      |      var v = row[n]; return '<td>' + (v === undefined || v === null ? '' : esc(v)) + '</td>';
      |    }).join('') + '</tr>';
      |  });
      |  h += '</table>';
      |  h += '<p class="stats">' + r.stats.rows + ' rows in ' + r.stats.elapsedMs + ' ms' +
      |    (r.truncated ? ' (truncated)' : '') +
      |    (r.stats.completed ? '' : ' (deadline hit)') + '</p>';
      |  out.innerHTML = h;
      |}
      |document.getElementById('runBtn').onclick = function() {
      |  var out = document.getElementById('out');
      |  out.innerHTML = '<p class="stats">running...</p>';
      |  fetch('/run', { method: 'POST', body: document.getElementById('sql').value })
      |    .then(function(resp) { return resp.json(); })
      |    .then(render)
      |    .catch(function(e) { out.innerHTML = '<p class="error">' + esc(e) + '</p>'; });
      |};
      |</script>
      |</body>
      |</html>
      |""".stripMargin

  /** Responses below this size skip gzip (envelope outweighs savings). */
  val GzipMinBytes: Int = 860

  /** Request-body cap (insert batches, POSTed SQL) — mirrors the RPC
    * framing's 64 MiB MaxFrame; larger uploads should be split.
    */
  val MaxBodyBytes: Int = 64 << 20
}
