package graft

/** zeno-cli parity (/root/reference/cmd/zeno-cli): a minimal REPL over a
  * schema + data dir. `runMain graft.Cli <schema.yaml> <dataDir>` then type
  * dialect SQL, one statement per line; `\q` exits; `\stats` toggles
  * per-query stats on stderr (the reference's `-querystats` flag,
  * zeno-cli/main.go:44 + printQueryStats).
  *
  * Remote mode — the reference CLI is actually a remote client
  * (zeno-cli.go:68 dials the RPC server over the snappy conn): `runMain
  * graft.Cli --connect host:port [sql...]` talks to a running [[server
  * .RpcServer]] over the compressed transport, no local SparkSession at
  * all. Rows print as the wire's JSON lines; `\stats` echoes the server's
  * QueryStats from the END frame.
  *
  * `\i <stream> <file.jsonl>` inserts point JSON lines (the HTTP/RPC
  * `{"ts", "dims", "vals"}` shape) into a stream — remotely via the
  * client-streaming INSERT verb in 500-line frames (the reference's
  * `NewInserter`, rpc/rpc.go), locally via the embedded insert path. Works
  * as a REPL line or a one-shot argument.
  *
  * `--porcelain` (flag) / `\csv` (REPL toggle): machine-readable output —
  * headerless CSV rows, ALL rows streamed (not .show's 100-row preview) —
  * the reference's `-porcelain` flag (zeno-cli.go:43) and its CSV one-shot
  * dump. Embedded mode streams via toLocalIterator so an unbounded result
  * never buffers on the driver.
  */
object Cli {
  def main(args0: Array[String]): Unit = {
    val porcelain = args0.contains("--porcelain")
    val args = args0.filterNot(_ == "--porcelain")
    if (args.headOption.contains("--connect")) { remote(args.drop(1), porcelain); return }
    require(args.length >= 2,
      "usage: Cli <schema.yaml> <dataDir> [--porcelain] [sql...] | Cli --connect host:port [--porcelain] [sql...]")
    val spark = Sessions.fromEnv()
    val schemaText = java.nio.file.Files.readString(java.nio.file.Paths.get(args(0)))
    val db = new GraftDB(spark, schemaText, args(1))

    def run(line: String, statsOn: Boolean, csvOn: Boolean): Unit = parseInsert(line) match {
      case Some((stream, path)) =>
        var n = 0L
        eachLineChunk(path, 5000) { chunk =>
          n += server.PointsJson.insert(spark, db, stream, chunk)
        }
        println(s"inserted $n")
      case None =>
        val t0 = System.nanoTime()
        if (csvOn) {
          val it = db.sql(line).toLocalIterator()
          while (it.hasNext) println(csvRow(it.next()))
        } else db.sql(line).show(100, truncate = false)
        if (statsOn)
          System.err.println(f"-- ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    if (args.length > 2) {
      // one-shot mode: remaining args are statements; failures propagate
      // (non-zero exit) so scripts can gate on them
      args.drop(2).foreach(run(_, statsOn = false, csvOn = porcelain))
    } else repl(run, porcelain)
    // no spark.stop(): the session may be shared (getOrCreate); process exit
    // tears it down in standalone use
  }

  /** Shared REPL skeleton: `\q` exits, `\stats`/`\csv` toggle, statement
    * errors print and the session continues (only the REPL swallows errors —
    * one-shot modes let them propagate for a non-zero exit).
    */
  private def repl(run: (String, Boolean, Boolean) => Unit,
      porcelain: Boolean): Unit = {
    val in = new java.util.Scanner(System.in)
    var statsOn = false
    var csvOn = porcelain
    print("graft> ")
    while (in.hasNextLine) {
      val line = in.nextLine().trim
      if (line == "\\q") return
      if (line == "\\stats") {
        statsOn = !statsOn
        println(s"query stats ${if (statsOn) "on" else "off"}")
      } else if (line == "\\csv") {
        csvOn = !csvOn
        println(s"csv output ${if (csvOn) "on" else "off"}")
      } else if (line.startsWith("\\") && !line.startsWith("\\i ") &&
          line != "\\i") {
        // an unrecognized backslash command must not fall through to the
        // SQL parser — the resulting "bad token '\\'" error points at the
        // wrong problem. Bare "\i" is exempt: it falls through to run(),
        // whose parseInsert answers with the \i usage error.
        println(s"unknown command ${line.takeWhile(!_.isWhitespace)} " +
          "(try \\q, \\stats, \\csv, \\i <stream> <file.jsonl>)")
      } else if (line.nonEmpty) {
        try run(line, statsOn, csvOn)
        catch { case e: Exception =>
          // e.getMessage is null for e.g. NullPointerException — print
          // the class instead of the string "null"
          println(s"error: ${Option(e.getMessage).getOrElse(e.toString)}")
        }
      }
      print("graft> ")
    }
  }

  /** One result row as a CSV line (RFC-ish quoting; NULL prints empty). */
  private def csvRow(r: org.apache.spark.sql.Row): String =
    (0 until r.length).map { i =>
      val v = r.get(i)
      if (v == null) ""
      else {
        val s = String.valueOf(v)
        if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          "\"" + s.replace("\"", "\"\"") + "\""
        else s
      }
    }.mkString(",")

  private def remote(args: Array[String], porcelain: Boolean): Unit = {
    require(args.nonEmpty, "usage: Cli --connect host:port [sql...]")
    // split on the LAST colon so bare IPv6 literals ("::1:9000") resolve to
    // (::1, 9000) instead of a cryptic NumberFormatException
    val sep = args(0).lastIndexOf(':')
    require(sep > 0 && sep < args(0).length - 1, s"expected host:port, got ${args(0)}")
    val port = args(0).substring(sep + 1).toIntOption
      .filter(p => p > 0 && p <= 65535)
      .getOrElse(throw new IllegalArgumentException(
        s"expected host:port with a numeric port (1-65535), got ${args(0)}"))
    val client = new server.RpcClient(args(0).substring(0, sep),
      port, snappy = true)
    def run(line: String, statsOn: Boolean, csvOn: Boolean): Unit = parseInsert(line) match {
      case Some((stream, path)) =>
        // stream the file as 500-line POINTS frames (never whole-file);
        // close in a finally, not inside next() — an empty file or a
        // server error mid-stream must not leak the reader
        val reader = java.nio.file.Files.newBufferedReader(
          java.nio.file.Paths.get(path))
        val n =
          try client.insert(stream, new Iterator[String] {
            private var pending = reader.readLine()
            def hasNext: Boolean = pending != null
            def next(): String = {
              val sb = new StringBuilder
              var i = 0
              while (pending != null && i < 500) {
                sb.append(pending).append('\n'); i += 1
                pending = reader.readLine()
              }
              sb.toString
            }
          })
          finally reader.close()
        println(s"inserted $n")
      case None =>
        val (cols, rows, stats) = client.queryWithStats(line)
        if (!csvOn) println(cols.mkString("\t")) // porcelain: rows only
        rows.foreach(println)
        if (statsOn) System.err.println(s"-- $stats")
    }
    // one-shot failures propagate, matching embedded one-shot mode
    if (args.length > 1) args.drop(1).foreach(run(_, statsOn = false, csvOn = porcelain))
    else repl(run, porcelain)
  }

  /** `\i <stream> <file.jsonl>` → Some((stream, path)). */
  private def parseInsert(line: String): Option[(String, String)] =
    // bare "\i" is an \i invocation missing its arguments, not SQL: answer
    // with the usage error instead of the SQL lexer's "bad token '\'"
    if (line == "\\i") throw new IllegalArgumentException(
      "usage: \\i <stream> <file.jsonl>")
    else if (!line.startsWith("\\i ")) None
    else line.drop(3).trim.split("\\s+", 2) match {
      case Array(stream, path) => Some((stream, path.trim))
      case _ => throw new IllegalArgumentException(
        "usage: \\i <stream> <file.jsonl>")
    }

  /** Feed a file to `f` in chunks of `maxLines` JSON lines. */
  private def eachLineChunk(path: String, maxLines: Int)(f: String => Unit): Unit = {
    val reader = java.nio.file.Files.newBufferedReader(
      java.nio.file.Paths.get(path))
    try {
      var line = reader.readLine()
      while (line != null) {
        val sb = new StringBuilder
        var i = 0
        while (line != null && i < maxLines) {
          sb.append(line).append('\n'); i += 1
          line = reader.readLine()
        }
        f(sb.toString)
      }
    } finally reader.close()
  }
}
