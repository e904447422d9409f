package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the zeno-cli-equivalent surface in one-shot mode. */
class CliSpec extends AnyFunSuite with TestSession {

  test("one-shot CLI runs a dialect statement over a populated store") {
    val dir = Files.createTempDirectory("graft-cli").toString
    val yaml = "t:\n  sql: >\n    SELECT v FROM s GROUP BY k, period(1s)\n"
    val schemaFile = Files.createTempFile("schema", ".yaml")
    Files.writeString(schemaFile, yaml)
    val db = new GraftDB(spark, yaml, dir)
    val sch = StructType(Seq(StructField("ts", TimestampType),
      StructField("k", StringType), StructField("v", DoubleType)))
    db.insert("s", spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Timestamp(1700000000000L), "a", Double.box(2.0)),
      Row(new java.sql.Timestamp(1700000000100L), "a", Double.box(3.0))), 1), sch))

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Cli.main(Array(schemaFile.toString, dir,
        "SELECT v, _points FROM t GROUP BY k, period('100s')"))
    }
    val printed = out.toString
    assert(printed.contains("5.0"), printed) // 2+3
    assert(printed.contains("2.0"), printed) // _points

    // --porcelain: headerless CSV rows, every row streamed (the reference's
    // -porcelain flag + CSV one-shot dump, zeno-cli.go:43,87)
    val csvOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(csvOut)) {
      Cli.main(Array(schemaFile.toString, dir, "--porcelain",
        "SELECT v, _points FROM t GROUP BY k, period('100s')"))
    }
    val csvLines = csvOut.toString.trim.split("\n").toSeq
    assert(csvLines.length == 1, csvOut.toString)
    val csv = csvLines.head
    assert(!csv.contains("|") && !csv.contains("_points"),
      s"porcelain output must be headerless bare CSV, not a table: $csv")
    assert(csv.split(",").contains("5.0") && csv.split(",").contains("2.0")
      && csv.split(",").contains("a"), csv)

    // REPL mode: \stats toggles per-query timing on stderr (the reference's
    // -querystats flag)
    val replOut = new java.io.ByteArrayOutputStream()
    val replErr = new java.io.ByteArrayOutputStream()
    val oldIn = System.in
    val oldErr = System.err
    System.setIn(new java.io.ByteArrayInputStream(
      "\\stats\nSELECT v FROM t GROUP BY k\n\\q\n".getBytes))
    System.setErr(new java.io.PrintStream(replErr))
    try Console.withOut(new java.io.PrintStream(replOut)) {
      Cli.main(Array(schemaFile.toString, dir))
    } finally { System.setIn(oldIn); System.setErr(oldErr) }
    assert(replOut.toString.contains("query stats on"), replOut.toString)
    assert(replOut.toString.contains("5.0"), replOut.toString)
    assert(replErr.toString.matches("(?s).*-- \\d+\\.\\d\\d s.*"), replErr.toString)
  }

  test("REPL survives nasty input: unknown commands, malformed \\i, bad SQL") {
    val dir = Files.createTempDirectory("graft-cli-nasty").toString
    val yaml = "t:\n  sql: >\n    SELECT v FROM s GROUP BY k, period(1s)\n"
    val schemaFile = Files.createTempFile("schema", ".yaml")
    Files.writeString(schemaFile, yaml)
    val out = new java.io.ByteArrayOutputStream()
    val oldIn = System.in
    // an unknown backslash command, a \i missing its file, a parse error,
    // then a clean \q — every bad line must produce a pointed message and
    // the session must survive to the next prompt
    System.setIn(new java.io.ByteArrayInputStream(
      "\\x\n\\i onlystream\nSELECT garbage((\n\\q\n".getBytes))
    try Console.withOut(new java.io.PrintStream(out)) {
      Cli.main(Array(schemaFile.toString, dir))
    } finally System.setIn(oldIn)
    val printed = out.toString
    assert(printed.contains("unknown command \\x"), printed)
    assert(printed.contains("error: usage: \\i <stream> <file.jsonl>"), printed)
    // the parse error names the SQL problem, not a backslash confusion
    assert(printed.contains("error:") && !printed.contains("error: null"),
      printed)
  }

  test("remote CLI refuses a non-numeric or out-of-range port by name") {
    val e = intercept[IllegalArgumentException] {
      Cli.main(Array("--connect", "localhost:notaport"))
    }
    assert(e.getMessage.contains("numeric port"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Cli.main(Array("--connect", "localhost:99999"))
    }
    assert(e2.getMessage.contains("numeric port"), e2.getMessage)
  }

  test("remote CLI queries a running RPC server over the compressed transport") {
    // the reference CLI is a remote client (zeno-cli.go:68 dials the rpc
    // server through the snappy conn); --connect is that surface
    val dir = Files.createTempDirectory("graft-cli-remote").toString
    val yaml = "t:\n  sql: >\n    SELECT v FROM s GROUP BY k, period(1s)\n"
    val db = new GraftDB(spark, yaml, dir)
    val sch = StructType(Seq(StructField("ts", TimestampType),
      StructField("k", StringType), StructField("v", DoubleType)))
    db.insert("s", spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new java.sql.Timestamp(1700000000000L), "a", Double.box(2.0)),
      Row(new java.sql.Timestamp(1700000000100L), "a", Double.box(3.0))), 1), sch))
    val srv = new graft.server.RpcServer(spark, db, 0)
    val port = srv.start()
    try {
      // one-shot
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        Cli.main(Array("--connect", s"localhost:$port",
          "SELECT v, _points FROM t GROUP BY k, period('100s')"))
      }
      val printed = out.toString
      assert(printed.contains("\"v\":5.0"), printed)
      assert(printed.contains("\"_points\":2.0"), printed)

      // REPL with \stats: the server's QueryStats END frame echoes to stderr
      val replOut = new java.io.ByteArrayOutputStream()
      val replErr = new java.io.ByteArrayOutputStream()
      val oldIn = System.in
      val oldErr = System.err
      System.setIn(new java.io.ByteArrayInputStream(
        "\\stats\nSELECT v FROM t GROUP BY k\nSELECT nope FROM missing\n\\q\n".getBytes))
      System.setErr(new java.io.PrintStream(replErr))
      try Console.withOut(new java.io.PrintStream(replOut)) {
        Cli.main(Array("--connect", s"localhost:$port"))
      } finally { System.setIn(oldIn); System.setErr(oldErr) }
      assert(replOut.toString.contains("\"v\":5.0"), replOut.toString)
      assert(replErr.toString.contains("\"completed\":true"), replErr.toString)
      // a bad statement reports an ERR frame, not a dropped session
      assert(replOut.toString.contains("error:"), replOut.toString)

      // remote insert: \i streams a JSONL file over the INSERT verb (the
      // reference client surface includes the streaming inserter,
      // rpc/rpc.go NewInserter), then a query sees the new points
      val jsonl = Files.createTempFile("points", ".jsonl")
      Files.writeString(jsonl,
        (1 to 1100).map(i => // >500 lines forces multiple POINTS frames
          s"""{"ts": ${1700000000000L + i}, "dims": {"k": "b"}, "vals": {"v": 1}}""")
          .mkString("\n"))
      val insOut = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(insOut)) {
        Cli.main(Array("--connect", s"localhost:$port",
          s"\\i s ${jsonl}",
          "SELECT v FROM t WHERE k = 'b' GROUP BY k, period('100s')"))
      }
      assert(insOut.toString.contains("inserted 1100"), insOut.toString)
      assert(insOut.toString.contains("\"v\":1100.0"), insOut.toString)
    } finally srv.stop()
  }

  test("embedded CLI \\i inserts a JSONL file through the local insert path") {
    val dir = Files.createTempDirectory("graft-cli-ins").toString
    val yaml = "t:\n  sql: >\n    SELECT v FROM s GROUP BY k, period(1s)\n"
    val schemaFile = Files.createTempFile("schema", ".yaml")
    Files.writeString(schemaFile, yaml)
    val jsonl = Files.createTempFile("points", ".jsonl")
    Files.writeString(jsonl, Seq(
      s"""{"ts": 1700000000000, "dims": {"k": "a"}, "vals": {"v": 2}}""",
      s"""{"ts": 1700000000100, "dims": {"k": "a"}, "vals": {"v": 3}}""")
      .mkString("\n"))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Cli.main(Array(schemaFile.toString, dir,
        s"\\i s ${jsonl}",
        "SELECT v FROM t GROUP BY k"))
    }
    assert(out.toString.contains("inserted 2"), out.toString)
    assert(out.toString.contains("5.0"), out.toString)
  }

  test("Server: --maintain-interval argument validation fails fast") {
    // both failures must surface as targeted requires BEFORE any Spark
    // session or file access happens
    val missing = intercept[IllegalArgumentException] {
      Server.main(Array("schema.yaml", "dir", "--maintain-interval"))
    }
    assert(missing.getMessage.contains("requires a value"),
      missing.getMessage)
    val garbage = intercept[IllegalArgumentException] {
      Server.main(Array("schema.yaml", "dir", "--maintain-interval", "fast"))
    }
    assert(garbage.getMessage.contains("whole number"), garbage.getMessage)
    // the usage string documents the flag
    val usage = intercept[IllegalArgumentException] {
      Server.main(Array("--maintain-interval", "5"))
    }
    assert(usage.getMessage.contains("--maintain-interval <seconds>"),
      usage.getMessage)
  }
}
