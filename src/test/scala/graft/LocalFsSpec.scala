package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Store writes go through [[graft.io.LocalFs]]: they start no `chmod`
  * process, leave the modes Hadoop's stock local file system leaves, and no
  * write in the store sources bypasses the helper.
  */
class LocalFsSpec extends AnyFunSuite with TestSession {

  private val T0 = 1700000000000L

  private def walk(root: Path): Seq[Path] = {
    val st = Files.walk(root)
    try st.iterator().asScala.toList finally st.close()
  }

  /** The command lines of every process the JVM started during `body`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("store, journal and index writes start no chmod and keep the stock modes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-localfs")
    val yaml =
      """byserver:
        |  partitionby: [server]
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY *, period(5m)
        |
        |hourly:
        |  sql: >
        |    SELECT requests FROM inbound GROUP BY server, period(1h)
        |""".stripMargin
    val db = new GraftDB(spark, yaml, dir.toString, () => T0 + 200000000)
    db.enableFollowJournal()
    val points = (1 to 40).map(i =>
      (new java.sql.Timestamp(T0 + i * 60000L), s"srv$i", i.toDouble))
      .toDF("ts", "server", "requests")
    val idx = dir.resolve("nd").toString
    val docs = (0L until 30L).map(i => (i, s"local fs seed text $i"))
      .toDF("doc_id", "text")
    pipeline.Dedup.buildNearDupIndexIfMissing(docs, col("text"), col("doc_id"),
      idx, n = 1, numHashes = 64, bands = 32)
    val batch = (0L until 20L).map(i => (1000L + i, s"local fs batch doc $i"))
      .toDF("doc_id", "text")

    val started = try processStarts {
      db.insert("inbound", points)
      pipeline.Dedup.nearDupIncremental(batch, col("text"), col("doc_id"), idx,
        n = 1, numHashes = 64, bands = 32, threshold = 0.9, admit = true).count()
      // the recording does see a process start
      new ProcessBuilder("true").start().waitFor()
    } finally db.close()

    // every entry the writes made: commit generations, journal entries and
    // the index, each the tree of one Hadoop write (the nio-written meta
    // files beside them are not)
    val written = Seq(dir.resolve("byserver/commits"), dir.resolve("hourly/commits"))
      .flatMap(c => walk(c).filter(_ != c)) ++
      walk(dir.resolve("_follow")).filter(_.getFileName.toString.endsWith(".jsonl"))
        .flatMap(walk) ++
      walk(Paths.get(idx))
    def hadoopFile(p: Path) = {
      val n = p.getFileName.toString
      n.startsWith("part-") || n.endsWith(".crc") || n == "_SUCCESS"
    }
    val files = written.filter(p => Files.isRegularFile(p) && hadoopFile(p))
    val dirs = written.filter(Files.isDirectory(_))
    assert(files.exists(_.toString.endsWith(".parquet.crc")), "no .crc files written")
    assert(files.exists(_.toString.contains(".jsonl/part-")), "no journal entry written")
    assert(dirs.exists(_.toString.contains("__bucket=")), "no partitionby buckets written")
    def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    files.foreach(p => assert(mode(p) == "rw-r--r--", p))
    dirs.foreach(p => assert(mode(p) == "rwxr-xr-x", p))

    assert(started.contains("true"), started)
    val chmods = started.filter(_.split(' ').head.endsWith("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod processes, e.g. ${chmods.take(3)}")
  }

  test("every DataFrame write in the store sources goes through storeWrite") {
    val sources = Seq("streaming/MaterializedTable.scala", "GraftDB.scala",
      "pipeline/Dedup.scala", "pipeline/Similarity.scala")
      .map(f => Paths.get("src/main/scala/graft", f))
    // `.write` not followed by `(`: Dataset.write, never nio's Files.write(...)
    val bare = """\.write\b(?!\s*\()""".r
    sources.foreach { p =>
      // comments name `df.write` too; blanking them keeps line numbers
      val code = """(?s)/\*.*?\*/""".r
        .replaceAllIn(Files.readString(p), _.matched.filter(_ == '\n'))
        .replaceAll("""//[^\n]*""", "")
      assert(code.contains(".storeWrite"), s"$p has no store write left to guard")
      val hits = bare.findAllMatchIn(code).map(m =>
        code.substring(0, m.start).count(_ == '\n') + 1).toSeq
      assert(hits.isEmpty, s"$p writes without storeWrite at lines $hits")
    }
  }
}
