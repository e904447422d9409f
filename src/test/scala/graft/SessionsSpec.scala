package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the single session factory: no source file but [[Sessions]]
  * builds a session, and the suites' session carries the SQL confs a
  * deployment runs with.
  */
class SessionsSpec extends AnyFunSuite with TestSession {

  test("only graft.Sessions builds a SparkSession") {
    // split in two so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val src = Paths.get("src")
    val walk = Files.walk(src)
    val hits =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(needle))
        .map(p => src.relativize(p).toString).toSeq.sorted
      finally walk.close()
    assert(hits == Seq("main/scala/graft/Sessions.scala"))
  }

  test("the suites' session carries the shipped SQL confs; only master and partitions differ") {
    Sessions.sqlConfs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k differs from the shipped conf")
    }
    // the list itself: a conf dropped from Sessions must fail here too
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.master == TestSession.Master)
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      TestSession.Partitions.toString)
  }
}
