package graft

import org.apache.spark.sql.SparkSession

/** The suites' session: the shipped confs of [[Sessions]] pinned to
  * `local[4]` and 4 shuffle partitions. Every suite runs in one forked JVM
  * and so shares one session; with one conf for all of them, what a suite
  * tests no longer depends on which suite happened to start first.
  */
trait TestSession {
  lazy val spark: SparkSession =
    Sessions.build(TestSession.Master, TestSession.Partitions)
}

object TestSession {
  val Master = "local[4]"
  val Partitions = 4
}
