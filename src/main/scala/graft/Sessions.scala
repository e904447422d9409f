package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a SparkSession. Every entry point and every spec
  * goes through here, so the session a deployment runs is the session the
  * suite tests (zenodb's counterpart is its single `DBOpts`, zenodb.go).
  *
  * Deployment settings, read by [[fromEnv]]:
  *  - `SPARK_GRAFT_CPUS`: cores to plan for — shuffle partitions and the
  *    default master's thread count. Default: the host's available
  *    processors.
  *  - `SPARK_GRAFT_MASTER`: the master. Default `local[<cpus>]`;
  *    `local-cluster[4,8,4096]` runs against real executor JVMs (real
  *    serialization, broadcasts and shuffle transport).
  *  - `SPARK_GRAFT_JARS`: `spark.jars`, the packaged application jar
  *    (`sbt package`) that separate executors need to load graft classes.
  */
object Sessions {

  /** SQL confs every session carries, whatever its master and size. */
  val sqlConfs: Seq[(String, String)] = Seq(
    // let AQE right-size CACHED plan output partitions by advisory bytes
    // (default false keeps a persisted frame at spark.sql.shuffle.
    // partitions): every PersistCache scan-saver is a candidate-/vocab-
    // bounded frame, so without this each of its consumers paid one task
    // per configured shuffle partition regardless of size — measured 103
    // tasks -> 10 and −40% wall on the tf-idf gate (OPTIMIZATION_r21.md).
    // Bytes-based, so the setting is scale-adaptive, not local-tuned.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** The deployed session: master, cores and jars from the environment. */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    build(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus,
      sys.env.get("SPARK_GRAFT_JARS"))
  }

  /** A session on `master` with `partitions` shuffle partitions. Like
    * `getOrCreate`, it returns the JVM's existing session if there is one:
    * the first session's master and jars stand, the SQL confs are set again.
    */
  def build(master: String, partitions: Int,
            jars: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.ui.enabled", "false")
    sqlConfs.foreach { case (k, v) => b.config(k, v) }
    jars.foreach(b.config("spark.jars", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
