package graft.tools

import org.apache.spark.scheduler._

/** Measurement harness for the optimization loop (guide §1): runs named
  * gate queries with a SparkListener attached and reports, per run,
  *   wall seconds, #jobs, #stages, #tasks, summed task time, summed
  *   shuffle read/write bytes
  * so "where does the time go" is answerable from one line — a query whose
  * wall time is 10× its summed task time is paying job/stage round-trip
  * overhead (driver scheduling), not compute; one dominated by task time
  * with low shuffle bytes is expression-bound; high shuffle bytes point at
  * exchange work. Runs each query twice (cold plan+exec, then warm) like
  * the bench's two passes.
  *
  *   scripts/jrun graft.tools.JobProfile q_a q_b ...   (all queries if none)
  */
object JobProfile {
  final class Acc extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var shufReadB = 0L
    @volatile var shufWriteB = 0L
    val stageNames = scala.collection.mutable.Map.empty[Int, String]
    val stageTimeMs = scala.collection.mutable.Map.empty[Int, Long]
    val stageTasks = scala.collection.mutable.Map.empty[Int, Int]
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        stageNames(s.stageInfo.stageId) =
          s.stageInfo.name.take(80) + " | " +
            s.stageInfo.details.linesIterator.toSeq
              .find(l => l.contains("graft.") && !l.contains("JobProfile"))
              .getOrElse("").trim.take(90)
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        shufReadB += m.shuffleReadMetrics.totalBytesRead
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
        stageTimeMs(t.stageId) = stageTimeMs.getOrElse(t.stageId, 0L) +
          m.executorRunTime
        stageTasks(t.stageId) = stageTasks.getOrElse(t.stageId, 0) + 1
      }
    }
    def topStages(k: Int): Seq[String] = synchronized {
      stageTimeMs.toSeq.sortBy(-_._2).take(k).map { case (id, ms) =>
        f"    stage $id%4d ${ms / 1000.0}%8.2fs tasks=${stageTasks.getOrElse(id, 0)}%4d  ${stageNames.getOrElse(id, "?")}"
      }
    }
    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0
      shufReadB = 0; shufWriteB = 0
      stageNames.clear(); stageTimeMs.clear(); stageTasks.clear()
    }
    def line: String = synchronized {
      f"jobs=$jobs%3d stages=$stages%3d tasks=$tasks%5d " +
        f"taskTime=${taskTimeMs / 1000.0}%7.2fs " +
        f"shufR=${shufReadB / 1e6}%8.2fMB shufW=${shufWriteB / 1e6}%8.2fMB"
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.fromEnv()
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)

    def run(name: String, tag: String): Unit = {
      // settle listener bus from the previous run so counts don't bleed
      Thread.sleep(150)
      acc.reset()
      spark.sparkContext.setJobDescription(s"$name $tag")
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Thread.sleep(150)
      println(f"$name%-28s $tag%-4s wall=${(t2 - t0) / 1e9}%7.3fs " +
        f"(plan=${(t1 - t0) / 1e9}%6.3f exec=${(t2 - t1) / 1e9}%6.3f) ${acc.line}")
      if (sys.props.get("graft.profileStages").contains("true"))
        acc.topStages(10).foreach(println)
    }

    // same session warmup as Bench so cold numbers aren't class-load noise
    spark.sparkContext.setJobDescription("warmup")
    graft.SparkEntry.queries("q_sum_group")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    def runIngest(tag: String): Unit = {
      Thread.sleep(150)
      acc.reset()
      spark.sparkContext.setJobDescription(s"ingest_events $tag")
      val t0 = System.nanoTime()
      val dir = java.nio.file.Files.createTempDirectory("graft-prof").toString
      val db = new graft.GraftDB(spark,
        "ev:\n  sql: >\n    SELECT value, AVG(value) AS av FROM evs GROUP BY event_type, user_id, period(1h)\n",
        dir)
      db.insert("evs", graft.Catalog.fromParquetDir(spark, sfDir, Seq("events"))
        .get("events").df)
      val t2 = System.nanoTime()
      Thread.sleep(150)
      println(f"ingest_events ${" " * 15} $tag%-4s wall=${(t2 - t0) / 1e9}%7.3fs ${acc.line}")
      if (sys.props.get("graft.profileStages").contains("true"))
        acc.topStages(10).foreach(println)
    }
    val names =
      if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      if (n == "ingest_events") { runIngest("cold"); runIngest("warm") }
      else { run(n, "cold"); run(n, "warm") }
    }
    spark.stop()
  }
}
