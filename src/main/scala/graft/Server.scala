package graft

import org.apache.spark.sql.SparkSession

/** zeno daemon parity (/root/reference/cmd/zeno/zeno.go): boot a [[GraftDB]]
  * from a schema file and serve the HTTP and RPC surfaces until the process
  * is killed.
  *
  *   runMain graft.Server <schema.yaml> <dataDir> [httpPort] [rpcPort] [aliases.props]
  *
  * Port 0 (the default) binds ephemerally and prints the bound ports. The
  * schema file is polled for live ALTERs, the reference's watched-schema
  * behavior (zeno.go srv.Schema + schema watcher) — edit the yaml in place
  * and attached tables pick the new definition up at their next batch. The
  * optional aliases file is the reference's `-aliases` flag
  * (cmd/flags.go:28): `NAME = template(%v, %v)` lines registered as
  * expression aliases before the first query.
  */
object Server {

  /** A started daemon: both surfaces share one embedded [[GraftDB]].
    * `stop()` also interrupts the schema watcher and maintenance loop, so
    * repeated start/stop cycles in one JVM don't accumulate poller threads.
    */
  final case class Running(db: GraftDB, http: server.HttpServer,
                           rpc: server.RpcServer, httpPort: Int, rpcPort: Int,
                           watcher: Option[Thread],
                           maintainer: Option[Maintainer] = None) {
    def stop(): Unit = {
      watcher.foreach(_.interrupt())
      maintainer.foreach(_.stop())
      http.stop(); rpc.stop()
      // the reference daemon closes its DB on shutdown (zeno.go defer
      // db.Close): quiesce the db's own writers and session hooks too
      db.close()
    }
  }

  /** The daemon's self-driving maintenance loop (the reference's tables run
    * their own flush/retention timers, zenodb.go — nothing external calls
    * them; this is the index-lifecycle analogue): every `intervalMs`, one
    * [[GraftDB.maintenanceTick]] over the enrolled indexes. Per-index
    * failures are contained inside the tick.
    *
    * Shutdown is FLAG-based, not interrupt-only: an interrupt that lands
    * while a tick is inside a Spark job surfaces as some wrapped exception
    * that the tick's failure containment would swallow — consuming the
    * interrupt FLAG and leaving the loop ticking forever (observed as a
    * stopped test daemon spamming probedFraction jobs for the rest of the
    * JVM). `stop()` sets the flag first, then interrupts to cut a sleep
    * short; the loop re-checks the flag after every wake-up of either kind.
    */
  final class Maintainer private[Server] (db: GraftDB, intervalMs: Long) {
    @volatile private var stopped = false
    private val t = new Thread(() => {
      while (!stopped) {
        try Thread.sleep(intervalMs)
        catch { case _: InterruptedException => () }
        if (!stopped) {
          try db.lastMaintenance = db.maintenanceTick()
          catch { case e: Exception => if (!stopped)
            System.err.println(
              s"[graft] maintenance tick failed: ${e.getMessage}")
          }
        }
      }
    }, "graft-maintain")
    t.setDaemon(true)
    t.start()
    def stop(): Unit = { stopped = true; t.interrupt() }
  }

  private def maintainLoop(db: GraftDB, intervalMs: Long): Maintainer =
    new Maintainer(db, intervalMs)

  def start(spark: SparkSession, schemaPath: String, dataDir: String,
            httpPort: Int = 0, rpcPort: Int = 0,
            watchSchema: Boolean = true,
            now: () => Long = () => System.currentTimeMillis(),
            maintainIntervalMs: Long = 0L): Running = {
    val db = new GraftDB(spark,
      java.nio.file.Files.readString(java.nio.file.Paths.get(schemaPath)),
      dataDir, now)
    val watcher = if (watchSchema) Some(db.watchSchemaFile(schemaPath)) else None
    // any half-start below must unwind whatever already came up — a daemon
    // the caller can't stop would squat on ports / leak the watcher thread
    // until the JVM exits (embedded callers retrying start() would
    // accumulate poller threads)
    val http =
      try new server.HttpServer(spark, db, httpPort)
      catch { case e: Throwable => watcher.foreach(_.interrupt()); throw e }
    val boundHttp =
      try http.start()
      catch {
        case e: Throwable =>
          http.stop(); watcher.foreach(_.interrupt()); throw e
      }
    val rpc =
      try new server.RpcServer(spark, db, rpcPort)
      catch {
        case e: Throwable =>
          http.stop(); watcher.foreach(_.interrupt()); throw e
      }
    val boundRpc =
      try rpc.start()
      catch {
        case e: Throwable =>
          http.stop(); watcher.foreach(_.interrupt()); throw e
      }
    val maintainer =
      if (maintainIntervalMs > 0) Some(maintainLoop(db, maintainIntervalMs))
      else None
    Running(db, http, rpc, boundHttp, boundRpc, watcher, maintainer)
  }

  def main(args0: Array[String]): Unit = {
    // --vtime: the reference's virtual-time flag (server/server.go:632) —
    // the db clock advances with inserted timestamps instead of the wall
    val vtime = args0.contains("--vtime")
    // --maintain-interval <seconds>: run GraftDB.maintenanceTick on a
    // period (0 = off). Indexes enroll via registerDedupMaintenance /
    // registerAnnMaintenance.
    val mIdx = args0.indexOf("--maintain-interval")
    require(mIdx < 0 || mIdx + 1 < args0.length,
      "--maintain-interval requires a value in seconds")
    val maintainMs =
      if (mIdx >= 0) {
        val v = args0(mIdx + 1)
        require(v.nonEmpty && v.forall(_.isDigit),
          s"--maintain-interval: expected a whole number of seconds, got '$v'")
        v.toLong * 1000L
      } else 0L
    val noVtime = args0.filterNot(_ == "--vtime")
    val args = {
      val i = noVtime.indexOf("--maintain-interval")
      if (i >= 0) noVtime.patch(i, Nil, 2) else noVtime
    }
    require(args.length >= 2,
      "usage: Server <schema.yaml> <dataDir> [httpPort] [rpcPort] " +
        "[aliases.props] [--vtime] [--maintain-interval <seconds>]")
    val spark = Sessions.fromEnv()
    args.lift(4).foreach(p => sqlx.Parser.registerAliasesProps(
      java.nio.file.Files.readString(java.nio.file.Paths.get(p))))
    val r = start(spark, args(0), args(1),
      args.lift(2).map(_.toInt).getOrElse(0),
      args.lift(3).map(_.toInt).getOrElse(0),
      now = if (vtime) GraftDB.virtualClock()
            else () => System.currentTimeMillis(),
      maintainIntervalMs = maintainMs)
    println(s"graft server up: http=${r.httpPort} rpc=${r.rpcPort}")
    // serve until killed (the reference's HandleShutdownSignal + run loop)
    Thread.currentThread().join()
  }
}
