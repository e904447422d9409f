package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}
import org.apache.spark.sql.{DataFrame, Row}

/** Facade: zenodb-dialect SQL string → DataFrame over a catalog of tables.
  * `now` is injectable so relative ASOF/UNTIL are deterministic in tests.
  */
object Engine {
  def sql(catalog: Catalog, query: String,
          now: () => Long = () => System.currentTimeMillis()): DataFrame =
    plan(catalog, sqlx.Parser.parse(query), now)

  /** Plans an already-parsed query, so a caller that parsed it need not
    * parse it again.
    */
  private[graft] def plan(catalog: Catalog, query: sqlx.Query,
      now: () => Long = () => System.currentTimeMillis()): DataFrame =
    new planner.Planner(catalog, now).plan(query)

  /** Execution stats returned alongside rows — the analogue of the
    * reference's common.QueryStats (common/common.go:57-64), which a cluster
    * query carries back even when some partitions miss the deadline
    * (cluster_query.go:317-330). Spark cancels the whole job group on
    * expiry, so completeness is boolean rather than per-partition:
    * `completed` = every task finished before the deadline; an expired
    * query yields zero rows with `completed = false` instead of silently
    * partial data. `elapsedMs` runs from the parse to the end of delivery.
    */
  final case class QueryStats(elapsedMs: Long, rows: Long, completed: Boolean) {
    /** The one wire form: HTTP's `stats` object and RPC's END frame body. */
    def toJson: String =
      s"""{"elapsedMs":$elapsedMs,"rows":$rows,"completed":$completed}"""
  }
  final case class QueryResult(rows: Array[Row], stats: QueryStats) {
    /** The rows; an expired deadline raises TimeoutException. */
    def completedRows(query: String, timeoutMs: Long): Array[Row] =
      if (stats.completed) rows
      else throw new TimeoutException(s"query exceeded ${timeoutMs}ms: $query")
  }

  /** Runs `consume` over a planned frame, timed from `t0` (a `nanoTime`
    * taken before the parse); `consume` returns its value and the number of
    * rows it delivered. With a deadline — the reference runs every query
    * under a context deadline that the operators propagate
    * (core/core_test.go deadline tests; 1h cluster default, zenodb.go:39) —
    * `consume` runs on its own thread in a dedicated job group with
    * interruptOnCancel, and expiry cancels the group, so running TASKS are
    * interrupted cluster-wide rather than orphaned. Never throws on expiry:
    * the value is None and the stats read zero rows, `completed = false`.
    */
  private[graft] def run[T](df: DataFrame, label: String,
      timeoutMs: Option[Long], t0: Long)(
      consume: DataFrame => (T, Long)): (Option[T], QueryStats) = {
    val out = timeoutMs.fold(Option(consume(df))) { ms =>
      val sc = df.sparkSession.sparkContext
      val group = s"graft-deadline-${java.util.UUID.randomUUID()}"
      val pool = Executors.newSingleThreadExecutor()
      try {
        val fut = pool.submit(new Callable[(T, Long)] {
          def call(): (T, Long) = {
            sc.setJobGroup(group, label, interruptOnCancel = true)
            try consume(df) finally sc.clearJobGroup()
          }
        })
        try Some(fut.get(ms, TimeUnit.MILLISECONDS))
        catch {
          case _: TimeoutException =>
            sc.cancelJobGroup(group); fut.cancel(true); None
          case e: ExecutionException => throw e.getCause
        }
      } finally pool.shutdown()
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    (out.map(_._1), QueryStats(elapsedMs, out.fold(0L)(_._2), out.isDefined))
  }

  /** The collecting consumer of the `sqlWithStats` forms. */
  private[graft] def collectRows(df: DataFrame): (Array[Row], Long) = {
    val rows = df.collect()
    (rows, rows.length.toLong)
  }

  /** Execute with a deadline ([[run]] collecting the rows). Never throws on
    * expiry — the result reports `stats.completed = false` (use
    * [[sqlTimed]] for the strict throw-on-expiry form).
    */
  def sqlWithStats(catalog: Catalog, query: String, timeoutMs: Long,
                   now: () => Long = () => System.currentTimeMillis()): QueryResult = {
    val t0 = System.nanoTime()
    val (rows, stats) =
      run(sql(catalog, query, now), query, Some(timeoutMs), t0)(collectRows)
    QueryResult(rows.getOrElse(Array.empty[Row]), stats)
  }

  /** Strict deadline form: expiry raises TimeoutException (the pre-stats
    * behavior; some callers prefer fail-fast to an empty result).
    */
  def sqlTimed(catalog: Catalog, query: String, timeoutMs: Long,
               now: () => Long = () => System.currentTimeMillis()): Array[Row] =
    sqlWithStats(catalog, query, timeoutMs, now).completedRows(query, timeoutMs)
}
