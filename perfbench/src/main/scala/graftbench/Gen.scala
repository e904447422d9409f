package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every workload draws its inputs from here, so
  * the same `--seed` yields the same points, queries and documents; the
  * program under test only ever sees these generated inputs.
  *
  * The shapes are those of the sf0.1 `events` and `documents` tables that
  * graft.Bench and the dedup gates of graft.SparkEntry run on, profiled
  * once and recorded here (perfbench/metrics.json, "sources", lists each
  * figure with how it was measured).
  */
object Gen {
  /** 2024-01-01T00:00:00Z: the first day of the sf0.1 events. */
  val Epoch: Long = 1704067200000L
  val HourMs: Long = 3600000L
  val DayMs: Long = 86400000L

  // ---- events --------------------------------------------------------------

  /** sf0.1: user_id 0..1499, 45-99 events each (uniform draw). */
  val Users: Int = 1500
  /** sf0.1: five event types, 19.8-20.3% each (uniform draw). */
  val EventTypes: IndexedSeq[String] =
    IndexedSeq("click", "view", "signup", "purchase", "error")
  /** sf0.1: 100 000 events over 30 days in timestamp order (none late),
    * exponential gaps (median 17.8 s, p90 59.8 s): a Poisson stream.
    */
  val MeanGapMs: Double = 30.0 * DayMs / 100000
  /** sf0.1: value exponential with mean 49.87 (median 34.77, p90 114.3),
    * two decimals. Points carry it in whole cents so that every total the
    * checks compare is exact.
    */
  val MeanValueCents: Double = 4986.83

  final case class Point(ts: Long, userId: Long, eventType: String, cents: Long) {
    def value: Double = cents / 100.0
    def jsonLine: String =
      s"""{"ts":$ts,"dims":{"user_id":$userId,"event_type":"$eventType"},""" +
        s""""vals":{"value":${cents / 100}.${"%02d".format(cents % 100)}}}"""
  }

  /** Independent random streams per purpose, all derived from the seed. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private def exponential(r: SplittableRandom, mean: Double): Double =
    -math.log(1.0 - r.nextDouble()) * mean

  def point(r: SplittableRandom, ts: Long): Point =
    Point(ts, r.nextInt(Users).toLong, EventTypes(r.nextInt(EventTypes.size)),
      math.round(exponential(r, MeanValueCents)))

  /** The next `n` arrivals of the stream after `afterMs`, in time order. */
  def arrivals(r: SplittableRandom, n: Int, afterMs: Long): IndexedSeq[Point] = {
    var ts = afterMs
    IndexedSeq.fill(n) {
      ts += 1L + math.round(exponential(r, MeanGapMs))
      point(r, ts)
    }
  }

  def jsonLines(ps: Iterable[Point]): String = ps.map(_.jsonLine).mkString("\n")

  /** Per-day (sum of value in cents, point count) of a point set. */
  def dayTotals(ps: Iterable[Point]): Map[Long, (Long, Long)] =
    ps.groupBy(p => Math.floorDiv(p.ts, DayMs)).map { case (d, xs) =>
      d -> (xs.iterator.map(_.cents).sum, xs.size.toLong)
    }

  def addTotals(a: Map[Long, (Long, Long)], b: Map[Long, (Long, Long)])
      : Map[Long, (Long, Long)] =
    (a.keySet ++ b.keySet).map { d =>
      val (s1, n1) = a.getOrElse(d, (0L, 0L))
      val (s2, n2) = b.getOrElse(d, (0L, 0L))
      d -> (s1 + s2, n1 + n2)
    }.toMap

  /** A sum of values read back as a double, in whole cents. */
  def cents(v: Double): Long = math.round(v * 100)

  // ---- documents -----------------------------------------------------------

  final case class Doc(id: Long, text: String)

  /** sf0.1: every document is drawn from these 30 words (8 829-9 182 uses
    * each), so documents share word trigrams by chance and candidate
    * generation sees false candidates, not only planted pairs.
    */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** sf0.1: 10 to 100 words, uniform (deciles 19, 28, ..., 90). */
  def docText(r: SplittableRandom): String =
    Iterator.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")

  /** sf0.1: 250 of 5 000 documents (5%) are another document with the
    * token "dup" appended; 8 texts (0.16%) occur twice.
    */
  val NearCopyShare: Double = 0.05
  val RecrawlShare: Double = 0.0016

  def nearCopy(text: String): String = text + " dup"

  /** Distinct word trigrams, as the dedup passes shingle a text. */
  def trigrams(text: String): Set[String] =
    text.split(' ').sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
}
