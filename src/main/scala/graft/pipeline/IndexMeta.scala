package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame

/** The one module that reads, validates, bumps and writes the meta file of a
  * persisted index. Like zenodb's filestores, every index records in a
  * header what it was built from, and nothing rebuilds over data that header
  * cannot account for (the reference refuses to reopen a filestore whose
  * version header it cannot account for, zenodb.go table open path).
  *
  * A meta file is a header line, a format-specific body and an `appends=N`
  * trailer. The three formats:
  *
  *  - [[Dedup]], `_index.txt` (exact, near-dup and containment indexes).
  *    Header: `fp=<rows>:<xor of xxhash64(id)>` for the exact index,
  *    `fp=…;n=<shingle n>;k=<hashes>;b=<bands>` for near-dup,
  *    `fp=…;n=<shingle n>;k=<probes>;kind=containment` for containment, or
  *    `fp=?` for a compacted copy of a meta-less index. No body lines. The
  *    trailer is always written (`appends=0` on a build) and the file ends
  *    with a newline.
  *  - [[Ivf]], `_centroids.txt`. Header:
  *    `fp=…;lloyd=<refine iters>;v=2;n=<cells>`, where `n` is the ACTUAL
  *    cell count (a corpus smaller than the request yields fewer). Body: `n`
  *    lines, one centroid each as comma-separated floats.
  *  - [[Pq]], `_pq.txt`. Header:
  *    `fp=…;m=<subspaces>;k=<codewords>;lloyd=…;pq=<pq iters>;c=<requested
  *    cells>;[keep=<col|col>;]v=2;n=<cells>`. Body: `n` coarse-centroid
  *    lines (floats), then `m × k` codeword lines (doubles), subspace-major.
  *    The ANN trailer is written only once N > 0, and the file has no
  *    trailing newline.
  *
  * The `appends=N` trailer counts incremental appends, history that no
  * seed-corpus fingerprint can account for, so N > 0 turns a corpus-change
  * "stale → rebuild" into a refusal. Every family shares one corruption rule:
  * an UNPARSEABLE counter, or a meta that cannot be read at all, lands on the
  * refusing side, never on 0. A spurious refusal costs an explicit directory
  * delete; a missed one silently discards admitted history.
  *
  * Commits are crash-atomic (tmp + ATOMIC_MOVE, the MANIFEST discipline of
  * [[graft.streaming.MaterializedTable]]), so a reader never sees a torn
  * meta and a death before the move leaves the previous one intact. A meta
  * is written LAST by every build and compaction, so "an index dir is
  * complete iff its meta is present" ([[requireComplete]]).
  */
private[graft] object IndexMeta {

  type Centroids = Seq[(Int, Seq[Float])]
  type Codebooks = Seq[Seq[Seq[Double]]]

  /** One meta file format, decoding to `T`. `hook` names the crash-hook
    * family its commits fire (`dedup.meta-*` or `ann.meta-*`).
    */
  sealed abstract class Format[T](val file: String, hook: String => Unit) {
    /** Header and body lines, verbatim; throws when they cannot be parsed. */
    def body(lines: Seq[String]): Seq[String]
    /** The decoded body; throws when it cannot be parsed. */
    def decode(lines: Seq[String]): T
    /** Header and body for a build from recipe `expected`. */
    def encode(expected: String, v: T): Seq[String]
    /** Whether `header` records recipe `expected`. */
    def matches(expected: String, header: String): Boolean
    /** The whole file: header and body, then the trailer. */
    def text(body: Seq[String], appends: Long): String
    /** The body a commit starts from when no meta exists yet, if allowed. */
    def absent: Option[Seq[String]]

    def path(dir: String): Path = Paths.get(dir, file)
    def existsAt(dir: String): Boolean = Files.exists(path(dir))
    private[IndexMeta] def fire(point: String): Unit = hook(point)
  }

  object Dedup extends Format[Unit]("_index.txt",
      p => graft.pipeline.Dedup.crashHook("dedup." + p)) {
    def body(lines: Seq[String]): Seq[String] = Seq(lines.headOption.fold("")(_.trim))
    def decode(lines: Seq[String]): Unit = ()
    def encode(expected: String, v: Unit): Seq[String] = Seq(expected)
    def matches(expected: String, header: String): Boolean = header.trim == expected
    def text(body: Seq[String], appends: Long): String =
      (body :+ s"appends=$appends").mkString("", "\n", "\n")
    def absent: Option[Seq[String]] = Some(Seq("fp=?"))
  }

  /** The two ANN formats: header with `n=`, float centroid lines first. */
  sealed abstract class AnnFormat[T](file: String)
      extends Format[T](file, p => Similarity.crashHook("ann." + p)) {
    protected def bodyLen(header: String): Int
    def body(lines: Seq[String]): Seq[String] = {
      val n = bodyLen(lines.head)
      require(lines.length >= n, s"$file: body shorter than its header")
      lines.take(n)
    }
    protected def centroids(lines: Seq[String]): Centroids =
      (0 until field(lines.head, "n").get.toInt).map { i =>
        i -> lines(i + 1).split(",").toSeq.map(_.toFloat)
      }
    protected def header(expected: String, cells: Centroids): String =
      s"$expected;n=${cells.length}"
    protected def floats(vs: Seq[Seq[Float]]): Seq[String] = vs.map(_.mkString(","))
    def matches(expected: String, header: String): Boolean =
      header.startsWith(expected + ";n=") &&
        header.stripPrefix(expected + ";n=").toIntOption.nonEmpty
    def text(body: Seq[String], appends: Long): String =
      (body ++ (if (appends > 0) Seq(s"appends=$appends") else Nil)).mkString("\n")
    def absent: Option[Seq[String]] = None
  }

  object Ivf extends AnnFormat[Centroids]("_centroids.txt") {
    protected def bodyLen(header: String): Int = 1 + field(header, "n").get.toInt
    def decode(lines: Seq[String]): Centroids = centroids(lines)
    def encode(expected: String, v: Centroids): Seq[String] =
      header(expected, v) +: floats(v.map(_._2))
  }

  object Pq extends AnnFormat[(Centroids, Codebooks)]("_pq.txt") {
    protected def bodyLen(header: String): Int = {
      def f(name: String) = field(header, name).get.toInt
      1 + f("n") + f("m") * f("k")
    }
    def decode(lines: Seq[String]): (Centroids, Codebooks) = {
      val h0 = lines.head
      val coarse = centroids(lines)
      val m = field(h0, "m").get.toInt
      val k = field(h0, "k").get.toInt
      val books = (0 until m).map { s =>
        (0 until k).map { j =>
          lines(1 + coarse.length + s * k + j).split(",").toSeq.map(_.toDouble)
        }
      }
      (coarse, books)
    }
    def encode(expected: String, v: (Centroids, Codebooks)): Seq[String] =
      (header(expected, v._1) +: floats(v._1.map(_._2))) ++
        v._2.flatten.map(_.mkString(","))
  }

  /** Every format: a directory holding any of their metas is complete. */
  private val All: Seq[Format[_]] = Seq(Ivf, Pq, Dedup)

  /** One `key=value` field of a header line (`fp=…;lloyd=2;v=2;n=16`). */
  def field(header: String, name: String): Option[String] =
    header.split(';').collectFirst {
      case f if f.startsWith(name + "=") => f.stripPrefix(name + "=")
    }

  /** The meta's lines; None when absent. A meta that exists but cannot be
    * read throws: it may hold an appends counter, so it must never count as
    * absent.
    */
  def lines(dir: String, fmt: Format[_]): Option[Seq[String]] = {
    val p = fmt.path(dir)
    if (!Files.exists(p)) None else Some(Files.readAllLines(p).asScala.toSeq)
  }

  /** The meta's lines and their decoding; throws `failure` when the meta
    * is absent or cannot be parsed.
    */
  def load[T](dir: String, fmt: Format[T], failure: => String): (Seq[String], T) =
    scala.util.Try { val ls = lines(dir, fmt).get; (ls, fmt.decode(ls)) }
      .getOrElse(throw new IllegalStateException(failure))

  /** The meta's exact content; None when absent. */
  def content(dir: String, fmt: Format[_]): Option[String] = {
    val p = fmt.path(dir)
    if (!Files.exists(p)) None else Some(Files.readString(p))
  }

  private def isTrailer(line: String): Boolean = line.trim.startsWith("appends=")

  /** Count of incremental appends recorded in the trailer; 0 when absent.
    * Scanned over ALL lines, so a mangled meta still trips the refusal as
    * long as the marker survives; an unparseable value reads Long.MaxValue.
    */
  def parseAppends(lines: Seq[String]): Long =
    lines.map(_.trim).collectFirst { case s if s.startsWith("appends=") =>
      s.stripPrefix("appends=").toLongOption.getOrElse(Long.MaxValue)
    }.getOrElse(0L)

  /** Saturating counter bump: a corrupt counter reads as Long.MaxValue and
    * must stay there — wrapping would re-arm the silent-rebuild path.
    */
  def saturatedBump(appends: Long): Long =
    if (appends >= Long.MaxValue - 1) Long.MaxValue else appends + 1L

  /** Crash-atomic commit of `text` as `dir`'s meta, firing the format's
    * `meta-pre`, `meta-tmp` and `meta-moved` hooks. The `_`-prefixed tmp
    * name keeps parquet readers from ever seeing it as data; a stale tmp
    * from a crashed writer is overwritten by the next commit.
    */
  def commit(dir: String, fmt: Format[_], text: String): Unit = {
    val meta = fmt.path(dir)
    fmt.fire("meta-pre")
    // an admit into a not-yet-existing index path (its first batch IS the
    // seed) commits its counter before any parquet file has created the dir
    Files.createDirectories(meta.getParent)
    val tmp = meta.resolveSibling(meta.getFileName.toString + ".tmp")
    Files.writeString(tmp, text)
    fmt.fire("meta-tmp")
    Files.move(tmp, meta, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    fmt.fire("meta-moved")
  }

  /** Bump the appends counter BEFORE an admit's data lands. Counter-first,
    * a death between the two commits leaves one count too many over an
    * unchanged index (a spurious refusal, resolved by an explicit delete);
    * data-first, the same death would leave admitted rows under a counter a
    * later fingerprint mismatch rebuilds over.
    */
  def bump(dir: String, fmt: Format[_]): Unit = {
    val (body, appends) = lines(dir, fmt) match {
      case Some(ls) => (fmt.body(ls), parseAppends(ls))
      case None => (fmt.absent.getOrElse(throw new IllegalStateException(
        s"no ${fmt.file} at $dir to count an append in")), 0L)
    }
    commit(dir, fmt, fmt.text(body, saturatedBump(appends)))
  }

  /** The meta a compaction of `src` carries to its destination, verbatim
    * (fingerprint, body and counter). Read it BEFORE the data rewrite, so
    * it describes the snapshot the rewrite reads; commit it LAST.
    */
  def carried(src: String, fmt: Format[_]): String =
    content(src, fmt).getOrElse(fmt.text(fmt.absent.getOrElse(
      throw new IllegalStateException(s"index at $src has no ${fmt.file} — " +
        "cannot produce a self-describing compacted copy")), 0L))

  // (indexPath, index kind, corpus identity + build recipe) -> decoded meta,
  // recorded once this JVM has validated (or built) the index for that
  // input, so the fingerprint scan runs once per (path, input content), not
  // per query. A rebuild drops every other entry for its path: otherwise a
  // corpus swap A -> B -> A in one session hits A's stale entry while B's
  // index is on disk.
  private val validated =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Any]()

  /** The decoded meta of the index at `indexPath` if it was built from
    * recipe `expected`, else `build` it and commit a fresh meta (appends=0).
    * `identity` is the corpus memo identity plus the recipe parameters; the
    * fingerprint inside `expected` is computed only on a memo miss. A meta
    * that is present but cannot be parsed is stale; one whose trailer shows
    * appends refuses the rebuild instead.
    */
  def validateOrBuild[T](fmt: Format[T], indexPath: String, what: String,
                         identity: String)(expected: => String)(build: => T): T = {
    val key = (indexPath, what, identity)
    val hit = validated.get(key)
    if (hit != null) return hit.asInstanceOf[T]
    val want = expected
    val meta = lines(indexPath, fmt)
    val reused = meta.flatMap { ls =>
      scala.util.Try {
        val body = fmt.body(ls)
        if (fmt.matches(want, body.head) && ls.drop(body.length).forall(isTrailer))
          Some(fmt.decode(ls))
        else None
      }.toOption.flatten
    }
    val v = reused.getOrElse {
      val appends = meta.fold(0L)(parseAppends)
      if (appends > 0) throw new IllegalStateException(
        s"$what at $indexPath holds $appends incremental append(s) that a " +
          "corpus-change rebuild would silently discard; delete the index " +
          "directory explicitly to rebuild from scratch")
      validated.keySet.removeIf(_._1 == indexPath)
      val built = build
      commit(indexPath, fmt, fmt.text(fmt.encode(want, built), 0L))
      built
    }
    validated.put(key, v)
    v
  }

  /** Whether `dir` is a directory holding a committed meta of one of
    * `family` — the completion sentinel every build and compaction writes
    * last.
    */
  def complete(dir: Path, family: Seq[Format[_]] = All): Boolean =
    Files.isDirectory(dir) && family.exists(f => Files.exists(dir.resolve(f.file)))

  /** Refuse a directory that holds index data but no meta of `family` — the
    * state a death inside a compaction leaves behind, and one that must
    * never serve reads: it would answer correctly today while reporting no
    * appends, quietly disarming the corpus-change rebuild refusal. Check it
    * before flipping readers to a compacted copy; on failure delete the
    * copy and re-compact from the intact source.
    */
  def requireComplete(indexPath: String, family: Seq[Format[_]]): Unit = {
    val dir = Paths.get(indexPath)
    if (!Files.isDirectory(dir) || complete(dir, family)) return
    val hasData = {
      val s = Files.list(dir)
      // every index layout counts as data: the flat prefix dirs of the
      // dedup and ANN indexes and the containment docs/ + post/ subtables
      try s.anyMatch { p =>
        val nm = p.getFileName.toString
        nm.startsWith("__hp=") || nm.startsWith("__c=") || nm == "docs" || nm == "post"
      }
      finally s.close()
    }
    if (hasData) throw new IllegalStateException(
      s"index at $indexPath holds data but no ${family.map(_.file).mkString("/")} " +
        "— an incomplete compacted copy (or a foreign directory); flipping " +
        "readers to it would disarm the appends-refusal. Delete it and " +
        "re-compact from the intact source")
  }

  /** Two-tier broadcast sizing of an admit's batch-derived frame, which
    * broadcasts only when it holds at most `maxRows` rows (`perRow` rows per
    * batch row). The daily path stays job-free: when the optimizer's
    * estimate of `batch` already proves it small, `exactRows` never runs;
    * only ambiguous or large batches pay that one count. `maxRows <= 0`
    * means "always shuffle".
    *
    * The estimate must bound ROWS, not bytes: a parquet scan's sizeInBytes
    * is COMPRESSED file bytes, and compressible short texts pack far more
    * rows per byte than that suggests. So it is the optimizer's row count
    * when it has one, else the bytes bounded with conservative constants
    * (up to 10× parquet compression, at least 8 bytes per row).
    */
  def fitsBroadcast(batch: DataFrame, maxRows: Long, perRow: Long = 1L)
                   (exactRows: => Long): Boolean = maxRows > 0 && {
    val stats =
      try Some(batch.queryExecution.optimizedPlan.stats)
      catch { case _: Exception => None }
    val estRows = stats.flatMap(_.rowCount)
      .orElse(stats.map(s => BigInt(s.sizeInBytes.toString) * 10 / 8))
    estRows.exists(_ * perRow <= maxRows) || exactRows * perRow <= maxRows
  }
}
