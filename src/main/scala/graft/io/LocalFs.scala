package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset}

/** The local file system every store write goes through: Hadoop's
  * checksummed `LocalFileSystem` (the same `.crc` files, the same layout),
  * over a raw layer that sets permissions in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks one `chmod` process for every file, `.crc` file and directory a
  * write creates: a day rewrite of a `partitionby` table writes 32 bucket
  * dirs per touched day, each with a parquet and a `.crc` file, besides
  * the committer's temporary dirs (fork counts and timings in
  * BENCH_LOCAL.md). [[LocalFs.Raw]] sets the same mode bits through
  * `java.nio`, with no process.
  *
  * Writes opt in per write, with [[LocalFs.StoreWrite.storeWrite]]: the
  * options travel in the write job's Hadoop conf to every executor, need
  * no session conf (an embedding application builds its own session), and
  * cannot be shadowed by the JVM's cached `file:` instance.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` with `setPermission` through `java.nio`. A
    * platform whose file system has no POSIX attributes (Windows), and the
    * sticky bit, which `java.nio` cannot set, keep Hadoop's own path.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!Posix || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        posixPerms(permission.toShort))
  }

  private val Posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine rwx bits of `mode`: `PosixFilePermission.values` runs from
    * OWNER_READ (bit 8) down to OTHERS_EXECUTE (bit 0).
    */
  private def posixPerms(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(p)
    }
    s
  }

  /** The write options that route a DataFrame write's `file:` paths
    * through [[LocalFs]]. The cache is off for them because the JVM-wide
    * `FileSystem` cache keys on scheme and user, not on the conf: a cached
    * stock instance would otherwise answer.
    */
  private val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  implicit final class StoreWrite[T](private val ds: Dataset[T]) extends AnyVal {
    /** `ds.write` through [[LocalFs]]: the one way a store, journal or
      * index is written (LocalFsSpec scans for any other).
      */
    def storeWrite: DataFrameWriter[T] = ds.write.options(WriteOptions)
  }
}
