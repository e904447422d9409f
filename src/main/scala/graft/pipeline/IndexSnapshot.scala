package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Pinned snapshots of the parquet dedup indexes, listed and opened on the
  * driver without a Spark job.
  *
  * `spark.read.parquet` over an index launches a parallel `Listing leaf
  * files` job whenever it has more than 32 paths to walk
  * (`spark.sql.sources.parallelPartitionDiscovery.threshold`) and a
  * one-task schema-inference job, and every write under the index path
  * relists the cached plans that scan it. An incremental admit reads a few
  * hundred prefix files, so that overhead grew with the index, not with the
  * batch. Here the listing is one recursive Hadoop walk on the driver, the
  * schema comes from one footer, and the file index relists from the
  * pinned statuses only, so a refresh after an append still sees the
  * snapshot it was built on.
  */
private[graft] object IndexSnapshot {

  /** Data files under `root`, sorted by path. Spark's hidden-name rule
    * applies to every name below the root (names starting with `.`, or
    * with `_` and holding no `=`, are not data), so `_index.txt`,
    * `_SUCCESS`, checksum files and a writer's `_temporary` dir are
    * skipped. An absent root lists as empty.
    *
    * Statuses are built as Spark's own listing builds them: the
    * `LocatedFileStatus(FileStatus, …)` constructor reads each file's
    * permissions, which on the local file system forks a process per file.
    */
  def list(spark: SparkSession, root: String): IndexedSeq[FileStatus] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq(new LocatedFileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
          s.getModificationTime, 0L, null, null, null, null, s.getPath,
          fs.getFileBlockLocations(s, 0L, s.getLen)))
      }
    try walk(rootPath).sortBy(_.getPath.toString).toIndexedSeq
    catch { case _: java.io.FileNotFoundException => IndexedSeq.empty }
  }

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** A DataFrame over exactly `files` (non-empty, from [[list]]), with the
    * schema of the first file's footer. Each file is its own root path, as
    * in `spark.read.parquet(file1, file2, …)`: the relation carries no
    * partition columns, and cached plans over two different snapshots of
    * one index never compare equal.
    */
  def read(spark: SparkSession, files: Seq[FileStatus]): DataFrame = {
    require(files.nonEmpty, "an empty snapshot has no schema to read")
    val pinned = files.map(f => f.getPath -> Array(f)).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = pinned.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty,
      None, cache)
    val schema = nullable(footerSchema(spark, files.head)).asInstanceOf[StructType]
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** `t` with every field and element nullable, as Spark's own parquet
    * reads declare their data schema.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** The Spark schema Spark wrote into the file's footer, or the
    * converted parquet schema for a file written by another engine.
    */
  private def footerSchema(spark: SparkSession, f: FileStatus): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
    try {
      val meta = reader.getFooter.getFileMetaData
      Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
    } finally reader.close()
  }
}
