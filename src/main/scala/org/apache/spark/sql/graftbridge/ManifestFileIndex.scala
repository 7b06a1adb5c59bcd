package org.apache.spark.sql.graftbridge

import graft.lake.DataFileEntry
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.collection.mutable

/** Spark's file index over a manifest-listed file set: the manifest
  * is the table's file list (Iceberg's planFiles contract), so every
  * entry serves as a [[FileStatus]] built from what the manifest already
  * recorded — the qualified path and the exact length the writer
  * recorded (`FileStatus.getLen` for imported files). No existence check, no glob
  * expansion, no listing: Spark's own index would re-check every path
  * on the driver and, above its 32-path threshold, list them all again
  * in a parallel job just to learn sizes the entries carry. The parquet
  * footer read seeks from this length, so it must be exact. The manifest
  * records no modification time or block locations, so the statuses
  * carry none.
  *
  * A missing file is not checked here; the read fails on it (the task
  * names the file), never returns fewer rows. The partition spec is
  * empty (lake partitioning is manifest metadata, not directory
  * layout), `refresh` has nothing to re-read, and equality is on the
  * file set, so two scans of the same files still reuse one exchange. */
final class ManifestFileIndex(session: SparkSession, entries: Seq[DataFileEntry])
    extends PartitioningAwareFileIndex(session, Map.empty, None) {

  private val statuses: Seq[FileStatus] = entries.map { e =>
    val p = new Path(e.path)
    new FileStatus(e.sizeBytes, false, 0, 0L, 0L,
      p.getFileSystem(hadoopConf).makeQualified(p))
  }

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override def allFiles(): Seq[FileStatus] = statuses
  override protected def leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] = Map.empty
  override def refresh(): Unit = ()

  private lazy val fileSet: Set[Path] = rootPaths.toSet
  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => fileSet == m.fileSet
    case _ => false
  }
  override def hashCode(): Int = fileSet.hashCode
}

object ManifestFileIndex {
  /** The DSv2 parquet scan builder over `entries` — what a
    * `ParquetTable` over their paths builds, minus the table's listing
    * index: the data schema is `schema` made nullable, as a file
    * source's always is, and there are no partition columns. */
  def scanBuilder(session: SparkSession, entries: Seq[DataFileEntry],
      schema: StructType, options: CaseInsensitiveStringMap): ParquetScanBuilder = {
    val dataSchema = schema.asNullable
    ParquetScanBuilder(session, new ManifestFileIndex(session, entries),
      dataSchema, dataSchema, options)
  }

  /** A DataFrame reading `entries` as parquet under `schema` — what
    * `session.read.schema(schema).parquet(paths: _*)` builds (a file
    * relation, nullable data schema, no partition columns), over a
    * [[ManifestFileIndex]] instead of a listed one. The relation keeps
    * `session`, so a read built on a session carrying reader confs
    * (field-ID matching) runs with them. */
  def read(session: SparkSession, entries: Seq[DataFileEntry],
      schema: StructType): DataFrame =
    PlanBridge.ofRows(session, LogicalRelation(HadoopFsRelation(
      new ManifestFileIndex(session, entries), StructType(Nil), schema.asNullable,
      None, new ParquetFileFormat, Map.empty)(session)))
}
