package graft.lake

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat => POF, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory,
  PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils,
  ParquetWriteSupport}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.parquet.InferVariantShreddingSchema
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType, VariantType}
import org.apache.spark.util.SerializableConfiguration

/** The files one write task finished, as manifest entries. */
private[lake] final case class LakeFilesWritten(files: Seq[DataFileEntry])
    extends WriterCommitMessage

/** What a task needs to turn a footer into a manifest entry: the stat
  * schema, the partition spec and the field ids the stats key on (see
  * [[StatsHarvester.entry]]). */
private[lake] final case class EntryStats(schema: StructType,
    spec: Seq[PartitionField], fieldIds: Map[String, Int])

/** THE lake parquet writer — data files, equality and positional
  * deletes, batch and streaming alike (the reference collects file
  * metrics inside the writer: MetricsConfig.forTable,
  * IntegrationTest.java:84; Iceberg's Spark tasks return finished
  * DataFiles in their commit messages).
  *
  *  - Each task writes its files straight to their final names under
  *    the write's directory: no output committer, no `_temporary`, no
  *    rename, no `_SUCCESS`.
  *  - Each task builds every file's [[DataFileEntry]] from the footer
  *    its writer already holds and returns them in its commit message;
  *    the driver commits exactly those entries and opens no file.
  *  - A failed or denied attempt deletes its own files. A crashed
  *    attempt, and the committed tasks of a write whose job fails,
  *    leave orphans that `removeOrphanFiles` reclaims.
  *
  * The Parquet conf is the one Spark's batch file write builds
  * (`ParquetUtils.prepareWrite` over the derived session's SQLConf and
  * the write options), so the encoding, codec and bloom filters match a
  * `df.write.parquet` of the same rows. */
private[lake] object LakeWriter {

  /** Confs every lake write pins on its derived session: micros
    * timestamps (INT96 writes no footer stats to prune on) and parquet
    * field ids (renames resolve old files by id). Pinned on
    * SessionBridge's derived session, never on the caller's: a
    * save/restore on a shared session could interleave across
    * concurrent writers and leak session-wide. */
  val Overlay: Map[String, String] = Map(
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.parquet.fieldId.write.enabled" -> "true")

  /** Write `df`'s rows, shaped as `schema` (same layout; field ids and
    * nullability may differ), into new files under `dir` as ONE Spark
    * SQL execution through the DSv2 batch-write node on the derived
    * session, and return the committed files' entries in partition
    * order. `options` are data-source write options: parquet keys such
    * as `parquet.bloom.filter.enabled#col`, and `maxRecordsPerFile`. */
  def write(df: DataFrame, dir: String, schema: StructType,
      options: Map[String, String], stats: EntryStats): Seq[DataFileEntry] = {
    val write = new LakeBatchWrite(factory(df.sparkSession, dir, schema, options, stats))
    SessionBridge.writeBatch(df, Overlay, write)
    write.committed
  }

  /** The serializable task-side factory for a write into `dir`. */
  def factory(spark: SparkSession, dir: String, schema: StructType,
      options: Map[String, String], stats: EntryStats): LakeWriterFactory = {
    val session = SessionBridge.sessionWithConfs(spark, Overlay)
    val sqlConf = session.sessionState.conf
    val job = Job.getInstance(session.sessionState.newHadoopConfWithOptions(options))
    val parquetOptions = new ParquetOptions(options, sqlConf)
    ParquetUtils.prepareWrite(sqlConf, job, schema, parquetOptions)
    val conf = job.getConfiguration
    val out = new HPath(dir)
    val maxRecords = options.get("maxRecordsPerFile").map(_.toLong)
      .getOrElse(sqlConf.maxRecordsPerFile)
    val shred = parquetOptions.inferShreddingForVariant && hasVariant(schema)
    new LakeWriterFactory(out.getFileSystem(conf).makeQualified(out).toString,
      new SerializableConfiguration(conf), columnOptions(conf), maxRecords,
      Option.when(shred)(schema), stats)
  }

  /** Does `t` carry a VARIANT anywhere? Such files shred their variants
    * as Spark's own parquet write does. */
  private def hasVariant(t: DataType): Boolean = t match {
    case VariantType => true
    case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
    case a: ArrayType => hasVariant(a.elementType)
    case m: MapType => hasVariant(m.keyType) || hasVariant(m.valueType)
    case _ => false
  }

  /** Rows a shredding file buffers at most before it infers its
    * shredding schema (Spark's ParquetOutputWriterWithVariantShredding:
    * 4,096 rows or 64 MiB). */
  private[lake] val ShredBufferRows = 4096
  private[lake] val ShredBufferBytes = 64L << 20

  /** The entries of the files named in task commit messages (a failed
    * task's message is null). */
  def entriesOf(messages: Array[WriterCommitMessage]): Seq[DataFileEntry] =
    messages.toSeq.flatMap {
      case LakeFilesWritten(files) => files
      case _ => Nil
    }

  /** Per-column parquet keys (`<key>#<column>`), read once on the
    * driver — `ParquetOutputFormat` scans the whole conf for them on
    * every file it opens. */
  private def columnOptions(conf: Configuration): Seq[(String, String, String)] =
    conf.iterator.asScala.flatMap { e =>
      val k = e.getKey
      val i = k.indexOf('#')
      if (i <= 0) None else Some((k.substring(0, i), k.substring(i + 1), e.getValue))
    }.toSeq

  /** A parquet writer set up as `ParquetOutputFormat.getRecordWriter`
    * sets up Spark's: the same conf keys, global and per column. */
  private[lake] def open(file: OutputFile, conf: Configuration,
      perColumn: Seq[(String, String, String)]): ParquetWriter[InternalRow] = {
    val b = new RowWriterBuilder(file).withConf(conf)
      .withCompressionCodec(POF.getCompression(conf))
      .withRowGroupSize(POF.getLongBlockSize(conf))
      .withPageSize(POF.getPageSize(conf))
      .withDictionaryPageSize(POF.getDictionaryPageSize(conf))
      .withDictionaryEncoding(POF.getEnableDictionary(conf))
      .withWriterVersion(POF.getWriterVersion(conf))
      .withMinRowCountForPageSizeCheck(POF.getMinRowCountForPageSizeCheck(conf))
      .withMaxRowCountForPageSizeCheck(POF.getMaxRowCountForPageSizeCheck(conf))
      .withMaxBloomFilterBytes(POF.getBloomFilterMaxBytes(conf))
      .withBloomFilterEnabled(POF.getBloomFilterEnabled(conf))
      .withAdaptiveBloomFilterEnabled(POF.getAdaptiveBloomFilterEnabled(conf))
      .withPageWriteChecksumEnabled(POF.getPageWriteChecksumEnabled(conf))
      .withStatisticsEnabled(POF.getStatisticsEnabled(conf))
      .withValidation(POF.getValidation(conf))
    // keys whose ParquetOutputFormat getters are private: set only when
    // present (their defaults are the builder's)
    def int(key: String)(set: Int => Unit): Unit =
      Option(conf.get(key)).foreach(v => set(v.trim.toInt))
    int(POF.COLUMN_INDEX_TRUNCATE_LENGTH)(b.withColumnIndexTruncateLength(_))
    int(POF.STATISTICS_TRUNCATE_LENGTH)(b.withStatisticsTruncateLength(_))
    int(POF.BLOCK_ROW_COUNT_LIMIT)(b.withRowGroupRowCountLimit(_))
    int(POF.PAGE_ROW_COUNT_LIMIT)(b.withPageRowCountLimit(_))
    int(POF.MAX_PADDING_BYTES)(b.withMaxPaddingSize(_))
    perColumn.foreach {
      case (POF.ENABLE_DICTIONARY, c, v) => b.withDictionaryEncoding(c, v.toBoolean)
      case (POF.BLOOM_FILTER_ENABLED, c, v) => b.withBloomFilterEnabled(c, v.toBoolean)
      case (POF.BLOOM_FILTER_EXPECTED_NDV, c, v) => b.withBloomFilterNDV(c, v.toLong)
      case (POF.BLOOM_FILTER_FPP, c, v) => b.withBloomFilterFPP(c, v.toDouble)
      case (POF.BLOOM_FILTER_CANDIDATES_NUMBER, c, v) =>
        b.withBloomFilterCandidateNumber(c, v.toInt)
      case (POF.STATISTICS_ENABLED, c, v) => b.withStatisticsEnabled(c, v.toBoolean)
      case _ => ()
    }
    b.build()
  }

  /** ParquetWriter builder wired to Spark's WriteSupport, which reads
    * the row schema and its SQLConf keys from the conf. */
  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** An output file that remembers its stream, so the writer learns the
    * finished file's length without asking the file system. */
  private[lake] final class SizedOutputFile(inner: OutputFile) extends OutputFile {
    private var out: PositionOutputStream = _
    def length: Long = out.getPos
    override def create(blockSize: Long): PositionOutputStream = {
      out = inner.create(blockSize); out
    }
    override def createOrOverwrite(blockSize: Long): PositionOutputStream = {
      out = inner.createOrOverwrite(blockSize); out
    }
    override def supportsBlockSize(): Boolean = inner.supportsBlockSize()
    override def defaultBlockSize(): Long = inner.defaultBlockSize()
    override def getPath: String = inner.getPath
  }
}

/** Driver side of one batch write: the commit keeps exactly the
  * entries the committed tasks returned. */
private[lake] final class LakeBatchWrite(factory: LakeWriterFactory) extends BatchWrite {
  @volatile private var entries: Option[Seq[DataFileEntry]] = None

  def committed: Seq[DataFileEntry] =
    entries.getOrElse(throw new IllegalStateException("lake write did not commit"))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def toString: String = s"LakeBatchWrite(${factory.dir})"
  override def useCommitCoordinator(): Boolean = true
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    entries = Some(LakeWriter.entriesOf(messages))
  // the committed tasks' files stay: unreferenced, the orphan sweep
  // reclaims them
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** Serializable executor-side factory: the qualified target directory,
  * the prepared Parquet conf, its per-column keys, the file row cap
  * (0 = none), the row schema when files shred variants, and how to
  * build each file's entry. */
private[lake] final class LakeWriterFactory(val dir: String,
    conf: SerializableConfiguration, perColumn: Seq[(String, String, String)],
    val rowCap: Long, shred: Option[StructType], stats: EntryStats)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LakeParquetDataWriter(partitionId, "", this)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LakeParquetDataWriter(partitionId, s"$epochId-", this)

  private[lake] def hadoopConf: Configuration = conf.value

  /** A new file in the directory: unique per attempt, so a retried or
    * speculative attempt never collides with another's file. */
  private[lake] def newFile(partitionId: Int, prefix: String, seq: Int): HPath =
    new HPath(f"$dir/part-$prefix$partitionId%05d-${UUID.randomUUID}-c$seq%03d" +
      s"${POF.getCompression(conf.value).getExtension}.parquet")

  /** A writer for `file`; a shredding file takes the shredding schema
    * inferred from its first rows. */
  private[lake] def openWriter(file: OutputFile,
      firstRows: Seq[InternalRow]): ParquetWriter[InternalRow] = {
    shred.foreach(s => ParquetWriteSupport.setShreddingSchema(
      new InferVariantShreddingSchema(s).inferSchema(firstRows), conf.value))
    LakeWriter.open(file, conf.value, perColumn)
  }

  private[lake] def shreds: Boolean = shred.isDefined

  @transient private lazy val toUnsafe = UnsafeProjection.create(shred.get)

  /** A copy of `row` that outlives the task's row buffer. */
  private[lake] def copyOf(row: InternalRow): UnsafeRow = (row match {
    case u: UnsafeRow => u
    case other => toUnsafe(other)
  }).copy()

  private[lake] def entry(path: HPath, length: Long,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): DataFileEntry =
    StatsHarvester.entry(path.toString, length, footer, stats.schema, stats.spec,
      stats.fieldIds)
}

/** Streams one task's rows into parquet files, opening the first on
  * the first row and rolling to a new one at the row cap, and commits
  * their entries. A file that shreds variants buffers its first rows
  * until it can infer its shredding schema from them. */
private[lake] final class LakeParquetDataWriter(partitionId: Int, prefix: String,
    factory: LakeWriterFactory) extends DataWriter[InternalRow] {

  private var writer: ParquetWriter[InternalRow] = _
  private var file: LakeWriter.SizedOutputFile = _
  private var path: HPath = _ // the current file; null between files
  private var rowsInFile = 0L
  private val buffered = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
  private var bufferedBytes = 0L
  private val created = scala.collection.mutable.ArrayBuffer.empty[HPath]
  private val done = scala.collection.mutable.ArrayBuffer.empty[DataFileEntry]

  override def write(record: InternalRow): Unit = {
    if (path == null || (factory.rowCap > 0 && rowsInFile >= factory.rowCap)) roll()
    if (writer != null) writer.write(record)
    else {
      val row = factory.copyOf(record)
      buffered += row
      bufferedBytes += row.getSizeInBytes
      if (buffered.size >= LakeWriter.ShredBufferRows ||
        bufferedBytes >= LakeWriter.ShredBufferBytes) open()
    }
    rowsInFile += 1
  }

  private def roll(): Unit = {
    finish()
    path = factory.newFile(partitionId, prefix, created.size)
    created += path
    rowsInFile = 0L
    if (!factory.shreds) open()
  }

  private def open(): Unit = {
    file = new LakeWriter.SizedOutputFile(
      HadoopOutputFile.fromPath(path, factory.hadoopConf))
    writer = factory.openWriter(file, buffered.toSeq)
    buffered.foreach(writer.write)
    buffered.clear()
    bufferedBytes = 0L
  }

  private def finish(): Unit = if (path != null) {
    if (writer == null) open()
    writer.close()
    done += factory.entry(path, file.length, writer.getFooter)
    writer = null
    path = null
  }

  override def commit(): WriterCommitMessage = {
    finish()
    LakeFilesWritten(done.toSeq)
  }

  override def abort(): Unit = {
    try if (writer != null) writer.close() catch { case _: Throwable => () }
    writer = null
    buffered.clear()
    created.foreach { p =>
      try p.getFileSystem(factory.hadoopConf).delete(p, false)
      catch { case _: Throwable => () }
    }
  }

  override def close(): Unit = ()
}
