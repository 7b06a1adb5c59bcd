package graft.lake

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Parquet footer → manifest entry with per-column min/max/nullCount:
  * the analog of the reference's write-side stats collection
  * (reference: MetricsConfig.forTable on the writer,
  * IntegrationTest.java:84). Every lake write builds its entries in
  * the write task, from the footer its writer just produced
  * ([[LakeWriter]]); `addFiles` reads the footers of the foreign files
  * it imports. Parquet already computed the stats — nothing rescans
  * data.
  */
object StatsHarvester {

  /** Entries for EXACTLY these files, in the given order, opening each
    * footer once. Empty files yield no entry. */
  private[lake] def harvestFiles(spark: SparkSession, files: Seq[org.apache.hadoop.fs.FileStatus],
      schema: StructType, spec: Seq[PartitionField],
      fieldIds: Map[String, Int]): Seq[DataFileEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    // Footer opens are independent per-file IO (~10-15 ms each on local
    // disk, more on object stores) and this runs on the DRIVER — read
    // them concurrently. Parallel collections preserve element order.
    def one(st: org.apache.hadoop.fs.FileStatus): DataFileEntry = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try entry(st.getPath.toString, st.getLen, reader.getFooter, schema, spec, fieldIds)
      finally reader.close()
    }
    val mapped =
      if (files.size <= 1) files.map(one)
      else {
        import scala.collection.parallel.CollectionConverters._
        files.par.map(one).seq
      }
    mapped.filter(_.recordCount > 0)
  }

  /** One file's manifest entry from its footer. Stat maps come back
    * keyed by FIELD ID (`fieldIds(name).toString`) and partition values
    * by spec position — the rename-proof manifest encoding. Only
    * top-level primitive columns of `schema` get stats. */
  private[lake] def entry(path: String, sizeBytes: Long,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata, schema: StructType,
      spec: Seq[PartitionField], fieldIds: Map[String, Int]): DataFileEntry = {
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    var mins = Map.empty[String, String]
    var maxs = Map.empty[String, String]
    var nulls = Map.empty[String, Long]
    schema.fields.foreach { field =>
      val key = fieldIds.get(field.name).map(_.toString).getOrElse(field.name)
      val chunks = blocks.flatMap(_.getColumns.asScala
        .find(_.getPath.toDotString == field.name))
      val unitScale = chunks.headOption.map(tsNanosPerUnit).getOrElse(1L)
      val stats = chunks.map(_.getStatistics).filter(s =>
        s != null && !s.isEmpty && s.hasNonNullValue)
      if (stats.nonEmpty && stats.size == chunks.size) {
        val ms = stats.flatMap(s => statString(field.dataType, s.genericGetMin(), unitScale))
        val xs = stats.flatMap(s => statString(field.dataType, s.genericGetMax(), unitScale))
        if (ms.size == stats.size && xs.size == stats.size) {
          mins += key -> ms.reduce((a, b) =>
            if (Stats.cmp(field.dataType, a, b) <= 0) a else b)
          maxs += key -> xs.reduce((a, b) =>
            if (Stats.cmp(field.dataType, a, b) >= 0) a else b)
        }
      }
      val nullCounts = chunks.map(_.getStatistics)
        .filter(s => s != null && !s.isEmpty)
      if (nullCounts.nonEmpty && nullCounts.size == chunks.size)
        nulls += key -> nullCounts.map(_.getNumNulls).sum
    }
    DataFileEntry(path, rows, sizeBytes, mins, maxs, nulls,
      partitionValues(spec, schema, fieldIds, mins, maxs))
  }

  /** Nanos per stored unit for timestamp columns (canonical stat form is
    * MICROS; files could carry MILLIS/MICROS/NANOS annotations). */
  private def tsNanosPerUnit(chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Long =
    chunk.getPrimitiveType.getLogicalTypeAnnotation match {
      case ts: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ts.getUnit match {
          case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
          case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
          case _ => 1L // NANOS
        }
      case _ => 1L
    }

  private def isTimestamp(t: DataType): Boolean =
    t == TimestampType || t.isInstanceOf[TimestampNTZType]

  /** Parquet stat value → canonical stat string for a Spark type (see
    * [[Stats]]). Returns None for types we don't track (arrays, maps,
    * decimals-as-binary). */
  private def statString(t: DataType, v: Any, tsScale: Long): Option[String] = {
    val comparable = t match {
      // decimals are stored UNSCALED (int or binary) in parquet stats;
      // comparing them against scaled predicate values would mis-prune,
      // so decimals get no stats (conservative: never pruned)
      case _: DecimalType => false
      case _: NumericType => true
      case DateType => true // INT32 days
      case other => isTimestamp(other) // INT64, unit per annotation
    }
    v match {
      case null => None
      case b: Binary if t == StringType => Some(b.toStringUsingUTF8)
      case n: java.lang.Number if isTimestamp(t) =>
        Some((n.longValue() * tsScale / 1000L).toString) // canonical micros
      case n: java.lang.Number if comparable => Some(n.toString)
      case b: java.lang.Boolean if t == BooleanType => Some(b.toString)
      case _ => None
    }
  }

  /** Derive identity-style partition values where a file is fully inside
    * one partition (transform(min) == transform(max)); files spanning
    * partitions simply get no value and are never partition-pruned.
    * Keys are spec positions (`"p0"`, …): stable across source-column
    * renames, which never touch a written manifest. */
  private def partitionValues(spec: Seq[PartitionField], schema: StructType,
      fieldIds: Map[String, Int],
      mins: Map[String, String], maxs: Map[String, String]): Map[String, String] =
    spec.zipWithIndex.flatMap { case (pf, i) =>
      val statKey = fieldIds.get(pf.source).map(_.toString).getOrElse(pf.source)
      val t = schema.fields.find(_.name == pf.source).map(_.dataType)
      for {
        dt <- t
        mn <- mins.get(statKey).flatMap(applyTransform(pf.transform, dt, _))
        mx <- maxs.get(statKey).flatMap(applyTransform(pf.transform, dt, _))
        if mn == mx
      } yield s"p$i" -> mn
    }.toMap

  /** Transform a canonical stat string: identity, year/month/day/hour
    * (timestamps/dates), truncate[N] (strings). Bucket transforms are
    * hash-based and cannot be derived from bounds → None. */
  private[lake] def applyTransform(transform: String, t: DataType, stat: String): Option[String] = {
    lazy val utc = java.time.ZoneOffset.UTC
    def instant: java.time.ZonedDateTime = t match {
      case DateType => java.time.LocalDate.ofEpochDay(stat.toLong).atStartOfDay(utc)
      case other if isTimestamp(other) =>
        java.time.Instant.EPOCH.plus(stat.toLong, java.time.temporal.ChronoUnit.MICROS).atZone(utc)
      case _ => throw new IllegalArgumentException(s"$transform on $t")
    }
    transform match {
      // DATE identity: canonical stat is epoch-day, but PartitionEq's
      // row filter compares cast-to-string ISO dates — encode the
      // partition value as the ISO date so the two sides agree
      case "identity" if t == DateType =>
        Some(java.time.LocalDate.ofEpochDay(stat.toLong).toString)
      case "identity" => Some(stat)
      case "year" => Some(instant.getYear.toString)
      case "month" => Some(f"${instant.getYear}%04d-${instant.getMonthValue}%02d")
      case "day" => Some(instant.toLocalDate.toString)
      case "hour" => Some(f"${instant.toLocalDate}T${instant.getHour}%02d")
      case tr if tr.startsWith("truncate[") =>
        val w = tr.stripPrefix("truncate[").stripSuffix("]").toInt
        Some(stat.take(w))
      case _ => None
    }
  }
}
