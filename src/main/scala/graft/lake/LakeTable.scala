package graft.lake

import java.util.UUID
import graft.lake.LakeTable.{BatchAlreadyCommitted, CommitRequest, RowLevelWrite}
import graft.lake.LakeTable.CommitRequest._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.ManifestFileIndex
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** One WHEN clause of a conditional MERGE ([[LakeTable.mergeIntoConditional]]).
  *
  * `condition` and every assignment value are Columns over the merge's
  * PREFIXED join namespace: the target row's (old) values are
  * `__t_<column>` and the source row's are `__s_<column>` — unique
  * names, so a target/source column name collision can never
  * mis-resolve. A None condition always applies (SQL allows it only on
  * the last clause of its family; callers enforce ordering).
  * `isDelete` drops the row (assignments must be empty); otherwise the
  * assignments give the NEW value per target column — unassigned
  * columns keep the old value in UPDATE clauses and become NULL in
  * INSERT clauses. Every value is evaluated against the OLD row
  * (standard SQL UPDATE semantics: `SET a = b, b = a` swaps). */
final case class MergeClauseSpec(
    condition: Option[Column],
    isDelete: Boolean,
    assignments: Seq[(String, Column)]) {
  require(!isDelete || assignments.isEmpty,
    "a DELETE merge clause carries no assignments")
}

/** One row-level statement, as [[LakeTable]]'s row-level planner runs
  * it. `Delete` and `Update` act on the rows their `flag` marks: the
  * flag adds a boolean `__match` column to the read of the files
  * `prune` may match (NULL counts as false). `Replace` deletes `pred`'s
  * rows and appends `rows` in the same commit. `Merge` is the keyed
  * canonical upsert (`clauses` None) or the full-grammar conditional
  * MERGE. */
private[graft] sealed trait RowLevelOp {
  /** The op of the `write.<op>.mode` property that picks the strategy. */
  def mode: String
  /** The snapshot operation the commit records. */
  def verb: String = "overwrite"
}

private[graft] object RowLevelOp {
  final case class Delete(prune: LakePredicate, flag: DataFrame => DataFrame)
      extends RowLevelOp {
    def mode: String = "delete"
    override def verb: String = "delete"
  }
  final case class Update(prune: LakePredicate, flag: DataFrame => DataFrame,
      set: Map[String, Column]) extends RowLevelOp {
    def mode: String = "update"
  }
  final case class Replace(pred: LakePredicate, rows: DataFrame) extends RowLevelOp {
    def mode: String = "delete"
  }
  final case class Merge(source: DataFrame, keys: Seq[String],
      clauses: Option[MergeClauses]) extends RowLevelOp {
    def mode: String = "merge"
  }
  final case class MergeClauses(matched: Seq[MergeClauseSpec],
      notMatched: Seq[MergeClauseSpec], notMatchedBySource: Seq[MergeClauseSpec],
      nmbsPrune: LakePredicate)

  /** A table column named `__match` (in any case, as Spark resolves)
    * refuses: the row mark would silently replace it, and a rewrite
    * would store the flag in it. */
  def requireNoMarkColumn(df: DataFrame): Unit =
    require(!df.columns.exists(_.equalsIgnoreCase("__match")),
      "a column named __match collides with the row mark of DELETE / UPDATE")

  /** The row mark of a predicate: exactly the rows it holds TRUE for. */
  def where(pred: LakePredicate): DataFrame => DataFrame = { df =>
    requireNoMarkColumn(df)
    df.withColumn("__match", pred.toColumn)
  }
  def delete(pred: LakePredicate): Delete = Delete(pred, where(pred))
  def update(pred: LakePredicate, set: Map[String, Column]): Update =
    Update(pred, where(pred), set)
}

/** Table handle: snapshot log + append/scan/time-travel/compact/delete.
  * The Spark-native analog of the reference's Iceberg `Table` surface
  * (reference: newAppend/commit/refresh IntegrationTest.java:92-99,
  * newScan().planFiles() :121, IcebergGenerics full read
  * LocalIcebergCatalogTest.java:146-153).
  *
  * All data movement is Spark DataFrame I/O; this class only manages
  * manifests and fires metrics — same layering as the reference, where
  * Iceberg-lib did the I/O and the project code did catalog + metrics.
  */
final class LakeTable private[lake] (
    val catalog: LakeCatalog,
    val namespace: String,
    val shortName: String,
    @volatile private var meta: TableMetadata,
    @volatile private var version: Int) {

  def name: String = meta.name
  def location: String = meta.location
  def schema: StructType = meta.schema
  def spec: Seq[PartitionField] = meta.spec
  def metadata: TableMetadata = meta
  def currentSnapshotId: Long = meta.currentSnapshotId
  def snapshots: Seq[Snapshot] = meta.snapshots

  /** A9 tail: re-read current metadata (reference: table.refresh()). */
  def refresh(): LakeTable = {
    val t = catalog.loadTable(namespace, shortName)
    meta = t.metadata
    version = t.version0
    this
  }
  private[lake] def version0: Int = version

  /** Write df as parquet data files under this table through
    * [[LakeWriter]], whose tasks turn each file's footer stats into its
    * manifest entry (A7: the MetricsConfig analog). When a
    * partition spec exists the data is range-clustered on the transform
    * values (then raw sources), so files align with partition boundaries
    * and min/max pruning does the work of partition pruning at scale.
    * `numFiles` > 0 pins the output file count (an explicit repartition
    * count also stops AQE from coalescing everything into one file at
    * small scale). */
  def writeDataFiles(df0: DataFrame, numFiles: Int = 0,
      carryRowIds: Boolean = false): Seq[DataFileEntry] = {
    // lineage carry-through: the frame arrives with a trailing
    // _row_id column (readTarget) that is PERSISTED into the
    // written files under the reserved field id — excluded from the
    // user-schema contract check and from stats harvesting
    require(!carryRowIds || df0.columns.contains(LakeTable.RowIdCol),
      s"carryRowIds write without a ${LakeTable.RowIdCol} column")
    val df =
      if (!carryRowIds) df0
      else df0.select((schema.fieldNames :+ LakeTable.RowIdCol).map(df0.col): _*)
    // nullability-erased comparison (simpleString renders names + types
    // but not nullable flags): a source whose (possibly nested) fields
    // are merely non-nullable where the table allows null is the same
    // data contract — exact equality made every Dataset-built struct
    // source fail against DDL-created nested schemas
    require((if (carryRowIds) df.schema.fields.dropRight(1) else df.schema.fields)
      .map(f => (f.name, f.dataType.simpleString)).sameElements(
        schema.fields.map(f => (f.name, f.dataType.simpleString))),
      s"schema mismatch: ${df.schema.simpleString} vs ${schema.simpleString}")
    val spark = df.sparkSession
    val dir = s"$location/data/${UUID.randomUUID}"
    // clustering-on-write: partition-transform values first (files align
    // with partition boundaries), then the table's write order — so
    // within a partition, files carry DISJOINT ranges of the sort
    // columns and CoW ops on them rewrite only the overlapping files —
    // then raw sources as the tiebreak. An unpartitioned table with a
    // write order range-clusters on the order alone (Iceberg's
    // write.sort-order applied at write time).
    // z-order: ONE synthetic cluster key (the Morton code of the order
    // columns) instead of the lexicographic column list — file AND
    // row-group stats go tight in every ordered dimension, so
    // predicates on any of them prune (graft.functions.ZOrder).
    val sortCols =
      if (meta.sortOrderKind == "zorder" && meta.sortOrder.size >= 2)
        Seq(zorderKey(df))
      else meta.sortOrder.map(df.col)
    val exprs = spec.map(_.toColumn) ++ sortCols ++ spec.map(p => df.col(p.source))
    val clusteredRaw = (exprs.nonEmpty, numFiles > 0) match {
      case (false, false) => df
      case (false, true) => df.repartition(numFiles)
      case (true, false) => df.repartitionByRange(exprs: _*)
      case (true, true) => df.repartitionByRange(numFiles, exprs: _*)
    }
    // rows sorted within each file too: parquet row-group stats get the
    // same disjointness, so row-group skipping compounds file skipping
    val clustered =
      if (sortCols.nonEmpty) clusteredRaw.sortWithinPartitions(sortCols: _*)
      else clusteredRaw
    // Every physical column gets its stable parquet field ID (the table
    // schema stays ID-free for API identity; IDs live in the manifest),
    // so later renames resolve old files by ID, not name. The writer
    // takes the ID schema for the same rows: types and nullability from
    // the data, the IDs from the table. Tables with struct columns carry
    // NESTED field IDs too, attached recursively (nullability from the
    // data: the schema must not claim non-null for a source that is
    // merely compatible).
    val idSchema =
      if (!carryRowIds) meta.schemaWithFieldIds
      else org.apache.spark.sql.types.StructType(
        meta.schemaWithFieldIds.fields :+ LakeTable.rowIdField)
    val writeSchema =
      if (meta.fieldIds.keysIterator.exists(_.contains('.')))
        LakeTable.writeSchema(clustered.schema, idSchema)
      else org.apache.spark.sql.types.StructType(
        clustered.schema.fields.zip(idSchema.fields).map { case (d, i) =>
          d.copy(metadata = i.metadata) })
    // stamp which spec derived these partitionValues: after a spec
    // evolution, pruning resolves each file's values under ITS spec
    val entries = LakeWriter.write(clustered, dir, writeSchema, writeOptions,
      EntryStats(schema, spec, meta.fieldIds))
      .map(_.copy(specId = meta.currentSpecId))
    withBucketValues(spark, entries, dir, spec)
  }

  /** Bucket partition values cannot be derived from footer bounds (the
    * transform is hash-based), so for bucket-specced tables ONE extra
    * column-pruned pass over the JUST-WRITTEN files computes each
    * file's bucket value (recorded only when the file is single-valued
    * — partition-aligned ingestion). O(new data, one column); non-bucket
    * specs never pay it. This is what arms bucket-point-lookup file
    * pruning AND storage-partitioned joins on bucket-partitioned
    * tables. */
  private def withBucketValues(spark: SparkSession, entries: Seq[DataFileEntry],
      dir: String, spec: Seq[PartitionField]): Seq[DataFileEntry] = {
    import org.apache.spark.sql.{functions => F}
    val bucketFields = spec.zipWithIndex.filter(_._1.transform.startsWith("bucket["))
    if (bucketFields.isEmpty || entries.isEmpty) entries
    else try {
      val df = spark.read.parquet(dir)
      val aggs = bucketFields.flatMap { case (pf, i) =>
        Seq(F.min(pf.toColumn).as(s"mn$i"), F.max(pf.toColumn).as(s"mx$i"))
      }
      val perFile = df.groupBy(F.input_file_name().as("f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val name = r.getString(0).split('/').last
          name -> bucketFields.zipWithIndex.flatMap { case ((_, i), j) =>
            val mn = r.get(1 + j * 2)
            val mx = r.get(2 + j * 2)
            if (mn != null && mn == mx) Some(s"p$i" -> mn.toString) else None
          }.toMap
        }.toMap
      entries.map { e =>
        val extra = perFile.getOrElse(e.path.split('/').last, Map.empty)
        if (extra.isEmpty) e else e.copy(partitionValues = e.partitionValues ++ extra)
      }
    } catch { case scala.util.control.NonFatal(_) => entries }
  }

  /** The table's parquet write options, shared by every data-file
    * write (batch and streaming).
    *
    * Parquet BLOOM FILTERS on write (Iceberg's property names:
    * `write.parquet.bloom-filter-enabled.column.<col>` = true, plus
    * optional `write.parquet.bloom-filter-max-bytes` and per-column
    * `...bloom-filter-fpp.column.<col>`): point lookups on
    * high-cardinality columns that are NOT in the sort order — ids,
    * hashes, user keys — skip whole ROW GROUPS that min/max stats
    * cannot rule out (a uniformly-distributed key spans every range).
    * The options ride the parquet writer verbatim; the reader consults
    * the filters automatically for pushed equality/IN predicates —
    * zero read-path code. Per-file min/max pruning and clustering
    * still do the macro work; blooms cover the needle-in-row-group
    * case at ~10 bits/row. */
  private[lake] def writeOptions: Map[String, String] = {
    val enabled = "write.parquet.bloom-filter-enabled.column."
    val fpp = "write.parquet.bloom-filter-fpp.column."
    val blooms = meta.properties.collect {
      case (k, v) if k.startsWith(enabled) =>
        s"parquet.bloom.filter.enabled#${k.stripPrefix(enabled)}" -> v
      case (k, v) if k.startsWith(fpp) =>
        s"parquet.bloom.filter.fpp#${k.stripPrefix(fpp)}" -> v
      case (k, v) if k == "write.parquet.bloom-filter-max-bytes" =>
        "parquet.bloom.filter.max.bytes" -> v
    }
    // write.target-file-size-bytes (Iceberg's target file size): cap
    // rows per output file at target / avgRowBytes, with the average
    // row size from the current SNAPSHOT's totalSizeBytes/totalRecords
    // rollups — O(1) driver work and zero IO (round-11; summing
    // DataFileEntry rows parsed every live manifest document on each
    // append, exactly the O(#files) parse width distributed planning
    // exists to bound). First write (no snapshot history) has no size
    // basis and writes unrolled; opt-in property, so pinned-numFiles
    // tests and default tables are untouched.
    val rollOpt = for {
      raw <- meta.properties.get("write.target-file-size-bytes")
      target = try raw.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"write.target-file-size-bytes must be a plain byte count, got '$raw'")
      }
      if target > 0
      snap <- meta.currentSnapshot
      if snap.totalRecords > 0
      avgRow = math.max(1L, snap.totalSizeBytes / snap.totalRecords)
    } yield "maxRecordsPerFile" -> math.max(1L, target / avgRow).toString
    blooms ++ rollOpt
  }

  /** The write batch's z-order cluster key: each dimension is
    * RANGE-NORMALIZED to the batch's own encoded min/max (one tiny agg
    * job — monotone encodings make min/max of the encoded word the
    * encoded bounds) before bit-interleaving, so heterogeneous domains
    * (a 150-value key against a float's full exponent range) actually
    * interleave instead of the widest dimension degenerating the curve
    * to a linear sort. Per-batch bounds are fine: clustering is a
    * per-write property and pruning uses each file's REAL stats. */
  private def zorderKey(df: DataFrame): Column = {
    import graft.functions.{ZOrderEncode, ZOrderKey}
    import org.apache.spark.sql.functions.{max, min, when}
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val aggs = meta.sortOrder.flatMap { c =>
      val enc = column(ZOrderEncode(expression(df.col(c))))
      val nonNull = when(df.col(c).isNotNull, enc) // nulls must not drag lo
      Seq(min(nonNull), max(nonNull))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bounds = meta.sortOrder.indices.map { i =>
      if (row.isNullAt(2 * i)) (0L, 0L) // all-null dim: constant word
      else (row.getLong(2 * i) ^ java.lang.Long.MIN_VALUE,
        row.getLong(2 * i + 1) ^ java.lang.Long.MIN_VALUE)
    }
    column(ZOrderKey(meta.sortOrder.map(c => expression(df.col(c))), bounds))
  }

  /** All lake file reads go through here. The files are the manifest
    * entries themselves ([[ManifestFileIndex]]: recorded paths and
    * sizes, nothing listed or re-checked), the requested schema carries
    * the manifest's parquet field IDs, and the read happens on a cloned
    * session with ID-based matching on, so files written before a
    * column rename still resolve that column by ID (name matching would
    * silently project null). Fields whose ID is absent fall back to
    * name matching, so ad-hoc schemas keep working.
    *
    * The unconditional ID-based read is licensed by a format invariant:
    * every data file reachable through formatVersion-2 metadata was
    * written by [[writeDataFiles]] with fieldId.write.enabled, so
    * footers always carry IDs (Spark throws on ID-expecting reads over
    * ID-less footers; ignoreMissing would silently project NULL — both
    * wrong for foreign files, which this format never references). */
  private[lake] def readFiles(spark: SparkSession, files: Seq[DataFileEntry]): DataFrame =
    splitRead(spark, files, withPos = false)

  /** [[readFiles]] plus each row's physical coordinates — the parquet
    * reader's `_metadata.file_path`/`row_index` columns, the identity a
    * positional delete file tombstones. Both sides of the merge-on-read
    * anti-join come from the SAME metadata columns, so the path form
    * matches exactly. */
  private def readFilesWithPos(spark: SparkSession, files: Seq[DataFileEntry],
      withRowId: Boolean = false): DataFrame =
    splitRead(spark, files, withPos = true, withRowId = withRowId)

  /** Route each file group through its resolution mode: engine-written
    * files read by parquet field ID, [[addFiles]]-imported (foreign,
    * ID-less) files through the frozen name mapping. The two frames
    * carry identical schemas by construction, so the union is by name
    * and position alike. */
  private def splitRead(spark: SparkSession, files: Seq[DataFileEntry],
      withPos: Boolean, withRowId: Boolean = false): DataFrame = {
    val (mapped, native) = files.partition(_.nameMapped)
    val parts =
      (if (native.nonEmpty) Seq(readIdFiles(spark, native, withPos, withRowId)) else Nil) ++
        (if (mapped.nonEmpty) Seq(readMappedFiles(spark, mapped, withPos, withRowId)) else Nil)
    if (parts.isEmpty) {
      // zero files: an empty frame under the table schema (+ pos
      // columns), not an opaque empty.reduce crash for a future caller
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val s = if (!withPos) schema else StructType(schema.fields ++ Seq(
        StructField(LakeTable.PosFileCol, StringType, nullable = false),
        StructField(LakeTable.PosIdxCol, LongType, nullable = false)) ++
        (if (withRowId) Seq(StructField(LakeTable.MatRidCol, LongType,
          nullable = true)) else Nil))
      spark.createDataFrame(new java.util.ArrayList[Row](), s)
    } else parts.reduce(_.unionByName(_))
  }

  /** Engine-side read confs. Spark's PushVariantIntoScan rewrite stays
    * ENABLED on lake variant reads (round-17 — the round-16 rounds
    * disabled it here): the upstream Spark 4.1.2 wart it works around —
    * a variant column reconstructed by the rule loses its
    * alias-attached parquet field id at the next write, so CoW
    * rewrites/compactions emitted field-id-less variant groups the
    * ID-matching read resolved to NULL — is now closed on the WRITE
    * side instead: [[writeDataFiles]] pins the full ID schema over the
    * executed rows (the nested-struct device), which no optimizer
    * rewrite of the child plan can drop. Lake variant reads keep the
    * shredded-scan projection pushdown. */
  private def readConfs: Map[String, String] =
    Map("spark.sql.parquet.fieldId.read.enabled" -> "true")

  private def readIdFiles(spark: SparkSession, files: Seq[DataFileEntry],
      withPos: Boolean, withRowId: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val posCols = if (withPos) Seq(
      col("_metadata.file_path").as(LakeTable.PosFileCol),
      col("_metadata.row_index").as(LakeTable.PosIdxCol)) else Nil
    // materialized row ids: requested under the reserved field id —
    // files written before a rewrite carried ids simply lack the column
    // and read NULL (exactly the add-a-column evolution read shape)
    val reqSchema =
      if (!withRowId) meta.schemaWithFieldIds
      else org.apache.spark.sql.types.StructType(
        meta.schemaWithFieldIds.fields :+ LakeTable.rowIdField)
    val ridCols = if (withRowId)
      Seq(col(LakeTable.RowIdCol).as(LakeTable.MatRidCol)) else Nil
    ManifestFileIndex.read(
      org.apache.spark.sql.graftbridge.SessionBridge.sessionWithConfs(spark, readConfs),
      files, reqSchema)
      // strip the injected metadata so scan outputs carry the user's schema
      .select(schema.fields.map(f => col(f.name).as(f.name, f.metadata)) ++
        posCols ++ ridCols: _*)
  }

  /** Read [[addFiles]]-imported files: footers carry NO field IDs, so
    * each current column resolves by the NAME the mapping froze at
    * import time — a column renamed after import keeps resolving, and a
    * column added after import (no mapping entry) projects null instead
    * of accidentally name-matching unrelated file bytes. Requested
    * types are the CURRENT schema's, so post-import type widening rides
    * parquet's native by-name widening. */
  private def readMappedFiles(spark: SparkSession, files: Seq[DataFileEntry],
      withPos: Boolean, withRowId: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val idToImported = meta.nameMapping.map(_.swap)
    def defaultOf(f: org.apache.spark.sql.types.StructField): Option[String] =
      meta.fieldIds.get(f.name).flatMap(meta.initialDefaults.get)
    val resolution = schema.fields.map(f =>
      (f, meta.fieldIds.get(f.name).flatMap(idToImported.get)))
    val reqSchema = StructType(resolution.collect { case (f, Some(imp)) =>
      // existence-default metadata rides the mapped request too: an
      // imported file missing a defaulted column reads the default
      val md = new org.apache.spark.sql.types.MetadataBuilder()
      defaultOf(f).foreach(md.putString(org.apache.spark.sql.catalyst.util
        .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, _))
      org.apache.spark.sql.types.StructField(imp, f.dataType, nullable = true,
        metadata = md.build()) })
    val posCols = if (withPos) Seq(
      col("_metadata.file_path").as(LakeTable.PosFileCol),
      col("_metadata.row_index").as(LakeTable.PosIdxCol)) else Nil
    // imported (foreign) files predate lineage by definition: never a
    // materialized id cell
    val ridCols = if (withRowId) Seq(lit(null)
      .cast(org.apache.spark.sql.types.LongType)
      .as(LakeTable.MatRidCol)) else Nil
    ManifestFileIndex.read(
      org.apache.spark.sql.graftbridge.SessionBridge.sessionWithConfs(spark,
        readConfs + ("spark.sql.parquet.fieldId.read.enabled" -> "false")),
      files, reqSchema)
      .select(resolution.map {
        case (f, Some(imp)) => col(imp).as(f.name, f.metadata)
        // a field added (with default) after import has no mapping
        // entry: every imported file predates it, so the default IS
        // its value there; without a default it projects null
        case (f, None) => defaultOf(f)
          .map(sql => expr(sql).cast(f.dataType).as(f.name, f.metadata))
          .getOrElse(lit(null).cast(f.dataType).as(f.name, f.metadata))
      } ++ posCols ++ ridCols: _*)
  }

  /** Byte budget for broadcasting MoR tombstone sets in the read path
    * (`read.delete.broadcast-bytes` table property, default 64 MiB):
    * at or under it the anti-join broadcasts — no shuffle of the data
    * side; above it the hint is withheld and Spark plans a shuffle
    * anti-join, so a heavy-churn table whose compaction lags degrades
    * to a shuffle instead of OOMing driver/executors on a forced
    * multi-GB broadcast. The delete manifests record exact sizes, so
    * the gate costs no IO. */
  private[lake] def deleteBroadcastBudget: Long =
    meta.properties.get("read.delete.broadcast-bytes").map(v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"table property read.delete.broadcast-bytes must be a plain " +
            s"byte count, got '$v'")
      }).getOrElse(64L << 20)

  /** Broadcast `df` only when the tombstone files' recorded bytes fit
    * [[deleteBroadcastBudget]]. */
  private def gateBroadcast(df: DataFrame, entries: Seq[DataFileEntry]): DataFrame =
    if (entries.map(_.sizeBytes).sum <= deleteBroadcastBudget)
      org.apache.spark.sql.functions.broadcast(df)
    else df

  /** MoR-filtered read that KEEPS the position columns (the positional
    * delete op needs surviving rows' coordinates). Both tombstone kinds
    * subtract here as anti-joins: broadcast while the tombstone set
    * fits [[deleteBroadcastBudget]] (no shuffle of the data side),
    * shuffle above it. Positional tombstone FILES are first narrowed to
    * the scanned file set via their file_path min/max stats — a pruned
    * scan does not pay for tombstones of files it never reads
    * (Iceberg's delete-file-to-data-file indexing). */
  private[lake] def readLivePos(spark: SparkSession, files: Seq[DataFileEntry],
      snap: Option[Snapshot], withRowId: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    var df = readFilesWithPos(spark, files, withRowId = withRowId)
    val paths = files.map(_.path)
    val dvHits = LakeTable.narrowPosDeletes(snap.toSeq.flatMap(_.dvFiles), paths)
    if (dvHits.nonEmpty) df = subtractDvs(spark, df, dvHits)
    val pos = LakeTable.narrowPosDeletes(snap.toSeq.flatMap(_.deleteFiles), paths)
    if (pos.nonEmpty) {
      val tombstones = ManifestFileIndex.read(spark, pos, LakeTable.DeleteFileSchema)
      df = df.join(gateBroadcast(tombstones, pos),
        col(LakeTable.PosFileCol) === col("file_path") &&
          col(LakeTable.PosIdxCol) === col("pos"),
        "left_anti")
    }
    val eqDeletes = snap.toSeq.flatMap(_.eqDeleteFiles)
    if (eqDeletes.nonEmpty) df = applyEqDeletes(spark, df, files, eqDeletes)
    df
  }

  /** Subtract DELETION VECTORS (Iceberg v3 MoR): under the broadcast
    * budget the compressed bitmaps themselves broadcast and tombstoned
    * rows drop via a codegen'd map-side FILTER — no join, no shuffle,
    * the scan stays one whole-stage-codegen span (the structural win
    * DVs have over row-granular tombstones). Above the budget the blobs
    * expand to (path, pos) rows IN EXECUTORS and subtract via a plain
    * anti-join — degrades, never OOMs. A blob is read only for the
    * entries that still reference it: a replaced (stale) DV sharing the
    * blob with live ones must not resurrect its smaller delete set. */
  private def subtractDvs(spark: SparkSession, df: DataFrame,
      dvs: Seq[DataFileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val byBlob: Seq[(String, Set[String])] = dvs.groupBy(_.path)
      .view.mapValues(_.map(LakeTable.dvRef).toSet).toSeq
    if (dvs.map(_.sizeBytes).sum <= deleteBroadcastBudget) {
      val map = new java.util.HashMap[String, DeleteVector]()
      byBlob.foreach { case (blob, refs) =>
        DeleteVector.readBlob(DataFs.readBytes(blob)).foreach { case (ref, dv) =>
          if (refs(ref)) {
            val prev = map.get(ref)
            map.put(ref, if (prev == null) dv else prev.union(dv))
          }
        }
      }
      val bc = spark.sparkContext.broadcast(map)
      df.filter(!graft.functions.DvContains.column(
        col(LakeTable.PosFileCol), col(LakeTable.PosIdxCol), bc))
    } else {
      import spark.implicits._
      val expanded = spark.sparkContext
        .parallelize(byBlob, math.min(byBlob.size, 32))
        .flatMap { case (blob, refs) =>
          DeleteVector.readBlob(DataFs.readBytes(blob)).iterator
            .filter { case (ref, _) => refs(ref) }
            .flatMap { case (ref, dv) => dv.positions.map(p => (ref, p)) }
        }.toDF("file_path", "pos")
      df.join(expanded,
        col(LakeTable.PosFileCol) === col("file_path") &&
          col(LakeTable.PosIdxCol) === col("pos"),
        "left_anti")
    }
  }

  /** Tiny (path → sequence number) lookup frame, broadcast-joined onto
    * rows by their `_metadata.file_path` — how per-file seq becomes a
    * per-row column without a literal map in codegen. */
  private def pathSeqLookup(spark: SparkSession, files: Seq[DataFileEntry],
      pathCol: String, seqCol: String): DataFrame = {
    // keyed in the reader's path render: the probe side is
    // `_metadata.file_path` (see LakeTable.readerPath)
    val rows = files.map(f => Row(LakeTable.readerPath(f.path), f.seq))
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      StructType(Seq(
        org.apache.spark.sql.types.StructField(pathCol,
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField(seqCol,
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Equality tombstones (Iceberg v2 semantics): a key VALUE written at
    * sequence number S deletes every same-key row in data files with
    * seq STRICTLY BELOW S — rows committed with or after the tombstone
    * are untouched, which is what lets a MoR upsert ship replacements
    * and tombstones in one commit. Keys are FIELD-ID addressed: the
    * tombstone parquet carries field IDs and is read through the same
    * ID-matching path as data, so column renames never detach live
    * tombstones. Applied per distinct key set as a size-gated anti-join
    * with the seq comparison in the join condition. */
  private def applyEqDeletes(spark: SparkSession, withPos: DataFrame,
      files: Seq[DataFileEntry], eqDeletes: Seq[DataFileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // per-row data sequence number: file path -> seq, a tiny broadcast
    val seqDf = pathSeqLookup(spark, files, "__graft_seq_path", LakeTable.DataSeqCol)
    val idToName = meta.fieldIds.map(_.swap)
    val idSchema = meta.schemaWithFieldIds
    var df = withPos.join(broadcast(seqDf),
      col(LakeTable.PosFileCol) === col("__graft_seq_path"), "left")
      .drop("__graft_seq_path")
    eqDeletes.groupBy(_.eqFieldIds).foreach { case (ids, entries) =>
      val names = ids.map(id => idToName.getOrElse(id,
        throw new IllegalStateException(
          s"equality-delete key field id $id resolves to no current column of " +
            s"$name — the keyed column was dropped while tombstones were live")))
      // ID-carrying requested schema: pre-rename tombstone files resolve
      // their key columns exactly like pre-rename data files do
      val reqSchema = StructType(names.map(n => idSchema(idSchema.fieldIndex(n))))
      val session = org.apache.spark.sql.graftbridge.SessionBridge
        .sessionWithConfs(spark, Map("spark.sql.parquet.fieldId.read.enabled" -> "true"))
      // ONE read of the whole key-set group: a per-file union chain
      // grows the logical plan linearly with MoR-upsert commit count
      // (thousands of small CDC commits = thousands-node plans). Each
      // tombstone's own sequence number joins back in from a tiny
      // path→seq broadcast keyed on the reader's file_path metadata.
      val tombSeq = pathSeqLookup(spark, entries, "__eq_seq_path", LakeTable.EqSeqCol)
      val tomb = ManifestFileIndex.read(session, entries, reqSchema)
        .select(names.map(n => col(n).as(s"__eq_$n")) :+
          col("_metadata.file_path").as("__eq_path"): _*)
        .join(broadcast(tombSeq), col("__eq_path") === col("__eq_seq_path"))
        .drop("__eq_path", "__eq_seq_path")
      val dataSide = df
      val cond = names.map(n => dataSide(n) === tomb(s"__eq_$n"))
        .reduce(_ && _) && tomb(LakeTable.EqSeqCol) > dataSide(LakeTable.DataSeqCol)
      df = dataSide.join(gateBroadcast(tomb, entries), cond, "left_anti")
    }
    df.drop(LakeTable.DataSeqCol)
  }

  /** Merge-on-read: rows of `files` minus what the snapshot's
    * positional and equality tombstones delete. No live deletes = the
    * plain vectorized read, zero overhead. Every read of committed
    * table data — scans, CoW rewrites, compaction, CDC — goes through
    * here; a raw readFiles of live files would resurrect deleted
    * rows. */
  private[lake] def readLive(spark: SparkSession, files: Seq[DataFileEntry],
      snap: Option[Snapshot]): DataFrame =
    if (snap.forall(s => s.deleteFiles.isEmpty && s.eqDeleteFiles.isEmpty &&
        s.dvFiles.isEmpty)) readFiles(spark, files)
    else readLivePos(spark, files, snap).select(schemaCols: _*)

  /** The table's columns with their field metadata — the projection
    * every position-carrying read narrows back to. */
  private def schemaCols: Seq[Column] = schema.fields.toSeq.map(f =>
    org.apache.spark.sql.functions.col(f.name).as(f.name, f.metadata))

  /** Can a rewrite of `files` carry row lineage through? Yes iff the
    * table's lineage is intact (no prior uncarried rewrite) and every
    * file in the set has a commit-assigned first-row id to derive ids
    * from (files may also carry materialized ids from an earlier
    * rewrite — those too have firstRowId, as every commit assigns it). */
  private def canCarryRowIds(files: Seq[DataFileEntry]): Boolean =
    !meta.properties.get(LakeTable.RowLineageBrokenProp).contains("true") &&
      files.forall(_.firstRowId.isDefined)

  /** The read every rewrite starts from — compaction and the row-level
    * planner alike: MoR-filtered rows of `files`, plus the hidden
    * (file, pos) coordinates when `withPos` (a merge-on-read statement
    * tombstones by them), plus each row's STABLE id as a trailing
    * [[LakeTable.RowIdCol]] column when lineage can carry
    * ([[canCarryRowIds]]; `wantIds` = false for reads that write no
    * rows). Returns the frame and whether it carries ids.
    *
    * The id is `coalesce(materialized cell, firstRowId + row position)`:
    * the same resolution rule LakeScan.rowLineage serves readers,
    * evaluated here so the rewrite can persist it into the files it
    * writes. The per-file id base rides as a MAP LITERAL keyed by the
    * reader's own path render ([[LakeTable.readerPath]] — the
    * DV/tombstone invariant), so the lookup is one codegen'd element_at
    * per row: no join, no per-row regex, no shuffle (the first cut
    * joined a broadcast frame on a regexp-normalized path and cost CoW
    * scenario queries ~1.6-2× in the round-14 bench). Unreachable while
    * the [[LakeTable.readerPath]] invariant holds, a render mismatch
    * would otherwise write a NULL id cell — indistinguishable from a
    * merge-insert cell, so a later read would silently re-identify the
    * row as firstRowId+pos of the rewritten file. The coalesce's third
    * arm makes that case FAIL THE REWRITE instead (raise_error, only
    * evaluated when both the materialized cell and the map lookup come
    * back null). */
  private def readTarget(spark: SparkSession, files: Seq[DataFileEntry],
      snap: Option[Snapshot], withPos: Boolean = false,
      wantIds: Boolean = true): (DataFrame, Boolean) = {
    import org.apache.spark.sql.functions.{coalesce, col, concat, element_at,
      lit, raise_error, typedLit}
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val carry = wantIds && canCarryRowIds(files)
    val hidden =
      (if (withPos) Seq(StructField(LakeTable.PosFileCol, StringType),
        StructField(LakeTable.PosIdxCol, LongType)) else Nil) ++
        (if (carry) Seq(StructField(LakeTable.RowIdCol, LongType)) else Nil)
    val df =
      if (files.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](),
          StructType(schema.fields ++ hidden))
      else if (hidden.isEmpty) readLive(spark, files, snap)
      else {
        val base = readLivePos(spark, files, snap, withRowId = carry)
        val withIds =
          if (!carry) base
          else {
            val firsts: Map[String, Long] = files.flatMap(f =>
              f.firstRowId.map(r => LakeTable.readerPath(f.path) -> r)).toMap
            base.withColumn(LakeTable.RowIdCol, coalesce(col(LakeTable.MatRidCol),
              element_at(typedLit(firsts), col(LakeTable.PosFileCol)) +
                col(LakeTable.PosIdxCol),
              raise_error(concat(
                lit("row-lineage carry has no id base for reader path "),
                col(LakeTable.PosFileCol))).cast("long")))
          }
        withIds.select(schemaCols ++ hidden.map(f => col(f.name)): _*)
      }
    (df, carry)
  }

  /** A9: append commit — newAppend().appendData(df).commit(). */
  def newAppend(): AppendOp = new AppendOp(this)

  def appendData(df: DataFrame, numFiles: Int = 0): CommitReport =
    newAppend().appendData(df, numFiles).commit()

  /** Register EXISTING foreign parquet files as table data IN PLACE —
    * Iceberg's add_files/migrate story: onboarding 100 TB of parquet is
    * ONE metadata commit plus a footer-stats pass, never a rewrite. The
    * files stay where they are (outside the table location, so expiry
    * and the orphan sweep — which only walk the table directory — can
    * never delete user data); their columns match the CURRENT schema by
    * name and freeze into [[TableMetadata.nameMapping]], so column
    * renames AFTER import stay metadata-only (imported files keep
    * resolving by their frozen names, engine files by field ID). Footer
    * stats harvest exactly like native writes, so stats pruning covers
    * imported files from the first scan; they land unpartitioned
    * (column stats, not path layout, carry their pruning — partition
    * predicates stay conservative on them) under the commit's data
    * sequence number, so equality tombstones written later apply
    * normally. Compaction / CoW rewrites re-emit touched imported rows
    * as native ID-stamped files, lazily upgrading the table.
    *
    * Refused loudly: a source column type differing from the schema
    * (nullability aside), files carrying a column name the frozen
    * mapping binds to a DIFFERENT field (those bytes would silently go
    * unread), re-registering an already-live path, and a directory with
    * no schema-matching columns. */
  def addFiles(spark: SparkSession, srcDir: String): CommitReport = {
    refresh()
    val m = meta
    val fileTypes = spark.read.parquet(srcDir).schema.fields
      .map(f => f.name -> f.dataType).toMap
    val idToImported = m.nameMapping.map(_.swap)
    // the name each field resolves by in mapped reads: frozen, else current
    val resolveNames = schema.fields.toSeq.map { f =>
      f -> m.fieldIds.get(f.name).flatMap(idToImported.get).getOrElse(f.name) }
    val present = resolveNames.filter { case (_, rn) => fileTypes.contains(rn) }
    require(present.nonEmpty,
      s"addFiles($srcDir) on $name: none of the table's columns " +
        s"(${schema.fieldNames.mkString(", ")}) appear in the source files")
    present.foreach { case (f, rn) =>
      val ft = fileTypes(rn)
      // simpleString equality, NOT equalsStructurally: structural
      // comparison ignores nested FIELD NAMES, and mapped reads resolve
      // struct internals by name — a same-shape struct with different
      // inner names would import cleanly and then read NULL for every
      // nested field. simpleString carries the names (and drops
      // nullability, which stays irrelevant).
      require(ft.simpleString == f.dataType.simpleString,
        s"addFiles($srcDir) on $name: column $rn is ${ft.simpleString} in the " +
          s"source files but ${f.dataType.simpleString} in the table — cast " +
          "and rewrite the files, or evolve the table schema first")
    }
    // a file column under a CURRENT name whose field froze a DIFFERENT
    // import name would be silently unread at mapped-read time — refuse
    val shadowed = schema.fields.filter { f =>
      fileTypes.contains(f.name) &&
        m.fieldIds.get(f.name).flatMap(idToImported.get).exists(_ != f.name) }
    require(shadowed.isEmpty,
      s"addFiles($srcDir) on $name: column(s) ${shadowed.map(_.name).mkString(", ")} " +
        "were first imported under their pre-rename names and the name mapping " +
        "froze there — compact() to materialize imported files, then retry")
    // footer stats matched by the resolve names, keyed by current field IDs
    val importSchema = StructType(present.map { case (f, rn) =>
      org.apache.spark.sql.types.StructField(rn, f.dataType, nullable = true) })
    val importIds = present.flatMap { case (f, rn) =>
      m.fieldIds.get(f.name).map(rn -> _) }.toMap
    val entries = StatsHarvester.harvestFiles(spark,
      DataFs.parquetFiles(srcDir, spark.sessionState.newHadoopConf()),
      importSchema, Nil, importIds)
      .map(_.copy(specId = m.currentSpecId, nameMapped = true))
    require(entries.nonEmpty,
      s"addFiles($srcDir) on $name: no non-empty parquet files in the directory")
    val live = m.currentFiles.map(_.path).toSet
    val dup = entries.filter(e => live(e.path))
    require(dup.isEmpty, s"addFiles($srcDir) on $name: already-registered " +
      s"file(s) ${dup.map(_.path).mkString(", ")}")
    // names not yet frozen for these fields freeze NOW — inside the
    // commit CAS, revalidated against the winner's mapping on retry
    val mappingDelta = present.flatMap { case (f, rn) =>
      m.fieldIds.get(f.name).filterNot(idToImported.contains).map(id => rn -> id) }
    val ourPaths = entries.map(_.path).toSet
    commitSnapshot(Append(entries, extraSummary = Map("added-files-source" -> srcDir),
      transform = { latest =>
        mappingDelta.foreach { case (n, id) =>
          if (latest.nameMapping.get(n).exists(_ != id))
            throw new CommitConflictException(
              s"addFiles on $name raced a conflicting import binding column $n")
        }
        // the dup check above ran pre-commit: two RACING imports of the
        // same directory both pass it and would register every file
        // twice (doubled rows in every scan). Inside the CAS the final
        // state shows the collision as a path appearing twice.
        val doubled = latest.currentFiles.iterator.map(_.path)
          .filter(ourPaths).toSeq.groupBy(identity)
          .collect { case (p, hits) if hits.size > 1 => p }
        if (doubled.nonEmpty)
          throw new CommitConflictException(
            s"addFiles on $name raced a concurrent import of the same " +
              s"file(s), e.g. ${doubled.head}")
        latest.copy(nameMapping = latest.nameMapping ++ mappingDelta)
      }))
  }

  /** Exactly-once append for streaming micro-batches: `sinkId` scopes
    * the ledger to one logical stream (a NEW checkpoint = a new sink
    * id), `batchId` must be monotonic within it. Returns None — and
    * writes nothing durable — when `batchId` is not newer than the last
    * committed batch for this sink. */
  def appendDataExactlyOnce(df: DataFrame, sinkId: String,
      batchId: Long): Option[CommitReport] =
    exactlyOnceCommit(sinkId, batchId)(once =>
      commitSnapshot(Append(writeDataFiles(df), exactlyOnce = once)))

  /** Exactly-once append of PRE-WRITTEN data files — the DSv2 streaming
    * sink path: executor tasks streamed the parquet, the driver commits
    * the harvested entries under the same (sinkId, batchId) ledger as
    * [[appendDataExactlyOnce]]. Returns None when the batch already
    * landed (files become orphans; removeOrphanFiles reclaims). */
  private[lake] def appendFilesExactlyOnce(files: Seq[DataFileEntry],
      sinkId: String, batchId: Long,
      toBranch: Option[String] = None): Option[CommitReport] =
    exactlyOnceCommit(sinkId, batchId)(once =>
      commitSnapshot(Append(files, toBranch.fold[Target](Main)(Branch), once)))

  /** Exactly-once MERGE for streaming micro-batches: the (sinkId,
    * batchId) ledger of [[appendDataExactlyOnce]] on top of mergeInto's
    * own serializable validation and conflict retry. Returns None when
    * the batch already committed. Source contract as for mergeInto
    * (table schema, distinct non-NULL keys). */
  def mergeIntoExactlyOnce(spark: SparkSession, source: DataFrame,
      keys: Seq[String], sinkId: String, batchId: Long,
      conflictRetries: Int = 3): Option[CommitReport] =
    exactlyOnceCommit(sinkId, batchId)(once =>
      mergeInto(spark, source, keys, conflictRetries, exactlyOnce = once))

  /** Exactly-once [[mergeIntoMoR]], under the same ledger. */
  def mergeIntoMoRExactlyOnce(spark: SparkSession, source: DataFrame,
      keys: Seq[String], sinkId: String, batchId: Long): Option[CommitReport] =
    exactlyOnceCommit(sinkId, batchId)(once =>
      mergeIntoMoR(spark, source, keys, exactlyOnce = once))

  /** The exactly-once step every streaming sink shares: None when the
    * ledger already holds `batchId`, else `commit` with the ledger
    * entry to record. The decisive check runs inside the commit CAS
    * (see [[SnapshotProducer.produce]]), whose [[BatchAlreadyCommitted]] turns into
    * None too; the pre-check here just avoids staging data files for
    * the common replay. A lost race orphans the staged files;
    * removeOrphanFiles reclaims them. */
  private def exactlyOnceCommit(sinkId: String, batchId: Long)(
      commit: Option[(String, Long)] => CommitReport): Option[CommitReport] = {
    refresh()
    if (lastCommittedBatchId(sinkId).exists(_ >= batchId)) None
    else
      try Some(commit(Some((sinkId, batchId))))
      catch { case _: BatchAlreadyCommitted => None }
  }

  /** The exactly-once ledger: last committed streaming batch for a
    * sink id, from table properties (expiry-proof, O(1)). */
  def lastCommittedBatchId(sinkId: String): Option[Long] =
    meta.properties.get(s"streaming.last-batch-id.$sinkId").map(v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"corrupt exactly-once ledger streaming.last-batch-id.$sinkId on " +
            s"$name: '$v' is not a batch id")
      })

  /** Maintenance: drop a retired sink's exactly-once ledger entry.
    * Every checkpoint wipe mints a new sink id and its key would
    * otherwise be re-serialized into every metadata version forever —
    * the property's expiry-proofness is deliberate, so reclaiming it is
    * an EXPLICIT operator action (only safe once that checkpoint is
    * known dead: a live stream whose ledger vanishes would replay its
    * earliest uncommitted batches as fresh appends). */
  def removeSinkLedger(sinkId: String): LakeTable = metadataChange { latest =>
    latest.copy(properties = latest.properties - s"streaming.last-batch-id.$sinkId")
  }

  /** A10/A12: scan with optional filter; planFiles prunes on stats. */
  def newScan(pred: LakePredicate = LakePredicate.AlwaysTrue): LakeScan =
    new LakeScan(this, meta.currentSnapshot, pred)

  /** Time travel: scan the manifest of an historical snapshot, with
    * optional stats pruning — the SQL VERSION AS OF path passes pushed
    * filters through here. */
  def asOf(snapshotId: Long,
      pred: LakePredicate = LakePredicate.AlwaysTrue): LakeScan =
    new LakeScan(this, Some(meta.snapshot(snapshotId).getOrElse(
      throw new NoSuchElementException(s"no snapshot $snapshotId in $name"))),
      pred)

  /** Schema evolution: add a nullable column. Metadata-only commit (no
    * snapshot); existing files read back null for it. The new column
    * gets the next field ID (never a reused one — a recycled ID would
    * resurrect a dropped column's bytes from old files). */
  def addColumn(colName: String, dt: org.apache.spark.sql.types.DataType): LakeTable =
    alterSchema(Seq(SchemaChange.Add(colName, dt)))

  /** Schema evolution: add a column with an INITIAL DEFAULT (Iceberg
    * v3's initial-default). Rows written before the add read `default`
    * instead of null — resolved per FILE through the parquet reader's
    * existence-default machinery, so it is exact even across CoW
    * rewrites and imports that interleave with the add. Metadata-only;
    * rows written after must supply the column (writes materialize it),
    * and rewrites materialize the default into real bytes. */
  def addColumnWithDefault(colName: String,
      dt: org.apache.spark.sql.types.DataType, default: Any): LakeTable = {
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(default, dt)
    alterSchema(Seq(SchemaChange.AddWithDefault(colName, dt, lit.sql)))
  }

  /** Record an initial default for an EXISTING column — the CREATE
    * TABLE (c INT DEFAULT 5) path, where the column and its default
    * arrive together; on an already-written table use
    * [[addColumnWithDefault]] (a default retroactively attached to a
    * column with data files would rewrite history: nulls those files
    * genuinely stored would start reading as the default). */
  private[graft] def setInitialDefault(colName: String, defaultSql: String): LakeTable =
    metadataChange { m =>
      val id = m.fieldIds.getOrElse(colName,
        throw new IllegalArgumentException(s"no such column $colName in $name"))
      require(m.snapshots.isEmpty,
        s"cannot attach a default to $colName after data exists; defaults " +
          "attach at CREATE TABLE or via addColumnWithDefault")
      m.copy(initialDefaults = m.initialDefaults + (id -> defaultSql))
    }

  /** Schema evolution: drop a column (files keep the bytes; projection
    * ignores them). Its field ID retires with it. Partition sources
    * cannot be dropped. */
  def dropColumn(colName: String): LakeTable =
    alterSchema(Seq(SchemaChange.Drop(colName)))

  /** Schema evolution: rename a column WITHOUT rewriting data — the
    * field keeps its ID, so old files resolve it by parquet field ID
    * (reference schemas are ID-addressed, IntegrationTest.java:59-64;
    * name-based projection would read null from every pre-rename file).
    * Manifest column stats are keyed by the same field IDs and partition
    * values by spec position, so NO manifest document is touched: the
    * rename is a pure metadata-document commit — O(1), not O(history) —
    * and stats pruning stays exact because the renamed column resolves
    * to the ID the old files' stats were written under. */
  def renameColumn(from: String, to: String): LakeTable =
    alterSchema(Seq(SchemaChange.Rename(from, to)))

  /** Schema evolution: widen a column's type losslessly (int → bigint,
    * float → double, …). Metadata-only — the field keeps its ID and the
    * parquet reader widens old files' narrower values at read. */
  def widenColumn(colName: String,
      to: org.apache.spark.sql.types.DataType): LakeTable =
    alterSchema(Seq(SchemaChange.Widen(colName, to)))

  /** Apply a SEQUENCE of schema changes as ONE metadata commit — all or
    * nothing (the V2 TableCatalog.alterTable contract: a failing change
    * must not leave earlier changes from the same statement applied).
    * Validations run against the metadata as already transformed by the
    * preceding changes in the same batch.
    *
    * Names may be DOTTED PATHS into struct columns (`s.f`, `s.inner.g`):
    * nested fields are field-ID addressed exactly like top-level ones
    * (IDs live under the dotted path; writes stamp them as nested
    * parquet field IDs), so nested add/rename/drop are metadata-only
    * and old files resolve renamed nested fields by ID. Fields inside
    * array/map element types stay out of the evolution model. */
  def alterSchema(changes: Seq[SchemaChange]): LakeTable =
    metadataChange { latest =>
      changes.foldLeft(latest) { (m, c) =>
        c match {
          case SchemaChange.Add(colName, dt) if colName.contains('.') =>
            val segs = colName.split('.').toSeq
            val (parent, leaf) = (segs.init, segs.last)
            val pst = LakeTable.structAt(m.schema, parent).getOrElse(
              throw new IllegalArgumentException(
                s"${parent.mkString(".")} is not a struct column of $name"))
            require(!pst.fieldNames.contains(leaf), s"field $colName already exists")
            val newPaths = LakeTable.pathsOf(colName, dt)
            m.copy(
              schema = LakeTable.mapStructAt(m.schema, parent)(st =>
                org.apache.spark.sql.types.StructType(st.fields :+
                  org.apache.spark.sql.types.StructField(leaf, dt, nullable = true))),
              fieldIds = m.fieldIds ++ newPaths.zipWithIndex.map {
                case (p, i) => (p, m.lastAssignedFieldId + 1 + i) },
              lastAssignedFieldId = m.lastAssignedFieldId + newPaths.size)
          case SchemaChange.Add(colName, dt) =>
            require(!m.schema.fieldNames.contains(colName),
              s"column $colName already exists")
            // a struct-typed column claims IDs for its nested paths too
            val newPaths = LakeTable.pathsOf(colName, dt)
            m.copy(
              schema = org.apache.spark.sql.types.StructType(m.schema.fields :+
                org.apache.spark.sql.types.StructField(colName, dt, nullable = true)),
              fieldIds = m.fieldIds ++ newPaths.zipWithIndex.map {
                case (p, i) => (p, m.lastAssignedFieldId + 1 + i) },
              lastAssignedFieldId = m.lastAssignedFieldId + newPaths.size)
          case SchemaChange.AddWithDefault(colName, dt, defaultSql) =>
            require(!colName.contains('.'),
              s"initial defaults apply to top-level columns only, got $colName")
            require(!(dt.isInstanceOf[org.apache.spark.sql.types.StructType] ||
              dt.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
              dt.isInstanceOf[org.apache.spark.sql.types.MapType]),
              s"initial defaults apply to atomic column types, got ${dt.simpleString}")
            require(!m.schema.fieldNames.contains(colName),
              s"column $colName already exists")
            val newId = m.lastAssignedFieldId + 1
            m.copy(
              schema = org.apache.spark.sql.types.StructType(m.schema.fields :+
                org.apache.spark.sql.types.StructField(colName, dt, nullable = true)),
              fieldIds = m.fieldIds + (colName -> newId),
              lastAssignedFieldId = newId,
              // ID-keyed: renames never detach the default
              initialDefaults = m.initialDefaults + (newId -> defaultSql))
          case SchemaChange.Drop(colName) if colName.contains('.') =>
            val segs = colName.split('.').toSeq
            val (parent, leaf) = (segs.init, segs.last)
            val pst = LakeTable.structAt(m.schema, parent).getOrElse(
              throw new IllegalArgumentException(
                s"${parent.mkString(".")} is not a struct column of $name"))
            require(pst.fieldNames.contains(leaf), s"no such field $colName")
            require(pst.size > 1,
              s"cannot drop the last field of struct ${parent.mkString(".")}; " +
                "drop the struct column itself")
            m.copy(
              schema = LakeTable.mapStructAt(m.schema, parent)(st =>
                org.apache.spark.sql.types.StructType(
                  st.fields.filterNot(_.name == leaf))),
              fieldIds = m.fieldIds.view.filterKeys(k =>
                k != colName && !k.startsWith(colName + ".")).toMap)
          case SchemaChange.Drop(colName) =>
            require(m.schema.fieldNames.contains(colName), s"no such column $colName")
            require(!m.spec.exists(_.source == colName),
              s"$colName is a partition source")
            require(!m.sortOrder.contains(colName),
              s"$colName is a write-order column; clear it with setWriteOrder first")
            // live equality tombstones key on this column's field ID;
            // dropping it would detach them and resurrect deleted rows.
            // Checked on main AND every ref head (a branch's tombstones
            // would otherwise break every scanRef read forever —
            // branches can't compact to self-repair, replace commits
            // are main-only). Plain historical snapshots stay
            // droppable-under: this format reads history under the
            // CURRENT schema by design, and compact-then-drop is the
            // documented repair (a full-history check would outlaw it).
            val heads = (m.currentSnapshot.toSeq ++
              m.refs.values.flatMap(r => m.snapshot(r.snapshotId))).distinct
            require(!m.fieldIds.get(colName).exists(id =>
              heads.exists(_.eqDeleteFiles.exists(_.eqFieldIds.contains(id)))),
              s"$colName keys live equality-delete files (on main or a " +
                "branch/tag head); compact() first")
            val retiredIds = m.fieldIds.collect { case (k, id)
              if k == colName || k.startsWith(colName + ".") => id }.toSet
            m.copy(
              schema = org.apache.spark.sql.types.StructType(
                m.schema.fields.filterNot(_.name == colName)),
              // a struct column retires its nested-path IDs with it
              fieldIds = m.fieldIds.view.filterKeys(k =>
                k != colName && !k.startsWith(colName + ".")).toMap,
              // a dropped column's initial default retires with it
              initialDefaults = m.initialDefaults.view
                .filterKeys(!retiredIds(_)).toMap)
          case SchemaChange.Widen(colName, to)
              if LakeTable.collectionLeafAt(m.schema, colName).isDefined =>
            // BARE collection-leaf widening: `arr.element` / `m.value`
            // naming an atomic type (struct-typed leaves evolve
            // field-by-field through the struct cases below). Bare
            // leaves carry no field ID — the collection column's ID
            // covers the whole value — so this is a pure type change:
            // the parquet reader widens old files' narrower physical
            // leaves (int32→int64, float→double) exactly as it does for
            // top-level columns. Map KEYS stay non-addressable: widening
            // a key re-keys every row (Iceberg refuses too).
            val from = LakeTable.collectionLeafAt(m.schema, colName).get
            require(LakeTable.losslessWidening(from, to),
              s"cannot change $colName: ${from.simpleString} → ${to.simpleString} " +
                "is not a lossless widening (allowed: tinyint/smallint/int → a " +
                "wider integral, float → double)")
            m.copy(schema = LakeTable.mapCollectionLeafAt(
              m.schema, colName.split('.').toSeq, to))
          case SchemaChange.Widen(colName, to) if colName.contains('.') =>
            val segs = colName.split('.').toSeq
            val (parent, leaf) = (segs.init, segs.last)
            require(!(leaf == "key" && LakeTable.typeAt(m.schema, parent)
                .exists(_.isInstanceOf[org.apache.spark.sql.types.MapType])),
              s"cannot change $colName: map keys are identity — evolving a " +
                "key type would re-key every row; rewrite into a new column")
            val pst = LakeTable.structAt(m.schema, parent).getOrElse(
              throw new IllegalArgumentException(
                s"${parent.mkString(".")} is not a struct column of $name"))
            require(pst.fieldNames.contains(leaf), s"no such field $colName")
            val from = pst(leaf).dataType
            require(LakeTable.losslessWidening(from, to),
              s"cannot change $colName: ${from.simpleString} → ${to.simpleString} " +
                "is not a lossless widening (allowed: tinyint/smallint/int → a " +
                "wider integral, float → double)")
            // same contract as the top-level widen: metadata-only, the
            // dotted path keeps its field ID, and the parquet reader
            // widens the nested leaf's narrower physical values at read
            m.copy(schema = LakeTable.mapStructAt(m.schema, parent)(st =>
              org.apache.spark.sql.types.StructType(st.fields.map(f =>
                if (f.name == leaf) f.copy(dataType = to) else f))))
          case SchemaChange.Widen(colName, to) =>
            require(m.schema.fieldNames.contains(colName), s"no such column $colName")
            val from = m.schema(colName).dataType
            require(LakeTable.losslessWidening(from, to),
              s"cannot change $colName: ${from.simpleString} → ${to.simpleString} " +
                "is not a lossless widening (allowed: tinyint/smallint/int → a " +
                "wider integral, float → double)")
            // metadata-only: the field keeps its ID; Spark's parquet
            // reader widens old files' narrower physical values at read
            // (int32→int64, float→double), manifest stat STRINGS parse
            // under the new type unchanged, and equality tombstones keep
            // applying (their key files widen through the same
            // ID-matched read). Bucket-transform hashes are
            // type-dependent, but bucket partition values are never
            // derived into manifests — only future write clustering
            // changes, which is a layout choice, not correctness.
            m.copy(schema = org.apache.spark.sql.types.StructType(
              m.schema.fields.map(f =>
                if (f.name == colName) f.copy(dataType = to) else f)))

          case SchemaChange.Rename(from, to) if from.contains('.') =>
            require(!to.contains('.'),
              s"rename target must be a bare field name, got '$to'")
            val segs = from.split('.').toSeq
            val (parent, leaf) = (segs.init, segs.last)
            val pst = LakeTable.structAt(m.schema, parent).getOrElse(
              throw new IllegalArgumentException(
                s"${parent.mkString(".")} is not a struct column of $name"))
            require(pst.fieldNames.contains(leaf), s"no such field $from")
            val toPath = (parent :+ to).mkString(".")
            require(!pst.fieldNames.contains(to), s"field $toPath already exists")
            // ID-addressed or refuse: a table created before nested
            // field IDs has old files that would resolve the renamed
            // field by NAME and silently read null
            require(m.fieldIds.contains(from),
              s"$from has no field ID (table predates nested field IDs); " +
                "rewrite the table (overwrite + compact) before renaming " +
                "nested fields")
            // addFiles-imported files resolve their struct INTERNALS by
            // name (foreign footers carry no nested field IDs either) —
            // a nested rename would silently null the field in them
            require(!m.snapshots.exists(_.files.exists(_.nameMapped)),
              s"cannot rename nested field $from while addFiles-imported " +
                "files are reachable: imported footers resolve struct " +
                "internals by name; compact() (and expire old snapshots) " +
                "to materialize them first")
            m.copy(
              schema = LakeTable.mapStructAt(m.schema, parent)(st =>
                org.apache.spark.sql.types.StructType(st.fields.map(f =>
                  if (f.name == leaf) f.copy(name = to) else f))),
              fieldIds = LakeTable.renamePaths(m.fieldIds, from, toPath))
          case SchemaChange.Rename(from, to) =>
            require(m.schema.fieldNames.contains(from), s"no such column $from")
            require(!m.schema.fieldNames.contains(to), s"column $to already exists")
            // the WHOLE spec log renames with the column: historical
            // specs store source NAMES, and old files must keep pruning
            // under their spec after the rename (values are positional,
            // so no manifest is touched)
            def ren(s: Seq[PartitionField]) =
              s.map(p => if (p.source == from) p.copy(source = to) else p)
            m.copy(
              schema = org.apache.spark.sql.types.StructType(m.schema.fields.map(f =>
                if (f.name == from) f.copy(name = to) else f)),
              // nested paths under a renamed struct column move with it
              fieldIds = LakeTable.renamePaths(m.fieldIds, from, to),
              spec = ren(m.spec),
              specLog = m.specLog.map(ren),
              sortOrder = m.sortOrder.map(c => if (c == from) to else c))
        }
      }
    }

  /** Set (or clear, with no args) the table's write order — Iceberg's
    * replaceSortOrder: a METADATA-ONLY commit; no existing file is
    * rewritten. Future writes (appends, compaction, copy-on-write
    * rewrites) range-cluster and sort on these columns, so their file
    * and row-group min/max stats become disjoint and stats pruning
    * shrinks both scans and CoW rewrite spans. Run [[compact]] after
    * setting an order to re-cluster existing data. */
  def setWriteOrder(cols: String*): LakeTable =
    metadataChange { latest =>
      cols.foreach(c => require(latest.schema.fieldNames.contains(c),
        s"sort column $c is not a column"))
      latest.copy(sortOrder = cols, sortOrderKind = "linear")
    }

  /** ANALYZE (Iceberg's statistics files, Puffin analog): ONE
    * distributed aggregation pass computes per-column NDV (HLL
    * approximate), null count, and — for strings — avg/max byte
    * length, written as an immutable `stats-*.json` document and
    * referenced from metadata's `statsFiles` list keyed by the
    * analyzed snapshot (round-11; previously one property blob that
    * inflated every metadata rewrite and lost old snapshots' stats).
    * These are the optimizer-facing statistics the manifest sums
    * cannot give: size/rowCount make a small dim broadcast, but CBO
    * join REORDERING and selectivity need per-column NDV. Bounds
    * (min/max) are NOT stored — the SQL layer reads them fresh from
    * manifest rollups at estimate time, so they never go stale. Stats
    * staleness after churn is the usual CBO contract (estimates, not
    * answers); re-run after heavy mutation. */
  def analyzeColumns(spark: SparkSession, cols: Seq[String] = Nil): LakeTable = {
    import org.apache.spark.sql.functions._
    refresh()
    // default-all SKIPS what it cannot analyze (complex types have no
    // meaningful NDV; non-word names don't embed in the JSON) — an
    // unanalyzable column must not block stats for the rest. An
    // EXPLICIT list still refuses per column: the user asked by name.
    def analyzable(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case _: NumericType | StringType | BooleanType | DateType
             | TimestampType | _: TimestampNTZType => true
        case _ => false
      }
    }
    val targets =
      if (cols.nonEmpty) cols
      else schema.fields.toSeq.filter(f =>
        f.name.matches("[A-Za-z0-9_]+") && analyzable(f.dataType)).map(_.name)
    require(targets.nonEmpty, s"no analyzable columns on $name")
    targets.foreach(c => require(schema.fieldNames.contains(c),
      s"no such column $c on $name"))
    targets.foreach(c => require(c.matches("[A-Za-z0-9_]+"),
      s"analyze supports simple column names, got '$c'"))
    targets.foreach(c => require(analyzable(schema(c).dataType),
      s"column $c of $name is ${schema(c).dataType.simpleString}: complex " +
        "types have no meaningful NDV/bounds — omit it (the default list " +
        "skips unanalyzable columns automatically)"))
    val analyzedAt = currentSnapshotId
    val df = newScan().toDF(spark)
    val aggs = count(lit(1)).as("__rows") +: targets.flatMap { c =>
      val base = Seq(
        approx_count_distinct(col(c)).as(s"ndv__$c"),
        count(col(c)).as(s"nonnull__$c"))
      schema(c).dataType match {
        case org.apache.spark.sql.types.StringType => base ++ Seq(
          avg(length(col(c))).as(s"avglen__$c"),
          max(length(col(c))).as(s"maxlen__$c"))
        case _ => base
      }
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = row.getAs[Long]("__rows")
    def jnum(n: Long) = n.toString
    val colJson = targets.map { c =>
      val ndv = row.getAs[Long](s"ndv__$c")
      val nulls = rows - row.getAs[Long](s"nonnull__$c")
      val lens = schema(c).dataType match {
        case org.apache.spark.sql.types.StringType =>
          val avgLen = Option(row.getAs[Any](s"avglen__$c"))
            .map(v => math.round(v.asInstanceOf[Double])).getOrElse(0L)
          val maxLen = Option(row.getAs[Any](s"maxlen__$c"))
            .map(v => v.asInstanceOf[Int].toLong).getOrElse(0L)
          s""","avgLen":${jnum(avgLen)},"maxLen":${jnum(maxLen)}"""
        case _ => ""
      }
      s""""${c}":{"ndv":${jnum(ndv)},"nulls":${jnum(nulls)}$lens}"""
    }.mkString("{", ",", "}")
    val json = s"""{"snapshotId":$analyzedAt,"rows":$rows,"cols":$colJson}"""
    val docName = catalog.writeStatsDoc(
      catalog.metadataDir(namespace, shortName), json)
    // re-analyzing the same snapshot replaces its entry (the orphaned
    // doc is swept later); a fresh snapshot appends — old snapshots
    // keep their own stats for time travel
    metadataChange(m => m.copy(statsFiles =
      m.statsFiles.filterNot(_.snapshotId == analyzedAt) :+
        StatsFileRef(analyzedAt, docName)))
  }

  /** Latest ANALYZE blob (append order). For CBO on current reads:
    * freshest estimates win even when analyzed a few commits ago. The
    * legacy property serves ONLY pre-round-11 tables (no statsFiles
    * yet) — once file-form stats exist, a lost/unreadable doc degrades
    * to no stats rather than resurrecting an arbitrarily older
    * property blob as if it were the latest analyze. */
  def colStatsJson: Option[String] = {
    val m = metadata
    if (m.statsFiles.nonEmpty)
      m.statsFiles.lastOption.flatMap(sf => catalog.readStatsDoc(
        catalog.metadataDir(namespace, shortName), sf.name))
    else m.properties.get(LakeTable.ColStatsProperty)
  }

  /** ANALYZE blob for EXACTLY `snapshotId` — time-travel reads must
    * not see another snapshot's statistics (no fallback to current:
    * wrong-snapshot NDV misguides CBO worse than no stats). The legacy
    * property blob serves only when its own stamp matches. */
  def colStatsJsonFor(snapshotId: Long): Option[String] = {
    val m = metadata
    m.statsFiles.find(_.snapshotId == snapshotId)
      .flatMap(sf => catalog.readStatsDoc(
        catalog.metadataDir(namespace, shortName), sf.name))
      .orElse(m.properties.get(LakeTable.ColStatsProperty)
        .filter(j => LakeTable.parseColStatsSnapshot(j).contains(snapshotId)))
  }

  /** ATOMIC staged replace (RTAS): ONE CAS swaps schema, spec, field
    * ids AND data — readers see the old table or the finished new one,
    * never the drop/create gap (or data-less window) of Spark's
    * non-atomic REPLACE TABLE AS SELECT fallback. `template` is the
    * ephemeral metadata the staged entries were WRITTEN under (its
    * positional field ids key their footer stats); history RESETS to
    * the single replace snapshot — REPLACE TABLE is a new table at the
    * old name/location (the non-atomic path literally drops it), and
    * carrying old snapshots would let time travel read old manifests
    * under the new schema's ids. Old manifests, stats docs and refs
    * become orphans the sweep reclaims. */
  def replaceContentsWith(template: TableMetadata,
      entries: Seq[DataFileEntry]): CommitReport =
    commitSnapshot(Replace(entries, Some(template)))

  /** PARTITION STATISTICS (Iceberg's partition-statistics files):
    * roll the current snapshot's per-partition-tuple file/record/byte
    * counts into an immutable `stats-*.json` document referenced from
    * metadata's `partitionStats` list — the `partitions` inspection
    * table then answers O(#partitions) from the doc instead of a full
    * driver manifest parse (the difference between a lookup and an
    * O(#files) walk on a million-file table). Partition keys are
    * stored in the readable field-render form the inspection surfaces
    * share; re-computing the same snapshot replaces its entry, expiry
    * dereferences, the orphan sweep reclaims. Returns the partition
    * tuple count. */
  def computePartitionStats(): Int = {
    refresh()
    val m = meta
    val statsAt = m.currentSnapshotId
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val groups = m.currentFiles
      .groupBy(f => (m.readablePartition(f), f.specId)).toSeq
      .sortBy(_._1._1.toSeq.sortBy(_._1).mkString(0.toChar.toString))
    val rows = groups.map { case ((pv, specId), fs) =>
      val vals = pv.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
      s"""{"specId":$specId,"values":$vals,"fileCount":${fs.size},""" +
        s""""recordCount":${fs.map(_.recordCount).sum},""" +
        s""""sizeBytes":${fs.map(_.sizeBytes).sum}}"""
    }.mkString("[", ",", "]")
    val json = s"""{"snapshotId":$statsAt,"partitions":$rows}"""
    val docName = catalog.writeStatsDoc(
      catalog.metadataDir(namespace, shortName), json)
    metadataChange(mm => mm.copy(partitionStats =
      mm.partitionStats.filterNot(_.snapshotId == statsAt) :+
        StatsFileRef(statsAt, docName)))
    groups.size
  }

  /** Partition-stats blob for EXACTLY `snapshotId`; None when never
    * computed there (the inspection table then falls back to the
    * manifest walk). */
  def partitionStatsJsonFor(snapshotId: Long): Option[String] =
    metadata.partitionStats.find(_.snapshotId == snapshotId)
      .flatMap(sf => catalog.readStatsDoc(
        catalog.metadataDir(namespace, shortName), sf.name))

  /** Z-ORDER write order (Iceberg's `zorder(...)` sort order): future
    * writes cluster + sort on the interleaved Morton code of `cols`,
    * so every file covers a small hyper-rectangle of the key space and
    * min/max stats prune on ANY of the ordered columns — the right
    * order when selective predicates hit more than one dimension
    * (linear order only serves its leading column). Metadata-only, like
    * [[setWriteOrder]]; run [[compact]] to re-cluster existing data.
    * Column types must be z-encodable (graft.functions.ZOrder). */
  def setZOrder(cols: String*): LakeTable =
    metadataChange { latest =>
      require(cols.size >= 2, "z-order needs at least 2 columns " +
        "(use setWriteOrder for a single-column order)")
      cols.foreach { c =>
        require(latest.schema.fieldNames.contains(c), s"sort column $c is not a column")
        val t = latest.schema(c).dataType
        require(graft.functions.ZOrder.supported(t),
          s"column $c: type ${t.simpleString} has no z-order encoding")
      }
      latest.copy(sortOrder = cols, sortOrderKind = "zorder")
    }

  /** Partition-spec evolution: a METADATA-ONLY commit that makes
    * `newSpec` the spec for future writes. No data file or manifest is
    * rewritten — files written under earlier specs carry their spec id
    * and keep pruning under the spec that derived their partition
    * values (predicates on retired spec fields simply stop pruning
    * files written after the evolution, and vice versa — conservative,
    * never wrong). The Iceberg updateSpec analog. */
  def evolveSpec(newSpec: Seq[PartitionField]): LakeTable =
    metadataChange { latest =>
      newSpec.foreach(p => require(latest.schema.fieldNames.contains(p.source),
        s"partition source ${p.source} is not a column"))
      require(newSpec != latest.spec, "new spec is identical to the current spec")
      latest.copy(spec = newSpec, specLog = latest.allSpecs :+ newSpec)
    }

  private def metadataChange(f: TableMetadata => TableMetadata): LakeTable = {
    val (next, v, _) = catalog.commit(namespace, shortName)(f)
    meta = next
    version = v
    this
  }

  /** Small-file compaction: rewrite all live files into `targetFiles`
    * (reference motivation: 1-row files from IntegrationTest.java:97;
    * BASELINE.json spark_approach "DataFrame read/write + compaction"). */
  def compact(spark: SparkSession, targetFiles: Int,
      conflictRetries: Int = 3): CommitReport = withConflictRetry(conflictRetries) {
    val live = meta.currentFiles
    val baseId = meta.currentSnapshotId
    if (live.isEmpty) commitSnapshot(Rewrite(Nil, Nil, Some(baseId), dropDeletes = true))
    else {
      // MoR deletes MATERIALIZE here: the rewrite reads tombstone-
      // filtered rows and the delete manifests retire with the files
      // they referenced (dropDeletes) — delete meters return to 0.
      // Row lineage CARRIES: each surviving row's stable id persists
      // into the rewritten files (Iceberg v3), so scheduled maintenance
      // never bricks _row_id reads.
      val (df, carry) = readTarget(spark, live, meta.currentSnapshot)
      // numFiles goes through writeDataFiles so the partitioned path uses
      // repartitionByRange(targetFiles, spec) — a bare repartition here
      // would be re-shuffled to the default partition count by the spec
      // clustering and the target would be ignored
      val added = writeDataFiles(df, numFiles = targetFiles, carryRowIds = carry)
      commitSnapshot(Rewrite(added, live, Some(baseId), dropDeletes = true,
        lineageCarried = carry))
    }
  }

  /** FILTERED compaction (Iceberg's `rewrite_data_files(where => …)`):
    * rewrite only the files whose stats may match `pred` — a hot
    * partition or recently-churned key range re-clusters at O(matching
    * bytes) while the rest of a 100 TB table is untouched. Tombstones
    * applying to the rewritten subset materialize (readLive); delete
    * manifests stay (they may reference files this pass keeps), so
    * pair with [[rewritePositionDeletes]] to retire them. No-op (None)
    * when nothing matches. */
  def compactWhere(spark: SparkSession, pred: LakePredicate,
      targetFiles: Int = 0,
      conflictRetries: Int = 3): Option[CommitReport] =
      withConflictRetry(conflictRetries) {
    val snap = meta.currentSnapshot
    val matching = meta.currentFiles.filter(pred.mayMatch(_, meta))
    if (matching.isEmpty) None
    else {
      val (df, carry) = readTarget(spark, matching, snap)
      Some(commitSnapshot(Rewrite(
        writeDataFiles(df, numFiles = targetFiles, carryRowIds = carry),
        matching, Some(meta.currentSnapshotId), lineageCarried = carry)))
    }
  }

  /** Binpack small-file compaction (Iceberg's rewrite-data-files
    * strategy): rewrite ONLY files below `smallBytes`, packed into
    * floor(total/smallBytes) outputs — floor, not ceil, so every output
    * lands AT OR ABOVE the threshold and graduates out of the small
    * set: a scheduled maintenance loop converges instead of rewriting
    * the same bytes forever. Files already at a healthy size survive by
    * reference; a quiet table returns None WITHOUT committing (a no-op
    * snapshot per scheduled run would grow the log unboundedly). */
  def compactSmallFiles(spark: SparkSession, smallBytes: Long,
      conflictRetries: Int = 3): Option[CommitReport] = withConflictRetry(conflictRetries) {
    val small = meta.currentFiles.filter(_.sizeBytes < smallBytes)
    if (small.size < 2) None // nothing to gain; change nothing
    else {
      val target = math.max(1,
        (small.map(_.sizeBytes).sum / smallBytes).toInt)
      // tombstones applied to the rewritten subset; delete manifests
      // survive (they may still reference files this pass keeps)
      val (df, carry) = readTarget(spark, small, meta.currentSnapshot)
      val added = writeDataFiles(df, numFiles = target, carryRowIds = carry)
      Some(commitSnapshot(Rewrite(added, small, Some(meta.currentSnapshotId),
        lineageCarried = carry)))
    }
  }

  /** Materialize live tombstones WITHOUT a full-table rewrite (the
    * intent of Iceberg's rewrite_position_delete_files procedure):
    * rewrite ONLY the data files the tombstones can affect — positional
    * targets come exactly from the tombstones' recorded file_paths (a
    * tiny driver-side read), equality targets from seq ordering plus
    * key-stats overlap — and retire every delete manifest in the same
    * commit. Untouched data files survive by reference, so a table with
    * few small files but heavy MoR churn on hot files self-heals at
    * O(affected bytes), not O(table bytes) — [[compactSmallFiles]]
    * alone would never retire its tombstones. Returns None (no commit)
    * when no tombstones are live. */
  def rewritePositionDeletes(spark: SparkSession,
      conflictRetries: Int = 3): Option[CommitReport] =
      withConflictRetry(conflictRetries) {
    val snap = meta.currentSnapshot
    val pos = snap.map(_.deleteFiles).getOrElse(Nil)
    val eqs = snap.map(_.eqDeleteFiles).getOrElse(Nil)
    val dvs = snap.map(_.dvFiles).getOrElse(Nil)
    if (pos.isEmpty && eqs.isEmpty && dvs.isEmpty) None
    else {
      val live = meta.currentFiles
      // DV targets come straight from the manifest entries — zero IO
      val posTargets: Set[String] =
        (if (pos.isEmpty) Set.empty[String]
        else ManifestFileIndex.read(spark, pos, LakeTable.DeleteFileSchema)
          .select("file_path").distinct()
          .collect().map(_.getString(0)).toSet) ++
          dvs.map(LakeTable.dvRef)
      // an equality tombstone affects files STRICTLY older (seq) whose
      // key-column stats overlap the tombstone file's (both keyed by
      // table field IDs); missing stats keep the file — conservative,
      // the affected set only ever over-approximates
      val idToName = meta.fieldIds.map(_.swap)
      def eqAffects(e: DataFileEntry, f: DataFileEntry): Boolean =
        f.seq < e.seq && e.eqFieldIds.forall { id =>
          val key = id.toString
          (for {
            n <- idToName.get(id)
            dt = schema(schema.fieldIndex(n)).dataType
            fmn <- f.minValues.get(key); fmx <- f.maxValues.get(key)
            emn <- e.minValues.get(key); emx <- e.maxValues.get(key)
          } yield Stats.cmp(dt, fmn, emx) <= 0 && Stats.cmp(dt, fmx, emn) >= 0)
            .getOrElse(true)
        }
      val affected = live.filter(f =>
        posTargets(LakeTable.readerPath(f.path)) ||
          eqs.exists(e => eqAffects(e, f)))
      if (affected.isEmpty)
        // only DANGLING tombstones remain (their data files were already
        // rewritten away): retire the delete manifests metadata-only
        Some(commitSnapshot(Rewrite(Nil, Nil, Some(meta.currentSnapshotId),
          dropDeletes = true)))
      else {
        val (df, carry) = readTarget(spark, affected, snap)
        val added = writeDataFiles(df, carryRowIds = carry)
        Some(commitSnapshot(Rewrite(added, affected, Some(meta.currentSnapshotId),
          dropDeletes = true, lineageCarried = carry)))
      }
    }
  }

  /** Metadata-only manifest consolidation (Iceberg's rewrite_manifests
    * procedure): merge the current snapshot's DATA manifests into
    * ceil(entries / targetEntries) documents WITHOUT touching a single
    * data file. Every commit appends one manifest, so a streaming
    * ingest or CDC table accretes one small manifest PER EPOCH — after
    * 10k commits every scan's planning reads 10k tiny documents; this
    * restores O(files / targetEntries). Entries are copied VERBATIM —
    * each keeps its own data sequence number, so equality-tombstone
    * scoping (seq strictly below the tombstone's) survives unchanged;
    * delete manifests carry over untouched. Runs entirely inside the
    * commit CAS transform: a racing writer's new manifest either lands
    * before (and is consolidated) or after (and is appended to the new
    * list) — never lost. No-op (None) below `minManifests`, so a
    * scheduled maintenance loop converges instead of committing
    * no-change snapshots forever. */
  def rewriteManifests(targetEntries: Int = 100000,
      minManifests: Int = 8): Option[CommitReport] = {
    require(targetEntries > 0, "targetEntries must be positive")
    require(minManifests >= 2, "minManifests must be at least 2")
    produceCommit(latest => Option.when(latest.currentSnapshot
      .exists(_.dataManifests.size >= minManifests))(ManifestRewrite(targetEntries)))
  }

  /** Copy-on-write ops re-run against FRESH metadata when they lose a
    * commit race (CommitConflictException): re-reading, re-rewriting,
    * re-validating — Iceberg's retry-with-revalidation loop. The files
    * a failed attempt wrote become orphans; removeOrphanFiles reclaims
    * them. `retries` = 0 surfaces the conflict to the caller. */
  private def withConflictRetry[T](retries: Int)(op: => T): T = {
    var left = retries
    while (true) {
      try return op
      catch {
        case e: CommitConflictException =>
          if (left <= 0) throw e
          left -= 1
          refresh()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** (base id, live files, snapshot) of an op's lineage: main, or — for
    * a branch-scoped row-level op — the branch head. The commit then
    * targets the same lineage (the request's branch), whose head the CAS transform
    * re-resolves, so racing branch commits revalidate exactly like
    * racing main commits. */
  private def lineageBase(branch: Option[String])
      : (Long, Seq[DataFileEntry], Option[Snapshot]) = branch match {
    case None => (meta.currentSnapshotId, meta.currentFiles, meta.currentSnapshot)
    case Some(b) =>
      val ref = meta.refs.getOrElse(b,
        throw new NoSuchElementException(s"no branch '$b' on $name"))
      require(ref.kind == TableRef.Branch,
        s"ref '$b' of $name is a ${ref.kind}; only branches accept commits")
      val snap = meta.snapshot(ref.snapshotId).getOrElse(
        throw new IllegalStateException(
          s"branch '$b' of $name points at expired snapshot ${ref.snapshotId}"))
      (snap.id, snap.files, Some(snap))
  }

  // ---- Row-level statements. Every public DELETE / UPDATE /
  // replaceWhere / MERGE variant below is a thin wrapper over ONE
  // planner, [[planRowLevel]]; `…MoR` picks the merge-on-read strategy,
  // `…Flagged` a join-based row mark instead of a predicate. ----

  /** Copy-on-write row delete: only files that MAY contain matches are
    * rewritten; untouched files survive as-is. Delete-file counters stay
    * 0 exactly as in the reference, which never writes delete files but
    * surfaces the meters (IntegrationTest.java:109,112,115). NULL
    * predicate rows are KEPT (SQL delete semantics: only TRUE deletes);
    * survivors keep their stable row ids. Serializable, not just
    * snapshot-isolated: a racing append adding rows that match the
    * predicate fails this commit and the retry re-runs the delete over
    * them. `branch` scopes the delete to a branch head (stage → audit →
    * fastForward publishes — the WAP pattern for mutations). */
  def deleteWhere(spark: SparkSession, pred: LakePredicate,
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.delete(pred), mor = false, conflictRetries, branch)

  /** Merge-on-read row delete (Iceberg's positional delete files): the
    * matching rows' physical coordinates (file_path, row_index) are
    * committed as a small parquet TOMBSTONE file or as deletion vectors
    * ([[writeRowDeletes]]) — NO data file is rewritten. The write-time
    * cost of a selective delete drops from O(touched data bytes) to
    * O(deleted rows); the read-time cost is a tiny broadcast until
    * [[compact]] materializes the deletes and retires the tombstones.
    * This is what moves the reference's delete-file meters
    * (totalDeleteFiles/totalPositionalDeletes,
    * IntegrationTest.java:109,112,115) off zero. */
  def deleteWhereMoR(spark: SparkSession, pred: LakePredicate,
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.delete(pred), mor = true, conflictRetries, branch)

  /** DELETE whose row MATCHING requires joins — the SQL subquery path
    * (`WHERE k IN (SELECT …)`, correlated EXISTS): `flag`
    * receives the touched-files read and must return the SAME rows
    * (multiplicity preserved — join only against DISTINCT keys; input
    * columns preserved — the hidden id and position columns ride
    * through) plus one boolean column `__match`; NULL counts as false
    * (SQL WHERE semantics). `prune` is a LENIENT may-match predicate
    * over the condition's join-free conjuncts: it selects which files
    * are read AND which racing commits conflict, so it must be a
    * SUPERSET of the true matches — AlwaysTrue degrades to a full-table
    * read and full-strictness validation, never a wrong answer. */
  def deleteWhereFlagged(spark: SparkSession, prune: LakePredicate,
      flag: DataFrame => DataFrame,
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.Delete(prune, flag), mor = false,
      conflictRetries, branch)

  /** [[deleteWhereFlagged]] under merge-on-read: O(matched rows) of
    * tombstones or deletion vectors, never a file rewrite — the shape a
    * subquery purge wants on a huge table. */
  def deleteWhereFlaggedMoR(spark: SparkSession, prune: LakePredicate,
      flag: DataFrame => DataFrame,
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.Delete(prune, flag), mor = true,
      conflictRetries, branch)

  /** Copy-on-write update: rewrite the files `pred` may match, matching
    * rows taking the assignments. Every assignment evaluates against the
    * OLD row (`SET a = b, b = a` swaps) and is cast to the DECLARED
    * column type; an updated row keeps its stable id (Iceberg v3 row
    * lineage). `branch` stages the update on a branch head. */
  def updateWhere(spark: SparkSession, pred: LakePredicate,
      assignments: Map[String, Column],
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.update(pred, assignments), mor = false,
      conflictRetries, branch)

  /** Merge-on-read update: ONE commit ships position deletes for the
    * matched rows' old coordinates PLUS data files carrying their
    * updated values (and their stable ids) — write cost O(matched rows),
    * not the rewrite of every byte of every touched FILE. The appended
    * rows land at the new snapshot's sequence number and are untouched
    * by the tombstones (which address old files only); [[compact]]
    * materializes. */
  def updateWhereMoR(spark: SparkSession, pred: LakePredicate,
      assignments: Map[String, Column],
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.update(pred, assignments), mor = true,
      conflictRetries, branch)

  /** UPDATE with a join-based row mark: rows whose `__match` is TRUE
    * take the assignments. `prune`/`flag` contract as for
    * [[deleteWhereFlagged]]. */
  def updateWhereFlagged(spark: SparkSession, prune: LakePredicate,
      flag: DataFrame => DataFrame,
      assignments: Map[String, Column],
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.Update(prune, flag, assignments), mor = false,
      conflictRetries, branch)

  /** [[updateWhereFlagged]] under merge-on-read, as [[updateWhereMoR]]. */
  def updateWhereFlaggedMoR(spark: SparkSession, prune: LakePredicate,
      flag: DataFrame => DataFrame,
      assignments: Map[String, Column],
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.Update(prune, flag, assignments), mor = true,
      conflictRetries, branch)

  /** Atomic predicate-scoped OVERWRITE (Delta's replaceWhere /
    * Iceberg's overwrite-by-filter): delete every row matching `pred`
    * AND append `df` in ONE commit — the backfill primitive. Rewriting
    * "one day's partition" as delete-then-append needs two commits and
    * exposes readers to the gap (and a crash between them loses the
    * day); this is a single serializable snapshot: touched files'
    * survivors rewrite, replacement data appends, and a racing append
    * that matches `pred` conflicts and re-runs. Every replacement row
    * must itself match `pred` — otherwise "replace WHERE day = X" could
    * smuggle rows into other days (Delta refuses identically). */
  def replaceWhere(spark: SparkSession, pred: LakePredicate, df: DataFrame,
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.Replace(pred, df), mor = false,
      conflictRetries, branch)

  /** Keyed MERGE (upsert): source rows replace same-key rows, unmatched
    * source rows are inserted. Copy-on-write: only files whose key
    * bounds overlap the source's key range are rewritten — the one
    * driver-side value is the source's per-key min/max (a 1-row agg).
    * A matched row continues its target row's stable id; an inserted
    * row draws a fresh one. Serializable: a racing append inside the
    * key bounds would leave duplicate live keys — it fails and retries
    * instead. Source must carry the table schema and distinct,
    * non-NULL keys. */
  def mergeInto(spark: SparkSession, source: DataFrame, keys: Seq[String],
      conflictRetries: Int = 3,
      exactlyOnce: Option[(String, Long)] = None,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.Merge(source, keys, None), mor = false,
      conflictRetries, branch, exactlyOnce)

  /** Merge-on-read keyed upsert (the Flink-into-Iceberg CDC shape):
    * ONE commit ships the source rows as new data files AND an
    * equality-delete file of their keys — the table is never read, so
    * the write cost is O(source) regardless of table size. Old same-key
    * rows die by seq comparison at read time (tombstones apply only to
    * data files with strictly smaller seq, so this commit's own rows
    * survive its own tombstones); [[compact]] materializes the state
    * back into clean files. Matched rows draw fresh ids (the old row is
    * never read).
    *
    * Needs NO conflict validation: two racing upserts both land, and
    * whichever commits later holds the larger seq — its tombstones beat
    * the earlier rows, exactly the serial order the CAS decided. Source
    * contract as for [[mergeInto]]. */
  def mergeIntoMoR(spark: SparkSession, source: DataFrame, keys: Seq[String],
      exactlyOnce: Option[(String, Long)] = None,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.Merge(source, keys, None), mor = true,
      conflictRetries = 0, branch, exactlyOnce)

  /** FULL-GRAMMAR conditional MERGE (copy-on-write): the general
    * `MERGE INTO` shape SQL users write on day one of a CDC feed —
    *
    * {{{
    *   WHEN MATCHED [AND c1] THEN UPDATE SET ... | DELETE      (× N, first match wins)
    *   WHEN NOT MATCHED [AND c2] THEN INSERT ...               (× N, first match wins)
    *   WHEN NOT MATCHED BY SOURCE [AND c3] THEN UPDATE | DELETE (× N, first match wins)
    * }}}
    *
    * where [[mergeInto]] handles only the canonical unconditional
    * upsert. Clause conditions/values are Columns over the prefixed
    * `__t_*`/`__s_*` namespace — see [[MergeClauseSpec]]. Matched rows
    * with no applicable clause KEEP their old values; unmatched source
    * rows with no applicable insert clause are dropped; target rows
    * unmatched by source keep unless a NOT-MATCHED-BY-SOURCE clause
    * applies. All conditions evaluate against the OLD target row.
    *
    * Files read = those whose stats may overlap the source's key bounds,
    * UNION — only when NOT-MATCHED-BY-SOURCE clauses exist — those that
    * may hold a row satisfying `nmbsPrune` (a LENIENT may-match
    * predicate the caller derives from the clause conditions;
    * AlwaysTrue for an unconditional clause, which is inherently a
    * full-table operation). Untouched files are carried by reference.
    * Serializable: a racing commit adding rows inside the key bounds
    * (or matching `nmbsPrune`) fails validation and retries.
    *
    * Source contract: merge keys must be DISTINCT among non-NULL-key
    * rows. NULL-key source rows match nothing and fall through to the
    * NOT MATCHED clauses, standard SQL semantics. Unlike [[mergeInto]]
    * the source need not match the table schema: insert clauses
    * compute every column explicitly (missing → NULL). */
  def mergeIntoConditional(spark: SparkSession, source: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeClauseSpec],
      notMatched: Seq[MergeClauseSpec],
      notMatchedBySource: Seq[MergeClauseSpec] = Nil,
      nmbsPrune: LakePredicate = LakePredicate.AlwaysTrue,
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.Merge(source, keys, Some(RowLevelOp.MergeClauses(
      matched, notMatched, notMatchedBySource, nmbsPrune))), mor = false,
      conflictRetries, branch)

  /** [[mergeIntoConditional]] under merge-on-read: the touched files are
    * still READ (clause conditions evaluate against the OLD row, which
    * equality tombstones never see), but ONE commit WRITES only
    * position deletes for the rows a clause UPDATEs or DELETEs plus data
    * files carrying the updated/inserted rows — write cost
    * O(affected + source), while KEEP rows cost nothing. */
  def mergeIntoConditionalMoR(spark: SparkSession, source: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeClauseSpec],
      notMatched: Seq[MergeClauseSpec],
      notMatchedBySource: Seq[MergeClauseSpec] = Nil,
      nmbsPrune: LakePredicate = LakePredicate.AlwaysTrue,
      conflictRetries: Int = 3,
      branch: Option[String] = None): CommitReport =
    planRowLevel(spark, RowLevelOp.Merge(source, keys, Some(RowLevelOp.MergeClauses(
      matched, notMatched, notMatchedBySource, nmbsPrune))), mor = true,
      conflictRetries, branch)

  /** The SQL layer's entry: `op` under the strategy the table's
    * `write.<op.mode>.mode` property picks. */
  private[graft] def runRowLevel(spark: SparkSession, op: RowLevelOp,
      branch: Option[String]): CommitReport =
    planRowLevel(spark, op, mor = writeMode(op.mode) == "merge-on-read",
      branch = branch)

  /** THE row-level planner. Each statement runs these steps:
    *
    *  1. Source: a merge source or replacement frame persists ONCE,
    *     outside the conflict-retry loop, and its statement checks
    *     (source contract, key bounds, stray replacement rows) run over
    *     that one evaluation — a recomputed non-deterministic source
    *     could otherwise write keys outside the validated bounds.
    *  1. Target selection: the lineage head ([[lineageBase]]: main or a
    *     branch) and the files `prune` may match.
    *  1. Read ([[readTarget]]): the touched files' live rows, with
    *     stable ids whenever rows are rewritten and lineage can carry;
    *     merge-on-read also keeps each row's (file, pos) coordinates.
    *  1. Row marking: a boolean `__match` column — a predicate is just
    *     the flag `pred.toColumn`.
    *  1. Output: copy-on-write rewrites the touched files; merge-on-read
    *     writes position deletes ([[writeRowDeletes]]) plus the changed
    *     rows; the canonical merge-on-read MERGE writes equality deletes
    *     and never reads the target.
    *  1. One commit, serializable against files added since the base
    *     that `prune` may match; a conflict re-runs steps 2-6 against
    *     fresh metadata (the files a lost attempt wrote become orphans).
    */
  private def planRowLevel(spark: SparkSession, op: RowLevelOp, mor: Boolean,
      conflictRetries: Int = 3, branch: Option[String] = None,
      exactlyOnce: Option[(String, Long)] = None): CommitReport = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val source = op match {
      case RowLevelOp.Replace(_, rows) => Some(rows.persist())
      case m: RowLevelOp.Merge => Some(m.source.persist())
      case _ => None
    }
    // try/finally: every exit — no-op, refused source, exhausted
    // conflict retries — must release the cached source
    try {
      val (sourceRows, prune) = op match {
        case RowLevelOp.Delete(p, _) => (0L, Some(p))
        case RowLevelOp.Update(p, _, _) => (0L, Some(p))
        case RowLevelOp.Replace(p, _) =>
          val strays = source.get.filter(!coalesce(p.toColumn, lit(false))).limit(1).count()
          require(strays == 0L,
            s"replaceWhere(${p.render}) on $name: replacement rows must all " +
              "match the predicate (a stray row would land OUTSIDE the replaced " +
              "slice and silently corrupt it)")
          (0L, Some(p))
        case RowLevelOp.Merge(_, keys, clauses) =>
          val (n, bounds) = mergeSourceStats(source.get, keys, clauses)
          (n, clauses match {
            case None => bounds.filter(_ => !mor)
            case Some(c) if c.notMatchedBySource.nonEmpty =>
              Some(bounds.fold(c.nmbsPrune)(LakePredicate.Or(_, c.nmbsPrune)))
            case Some(_) => bounds
          })
      }
      withConflictRetry(conflictRetries) {
        val (base, live, snap) = lineageBase(branch)
        val touched = prune.fold(Seq.empty[DataFileEntry])(p =>
          live.filter(p.mayMatch(_, meta)))
        val out = op match {
          case RowLevelOp.Delete(_, flag) => markRows(spark, touched, snap, flag, None, mor)
          case RowLevelOp.Update(_, flag, set) =>
            markRows(spark, touched, snap, flag, Some(set), mor)
          case RowLevelOp.Replace(p, _) =>
            // the replacement rows land in id-free files and derive
            // fresh ids from their own commit range
            val fresh = writeDataFiles(source.get)
            val kept = markRows(spark, touched, snap, RowLevelOp.where(p), None, mor)
            kept.copy(added = kept.added ++ fresh)
          case RowLevelOp.Merge(_, keys, None) =>
            // an empty source commits nothing (the ledger still records)
            if (sourceRows == 0L) RowLevelWrite()
            else upsert(spark, source.get, keys, touched, snap, mor)
          case RowLevelOp.Merge(_, keys, Some(clauses)) =>
            // nothing to read, nothing to insert: an empty commit
            if (touched.isEmpty && sourceRows == 0L) RowLevelWrite()
            else conditionalMerge(spark, source.get, keys, clauses, touched, snap, mor)
        }
        commitSnapshot(RowDelta(op.verb, out, prune.map(base -> _), branch, exactlyOnce))
      }
    } finally source.foreach(_.unpersist(blocking = false))
  }

  /** One driver-side row over the persisted merge source — row count,
    * NULL-key rows, distinct keys and per-key min/max — checked against
    * the source contract; returns the row count and the key-bounds
    * predicate (None when no row has a full non-NULL key). Duplicate
    * keys would BOTH survive the merge with an arbitrary "winner", so
    * they fail loudly (a versioned feed reduces first — the streaming
    * upsert sink's orderBy = last-write-wins). The canonical upsert
    * (`clauses` None) also refuses NULL keys — its anti-join never
    * matches them, so they would just append — and any source not in
    * the table schema; the conditional MERGE lets NULL-key rows fall
    * through to its NOT MATCHED clauses (standard SQL). */
  private def mergeSourceStats(src: DataFrame, keys: Seq[String],
      clauses: Option[RowLevelOp.MergeClauses]): (Long, Option[LakePredicate]) = {
    import org.apache.spark.sql.{functions => F}
    require(keys.nonEmpty && keys.forall(schema.fieldNames.contains), s"bad merge keys $keys")
    clauses match {
      case None =>
        // simpleString comparison: StructField equality includes METADATA,
        // and a source derived from this table's own scan carries nested
        // parquet.field.id metadata inside struct types — identical schemas
        // would spuriously refuse under exact DataType equality
        require(src.schema.fields.map(f => (f.name, f.dataType.simpleString))
          .sameElements(schema.fields.map(f => (f.name, f.dataType.simpleString))),
          s"merge source schema mismatch: ${src.schema.simpleString}")
      case Some(c) =>
        require(keys.forall(src.columns.contains),
          s"merge source lacks key column(s): ${keys.filterNot(src.columns.contains)}")
        require(c.matched.nonEmpty || c.notMatched.nonEmpty || c.notMatchedBySource.nonEmpty,
          "MERGE needs at least one WHEN clause")
        require(c.notMatched.forall(!_.isDelete), "WHEN NOT MATCHED cannot DELETE")
        require(!schema.fieldNames.exists(_.startsWith("__")) &&
          !src.columns.exists(_.startsWith("__")),
          "column names starting with __ collide with the merge's join namespace")
    }
    val keyNotNull = keys.map(F.col(_).isNotNull).reduce(_ && _)
    val aggs = keys.flatMap(k => Seq(F.min(F.col(k)), F.max(F.col(k)))) ++ Seq(
      F.count(F.lit(1)),
      F.sum(F.when(keyNotNull, 0L).otherwise(1L)),
      // WHEN without otherwise → NULL, which count_distinct ignores:
      // distinctness is asserted among non-NULL-key rows only
      F.count_distinct(F.when(keyNotNull, F.struct(keys.map(F.col): _*))))
    val row = src.agg(aggs.head, aggs.tail: _*).head()
    val n = 2 * keys.size
    val rows = row.getLong(n)
    // sum over zero rows is NULL — an empty source has no null keys
    val nullKeyRows = if (row.isNullAt(n + 1)) 0L else row.getLong(n + 1)
    if (clauses.isEmpty && nullKeyRows > 0L)
      throw new IllegalArgumentException(
        s"merge source has $nullKeyRows row(s) with a NULL merge key in $keys — " +
          "NULL keys cannot match and would duplicate rows")
    val duplicates = rows - nullKeyRows - row.getLong(n + 2)
    if (duplicates > 0L)
      throw new IllegalArgumentException(
        s"merge source has $duplicates duplicate merge-key row(s) in $keys — " +
          "which row wins is undefined; reduce the source to one row per key " +
          "first (e.g. last-write-wins on a version column)")
    val bounds =
      if (rows == nullKeyRows) None
      else Some(keys.zipWithIndex.map { case (k, i) =>
        LakePredicate.And(LakePredicate.Ge(k, row.get(2 * i)),
          LakePredicate.Le(k, row.get(2 * i + 1)))
      }.reduceLeft[LakePredicate](LakePredicate.And(_, _)))
    (rows, bounds)
  }

  /** DELETE / UPDATE body: flag the touched rows, then rewrite the
    * touched files (copy-on-write: unmatched rows unchanged, matched
    * rows dropped or assigned) or write position deletes for the
    * matched rows plus, for an UPDATE, their new values
    * (merge-on-read). `set` = None deletes. */
  private def markRows(spark: SparkSession, touched: Seq[DataFileEntry],
      snap: Option[Snapshot], flag: DataFrame => DataFrame,
      set: Option[Map[String, Column]], mor: Boolean): RowLevelWrite =
    if (touched.isEmpty) RowLevelWrite()
    else {
      import org.apache.spark.sql.functions.{coalesce, col, lit, when}
      // a merge-on-read DELETE writes no rows, so it has no ids to carry
      val (read, canCarry) = readTarget(spark, touched, snap, withPos = mor,
        wantIds = !mor || set.isDefined)
      val flagged = flag(read)
      // lineage carries iff the flag kept the trailing _row_id column
      // (the SQL layer's mark passes every read column through, so it
      // always does; a flag that drops it falls back to the honest
      // broken flag)
      val carry = canCarry && flagged.columns.contains(LakeTable.RowIdCol)
      val isMatch = coalesce(col("__match"), lit(false))
      // ONE select evaluates every assignment against the OLD row (a
      // withColumn fold would feed later assignments already-updated
      // values); the cast pins the DECLARED column type — `SET s.x = 0`
      // must store a BIGINT x, not narrow the struct to the literal's
      def output(onlyIf: Option[Column]): Seq[Column] =
        schema.fields.toSeq.map { f =>
          set.flatMap(_.get(f.name)).map { v =>
            val nv = v.cast(f.dataType)
            onlyIf.fold(nv)(when(_, nv).otherwise(col(f.name))).as(f.name)
          }.getOrElse(col(f.name))
        } ++ (if (carry) Seq(col(LakeTable.RowIdCol)) else Nil)
      if (!mor) {
        val rows = if (set.isEmpty) flagged.filter(!isMatch) else flagged
        RowLevelWrite(
          added = writeDataFiles(rows.select(output(Some(isMatch)): _*), carryRowIds = carry),
          removed = touched, carried = carry)
      } else if (set.isEmpty) writeRowDeletes(spark, flagged.filter(isMatch), snap, touched.size)
      else {
        // persisted: the position deletes AND the updated rows must see
        // one evaluation of a plan whose flag joins could otherwise
        // recompute differently
        val matched = flagged.filter(isMatch).persist()
        try writeRowDeletes(spark, matched, snap, touched.size).copy(
          added = writeDataFiles(matched.select(output(None): _*), carryRowIds = carry),
          carried = carry)
        finally matched.unpersist(blocking = false)
      }
    }

  /** Canonical upsert body. Merge-on-read writes the source plus an
    * equality-delete file of its keys and never reads the target;
    * copy-on-write rewrites the touched files as (target rows whose key
    * the source lacks) ∪ source. With lineage, unmatched target rows
    * keep their ids, a matched source row CONTINUES its target row's id
    * (min over legal duplicate target keys — deterministic), and a
    * source-only row writes a NULL cell, deriving a fresh id from the
    * new file's own commit range. */
  private def upsert(spark: SparkSession, src: DataFrame, keys: Seq[String],
      touched: Seq[DataFileEntry], snap: Option[Snapshot],
      mor: Boolean): RowLevelWrite = {
    import org.apache.spark.sql.{functions => F}
    if (mor) {
      val added = writeDataFiles(src)
      // the tombstone parquet carries the keys' FIELD IDS, read back
      // through the same ID-matching path as data — renames never
      // detach live tombstones
      val idSchema = meta.schemaWithFieldIds
      val keyRows = src.select(keys.map(src.col): _*)
      val keySchema = StructType(keyRows.schema.fields.map(f =>
        f.copy(metadata = idSchema(idSchema.fieldIndex(f.name)).metadata)))
      val eqEntries = LakeWriter.write(keyRows, s"$location/data/${UUID.randomUUID}",
        keySchema, Map.empty,
        EntryStats(StructType(keys.map(k => schema(schema.fieldIndex(k))).toArray), Nil,
          meta.fieldIds.view.filterKeys(keys.contains).toMap))
        .map(_.copy(eqFieldIds = keys.map(meta.fieldIds)))
      RowLevelWrite(added = added, eqDeletes = eqEntries)
    } else {
      val (tgt, carry) = readTarget(spark, touched, snap)
      val srcKeys = src.select(keys.map(F.col): _*)
      val added =
        if (!carry) writeDataFiles(tgt.join(srcKeys, keys, "left_anti").unionByName(src))
        else {
          // the target feeds two consumers (anti-join + id lookup) and
          // persists across them so the touched files read once
          val cached = tgt.persist()
          try {
            val tgtIds = cached.groupBy(keys.map(F.col): _*)
              .agg(F.min(F.col(LakeTable.RowIdCol)).as(LakeTable.RowIdCol))
            writeDataFiles(cached.join(srcKeys, keys, "left_anti")
              .unionByName(src.join(tgtIds, keys, "left")), carryRowIds = true)
          } finally cached.unpersist(blocking = false)
        }
      RowLevelWrite(added = added, removed = touched, carried = carry)
    }
  }

  /** Conditional MERGE body: ONE pass over the touched files' read,
    * each row taking the integer action of the first applicable clause
    * of its family. Copy-on-write rewrites the touched files from it;
    * merge-on-read writes position deletes for the target rows a clause
    * updates or deletes, plus the updated and inserted rows. UPDATE and
    * KEEP rows carry their stable ids; INSERT rows write NULL cells
    * (fresh ids from the new file's commit range). */
  private def conditionalMerge(spark: SparkSession, src: DataFrame,
      keys: Seq[String], clauses: RowLevelOp.MergeClauses,
      touched: Seq[DataFileEntry], snap: Option[Snapshot],
      mor: Boolean): RowLevelWrite = {
    import org.apache.spark.sql.{functions => F}
    val RowLevelOp.MergeClauses(matched, notMatched, notMatchedBySource, _) = clauses
    val (tgtRaw, carry) = readTarget(spark, touched, snap, withPos = mor)
    // the read's hidden (file, pos) and id columns, past the table's
    val hidden = tgtRaw.schema.fields.drop(schema.fields.length).toSeq
    // prefixed namespaces + NON-NULL presence markers: key columns
    // cannot flag presence (both sides may legally hold NULL keys)
    val tgt = tgtRaw.select(
      schema.fieldNames.map(c => F.col(c).as("__t_" + c)).toSeq ++
        hidden.map(f => F.col(f.name)) :+
        F.lit(1).as("__t__p"): _*)
    val srcP = src.select(
      src.columns.map(c => F.col(c).as("__s_" + c)).toSeq :+
        F.lit(1).as("__s__p"): _*)
    // NOT a full-outer join: Spark cannot broadcast a full outer, so
    // it would force a sort-merge SHUFFLE of the entire touched-file
    // read even for a 1000-row CDC source. Decomposed instead:
    //   joined  = tgt LEFT OUTER src         (matched + target-only;
    //             broadcastable build-right when the source is small)
    //   matched = key-only tgt scan SEMI srcKeys, ≤ |src| rows
    //             (column-pruned parquet read, broadcastable)
    //   inserts = src ANTI matched           (source-only rows;
    //             broadcastable — `matched` is small by construction)
    // With a small source AQE broadcasts all three and the target
    // data NEVER shuffles (the key-only scan is the only extra
    // pass); with a huge source each degrades to the same SMJ the
    // full-outer would have been. Semantics are identical: NULL
    // keys match nothing on either side, so they fall out of the
    // semi/anti exactly as out of the outer join.
    val skeys = keys.map("__s_" + _)
    val joined = tgt.join(srcP,
      keys.map(k => F.col("__t_" + k) === F.col("__s_" + k)).reduce(_ && _),
      "left_outer")
    val srcKeyset = srcP.select(skeys.map(F.col): _*).distinct()
    val matchedKeys = tgtRaw
      .select(keys.map(k => F.col(k).as("__s_" + k)): _*)
      .join(srcKeyset, skeys, "left_semi").distinct()
    val inserts = srcP.join(matchedKeys, skeys, "left_anti")
      .select(
        schema.fields.map(f =>
          F.lit(null).cast(f.dataType).as("__t_" + f.name)).toSeq ++
          hidden.map(f => F.lit(null).cast(f.dataType).as(f.name)) ++
          Seq(F.lit(null).cast("int").as("__t__p")) ++
          src.columns.map(c => F.col("__s_" + c)) :+
          F.col("__s__p"): _*)
    val unioned = joined.unionByName(inserts)
    // one integer action per row: first clause of the row's family
    // whose condition is TRUE (NULL counts as false, SQL semantics)
    val KEEP = 0
    val DROP = -1
    def chain(clauses: Seq[MergeClauseSpec], codeBase: Int,
        default: Int): Column =
      clauses.zipWithIndex.foldRight(F.lit(default): Column) {
        case ((c, i), els) =>
          val code = if (c.isDelete) DROP else codeBase + i
          c.condition match {
            case Some(cond) =>
              F.when(F.coalesce(cond, F.lit(false)), F.lit(code)).otherwise(els)
            case None => F.lit(code)
          }
      }
    val tP = F.col("__t__p").isNotNull
    val sP = F.col("__s__p").isNotNull
    val act = F.when(tP && sP, chain(matched, 1000, KEEP))
      .when(sP, chain(notMatched, 2000, DROP)) // source-only
      .otherwise(chain(notMatchedBySource, 3000, KEEP)) // target-only
    val actCol = F.col("__act")
    val outCols = schema.fields.toSeq.map { f =>
      val old = F.col("__t_" + f.name)
      var e: Column = old
      def overlay(clauses: Seq[MergeClauseSpec], codeBase: Int,
          insert: Boolean): Unit =
        clauses.zipWithIndex.foreach { case (c, i) =>
          if (!c.isDelete) {
            val v = c.assignments.collectFirst {
              case (n, vc) if n == f.name => vc
            }.getOrElse(if (insert) F.lit(null) else old)
            e = F.when(actCol === (codeBase + i), v).otherwise(e)
          }
        }
      overlay(matched, 1000, insert = false)
      overlay(notMatched, 2000, insert = true)
      overlay(notMatchedBySource, 3000, insert = false)
      e.cast(f.dataType).as(f.name)
    } ++ (if (carry) Seq(F.col(LakeTable.RowIdCol)) else Nil)
    if (!mor) {
      val kept = unioned.withColumn("__act", act).filter(actCol =!= DROP)
      RowLevelWrite(added = writeDataFiles(kept.select(outCols: _*), carryRowIds = carry),
        removed = touched, carried = carry)
    } else {
      // persist: position deletes AND new rows must come from ONE
      // evaluation of the joined frame
      val withAct = unioned.withColumn("__act", act).persist()
      try {
        // affected = anything not KEEPing its row as-is; target-backed
        // affected rows delete their old coordinates (source-only
        // inserts have NULL coordinates and none)
        val affected = withAct.filter(actCol =!= KEEP)
        writeRowDeletes(spark, affected.filter(F.col(LakeTable.PosFileCol).isNotNull),
          snap, touched.size).copy(
          added = writeDataFiles(affected.filter(actCol =!= DROP).select(outCols: _*),
            carryRowIds = carry),
          carried = carry)
      } finally withAct.unpersist(blocking = false)
    }
  }

  /** Merge-on-read output step: the (file, pos) coordinates of `rows`
    * become deletion vectors when `write.delete.vector.enabled` is set
    * (the v3 storage), positional parquet tombstones otherwise (the v2
    * default). Both kinds apply together at read, so flipping the
    * property mid-life is safe: deletes are monotone and the formats
    * union. Tombstones cluster by data-file path: a wide delete still
    * writes few, well-packed files, and per-file coordinates stay
    * contiguous for the read-side join. */
  private def writeRowDeletes(spark: SparkSession, rows: DataFrame,
      snap: Option[Snapshot], touchedFiles: Int): RowLevelWrite = {
    import org.apache.spark.sql.functions.col
    val coords = rows.select(col(LakeTable.PosFileCol).as("file_path"),
      col(LakeTable.PosIdxCol).as("pos"))
    if (meta.properties.get("write.delete.vector.enabled").contains("true"))
      RowLevelWrite(dvs = writeDeleteVectors(spark, coords, snap.toSeq.flatMap(_.dvFiles)))
    else {
      val clustered =
        coords.repartitionByRange(math.max(1, touchedFiles / 16), col("file_path"))
      RowLevelWrite(posDeletes = LakeWriter.write(clustered,
        s"$location/data/${UUID.randomUUID}", clustered.schema, Map.empty,
        EntryStats(LakeTable.DeleteFileSchema, Nil, LakeTable.DeleteFieldIds)))
    }
  }

  /** Turn matched row coordinates into DELETION VECTORS: one compressed
    * bitmap per touched data file, merged with the file's existing live
    * DV (the at-most-one-live-DV-per-file invariant), all packed into
    * ONE blob object for the commit — a million-row delete across 10k
    * files writes one object, not 10k row-granular tombstone files.
    * Bitmaps build DISTRIBUTED (executors see each file's coordinates
    * sorted within one partition) and only the COMPRESSED bytes
    * (~1 bit/row worst case) return to the driver, which merges and
    * writes the blob — the same funnel Iceberg's DV writers commit
    * through. Returns the manifest entries ([[LakeTable.dvEntry]]). */
  private def writeDeleteVectors(spark: SparkSession, coords: DataFrame,
      liveDvs: Seq[DataFileEntry]): Seq[DataFileEntry] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val perFile: Array[(String, Array[Byte])] = coords
      .repartition(col("file_path"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .as[(String, Long)]
      .mapPartitions { it =>
        // consecutive runs of one file → one DV, built streaming
        new Iterator[(String, Array[Byte])] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): (String, Array[Byte]) = {
            val path = buf.head._1
            val positions = new scala.collection.mutable.ArrayBuffer[Long]()
            while (buf.hasNext && buf.head._1 == path) positions += buf.next()._2
            (path, DeleteVector.fromSorted(positions.iterator).serialize)
          }
        }
      }.collect()
    if (perFile.isEmpty) Nil
    else {
      val newRefs = perFile.map(_._1).toSet
      // existing live DVs for the touched files: read each blob once,
      // keeping only refs whose entries still point at it
      val old: Map[String, DeleteVector] = liveDvs
        .filter(e => newRefs(LakeTable.dvRef(e)))
        .groupBy(_.path).toSeq.flatMap { case (blob, entries) =>
          val want = entries.map(LakeTable.dvRef).toSet
          DeleteVector.readBlob(DataFs.readBytes(blob))
            .filter { case (ref, _) => want(ref) }
        }.toMap
      val merged: Seq[(String, DeleteVector, Array[Byte])] = perFile.toSeq.map {
        case (ref, bytes) =>
          val dv0 = DeleteVector.deserialize(bytes)
          val dv = old.get(ref).map(dv0.union).getOrElse(dv0)
          val out = if (old.contains(ref)) dv.serialize else bytes
          (ref, dv, out)
      }
      val blobPath = s"$location/data/dv-${UUID.randomUUID}.gdv"
      DataFs.writeBytes(blobPath, DeleteVector.writeBlob(
        merged.map { case (ref, dv, _) => (ref, dv) }))
      merged.map { case (ref, dv, bytes) =>
        LakeTable.dvEntry(blobPath, ref, dv.cardinality, bytes.length.toLong)
      }
    }
  }


  /** Set / remove a table property (metadata-only commits). Properties
    * survive snapshot expiry; the write-mode family
    * (`write.{delete,update,merge}.mode` = copy-on-write |
    * merge-on-read) routes the SQL row-level commands. */
  def setProperty(key: String, value: String): LakeTable =
    metadataChange(l => l.copy(properties = l.properties + (key -> value)))

  /** CAS-guarded property transform — a metadata-only commit (no
    * snapshot). `f` re-runs against the winner's metadata on a lost
    * race and may throw [[CommitConflictException]] to abort; the
    * incremental view's empty-delta watermark advance rides here. */
  private[lake] def transformProperties(
      f: Map[String, String] => Map[String, String]): LakeTable =
    metadataChange(l => l.copy(properties = f(l.properties)))

  def removeProperty(key: String): LakeTable =
    metadataChange(l => l.copy(properties = l.properties - key))

  /** Row-level write mode for `op` ∈ {delete, update, merge}: Iceberg's
    * `write.<op>.mode` property; copy-on-write when unset. */
  def writeMode(op: String): String = {
    val m = meta.properties.getOrElse(s"write.$op.mode", "copy-on-write")
    require(m == "copy-on-write" || m == "merge-on-read",
      s"write.$op.mode of $name must be copy-on-write or merge-on-read, got '$m'")
    m
  }

  /** Full-table replace: write df as the new table contents in ONE
    * atomic commit (the SQL INSERT OVERWRITE path). The removed set is
    * whatever is live AT COMMIT TIME (a Replace request), not a pre-read
    * snapshot — otherwise a concurrent append racing the CAS would
    * survive inside a snapshot claiming to be a full replace. */
  def overwriteAll(df: DataFrame): CommitReport =
    commitSnapshot(Replace(writeDataFiles(df)))

  /** Incremental scan: rows in files added AFTER `fromSnapshotId`, up
    * to the current snapshot — the Iceberg incremental-append-scan
    * analog, the feed a downstream pipeline tails. On an append-only
    * table this is exactly the new rows; after a copy-on-write rewrite
    * the added files also carry surviving rows (file-level, not
    * row-level, change capture — same as Iceberg's append scan). */
  /** Per-commit CHANGELOG (Iceberg's create_changelog_view): every row
    * change between `fromSnapshotId` (EXCLUSIVE; 0 = from the beginning)
    * and `toSnapshotId` (inclusive, default current), stamped with
    * `_change_type` ('insert' | 'delete') and `_commit_snapshot_id`.
    * Unlike [[changesSince]] (net adds only), this emits DELETED ROWS
    * with their full pre-image, commit by commit:
    *
    *  - appended files → their rows as inserts (an append's own files
    *    cannot be pre-tombstoned: positional/DV tombstones address
    *    existing files, equality tombstones scope to strictly-older seq)
    *  - positional-tombstone delta (delete files this commit added) and
    *    DELETION-VECTOR delta (`current minus parent` bitmap — new DVs
    *    are supersets of what they replace) → the tombstoned rows
    *    fetched from the PARENT state by coordinates
    *  - equality-tombstone delta (MoR upsert) → parent-live rows
    *    matching the new tombstones' keys
    *  - copy-on-write removed files → their parent-live rows as
    *    deletes, with the rewritten survivors in the added files as
    *    inserts — FILE-granular gross changes, exactly Iceberg's
    *    changelog contract for overwrites (net_changes dedup is the
    *    consumer's fold)
    *  - `replace` commits (compaction, tombstone materialization,
    *    manifest rewrites) change no logical rows → skipped
    *
    * Refuses when a snapshot inside the range has been expired — a gap
    * would silently drop its changes. */
  def changelog(spark: SparkSession, fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val toId = toSnapshotId.getOrElse(meta.currentSnapshotId)
    require(toId != -1L, s"$name has no snapshots")
    if (fromSnapshotId != 0L) require(meta.snapshot(fromSnapshotId).isDefined,
      s"no snapshot $fromSnapshotId in $name (expired? changelog refuses gaps)")
    val chain = scala.collection.mutable.Buffer.empty[Snapshot]
    var cur: Option[Snapshot] = Some(meta.snapshot(toId).getOrElse(
      throw new NoSuchElementException(s"no snapshot $toId in $name")))
    while (cur.exists(_.id != fromSnapshotId)) {
      val c = cur.get
      chain += c
      cur = c.parentId match {
        case None =>
          require(fromSnapshotId == 0L,
            s"snapshot $fromSnapshotId is not an ancestor of $toId in $name")
          None
        case Some(pid) =>
          Some(meta.snapshot(pid).getOrElse(throw new IllegalStateException(
            s"snapshot $pid inside the changelog range of $name has been " +
              "expired; the feed would silently skip its changes")))
      }
    }
    unionChangelog(spark, chain.reverse.toSeq.flatMap(s => changelogOf(spark, s)))
  }

  private def unionChangelog(spark: SparkSession, parts: Seq[DataFrame]): DataFrame =
    parts.reduceOption(_.unionByName(_)).getOrElse {
      import org.apache.spark.sql.types.{LongType, StringType, StructField}
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(schema.fields ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_commit_snapshot_id", LongType, nullable = false))))
    }

  private def stampChange(df: DataFrame, tpe: String, s: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    df.select(schema.fieldNames.map(col): _*)
      .withColumn("_change_type", lit(tpe))
      .withColumn("_commit_snapshot_id", lit(s.id))
  }

  /** One commit's row changes (see [[changelog]]). */
  private def changelogOf(spark: SparkSession, s: Snapshot): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.col
    if (s.operation == "replace") return Nil
    val p = s.parentId.flatMap(meta.snapshot)
    val pFiles = p.map(_.files).getOrElse(Nil)
    val pPaths = pFiles.map(_.path).toSet
    val sPaths = s.files.map(_.path).toSet
    val addedFiles = s.files.filterNot(f => pPaths(f.path))
    val removedFiles = pFiles.filterNot(f => sPaths(f.path))
    val inserts =
      if (addedFiles.isEmpty) Nil
      else Seq(stampChange(readFiles(spark, addedFiles), "insert", s))

    val deletes = scala.collection.mutable.Buffer.empty[DataFrame]
    // copy-on-write: removed files' parent-live rows (tombstones as of
    // the parent apply — already-deleted rows are not re-deleted)
    if (removedFiles.nonEmpty)
      deletes += stampChange(readLive(spark, removedFiles, p), "delete", s)

    // positional-tombstone delta: the delete files this commit added
    val pPos = p.map(_.deleteFiles.map(_.path).toSet).getOrElse(Set.empty[String])
    val newPos = s.deleteFiles.filterNot(e => pPos(e.path))
    if (newPos.nonEmpty) {
      val referenced = LakeTable.narrowDataToDeletes(pFiles, newPos)
      val coords = ManifestFileIndex.read(spark, newPos, LakeTable.DeleteFileSchema)
      deletes += stampChange(
        readFilesWithPos(spark, referenced).join(gateBroadcast(coords, newPos),
          col(LakeTable.PosFileCol) === col("file_path") &&
            col(LakeTable.PosIdxCol) === col("pos"), "left_semi"),
        "delete", s)
    }

    // deletion-vector delta: current minus parent, per referenced file
    val pDvs: Map[String, DataFileEntry] =
      p.map(_.dvFiles.map(e => LakeTable.dvRef(e) -> e).toMap).getOrElse(Map.empty)
    val changedDvs = s.dvFiles.filter(e =>
      !pDvs.get(LakeTable.dvRef(e)).map(_.path).contains(e.path))
    if (changedDvs.nonEmpty) {
      def load(entries: Seq[DataFileEntry]): Map[String, DeleteVector] = entries
        .groupBy(_.path).toSeq.flatMap { case (blob, es) =>
          val want = es.map(LakeTable.dvRef).toSet
          DeleteVector.readBlob(DataFs.readBytes(blob))
            .filter { case (ref, _) => want(ref) }
        }.toMap
      val now = load(changedDvs)
      val before = load(changedDvs.flatMap(e => pDvs.get(LakeTable.dvRef(e))))
      val delta = new java.util.HashMap[String, DeleteVector]()
      now.foreach { case (ref, dv) =>
        delta.put(ref, before.get(ref).map(dv.minus).getOrElse(dv))
      }
      val bc = spark.sparkContext.broadcast(delta)
      val referenced = pFiles.filter(f =>
        now.contains(LakeTable.readerPath(f.path)))
      deletes += stampChange(
        readFilesWithPos(spark, referenced).filter(graft.functions.DvContains
          .column(col(LakeTable.PosFileCol), col(LakeTable.PosIdxCol), bc)),
        "delete", s)
    }

    // equality-tombstone delta (MoR upsert): parent-live rows matching
    // the new tombstones' keys (a tombstone at this commit's seq scopes
    // every parent file — all strictly older)
    val pEq = p.map(_.eqDeleteFiles.map(_.path).toSet).getOrElse(Set.empty[String])
    val newEq = s.eqDeleteFiles.filterNot(e => pEq(e.path))
    if (newEq.nonEmpty && pFiles.nonEmpty) {
      val idToName = meta.fieldIds.map(_.swap)
      val idSchema = meta.schemaWithFieldIds
      newEq.groupBy(_.eqFieldIds).foreach { case (ids, entries) =>
        val names = ids.map(id => idToName.getOrElse(id,
          throw new IllegalStateException(
            s"changelog of $name: snapshot ${s.id} committed equality " +
              s"tombstones keyed on field id $id, whose column was since " +
              "DROPPED — that commit's deletes cannot be reconstructed; " +
              s"start the changelog range after snapshot ${s.id}")))
        val reqSchema = StructType(names.map(n => idSchema(idSchema.fieldIndex(n))))
        val session = org.apache.spark.sql.graftbridge.SessionBridge
          .sessionWithConfs(spark, Map("spark.sql.parquet.fieldId.read.enabled" -> "true"))
        val keys = ManifestFileIndex.read(session, entries, reqSchema)
          .select(names.map(n => col(n).as(s"__cl_$n")): _*)
        val parentLive = readLive(spark, pFiles, p)
        // === (not null-safe <=>) to MIRROR applyEqDeletes: a null-keyed
        // tombstone — representable in the format though mergeIntoMoR
        // never writes one — deletes nothing on reads, so the changelog
        // must not report it as a delete either
        val cond = names.map(n => parentLive(n) === keys(s"__cl_$n")).reduce(_ && _)
        deletes += stampChange(
          parentLive.join(gateBroadcast(keys, entries), cond, "left_semi"),
          "delete", s)
      }
    }
    inserts ++ deletes.toSeq
  }

  def changesSince(spark: SparkSession, fromSnapshotId: Long): DataFrame = {
    val from = meta.snapshot(fromSnapshotId).getOrElse(
      throw new NoSuchElementException(s"no snapshot $fromSnapshotId in $name"))
    val before = from.files.map(_.path).toSet
    val added = meta.currentFiles.filterNot(f => before(f.path))
    if (added.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    // current tombstones apply to the changed files too: the feed must
    // not deliver rows a later MoR delete already removed
    else readLive(spark, added, meta.currentSnapshot)
  }

  // ---- Named refs (Iceberg branch/tag): tags pin history immutably,
  // branches take append commits off the main lineage, fastForward
  // publishes an audited branch — the write-audit-publish pattern ----

  def refs: Map[String, TableRef] = meta.refs

  /** Create an immutable TAG at a snapshot (Iceberg create_tag).
    * Metadata-only; expiry keeps tagged snapshots while the tag lives —
    * `maxRefAgeMs` (or the `history.expire.max-ref-age-ms` property)
    * bounds that lifetime so stale tags stop pinning history. */
  def createTag(refName: String, snapshotId: Long,
      maxRefAgeMs: Option[Long] = None): LakeTable =
    createRef(refName, TableRef.Tag, snapshotId, maxRefAgeMs)

  /** Create a BRANCH whose head starts at `fromSnapshotId` (default:
    * the current snapshot). [[appendDataToBranch]] advances it; main
    * never sees branch commits until [[fastForward]]. */
  def createBranch(refName: String, fromSnapshotId: Long = -1L,
      maxRefAgeMs: Option[Long] = None): LakeTable = {
    val from = if (fromSnapshotId >= 0) fromSnapshotId else currentSnapshotId
    createRef(refName, TableRef.Branch, from, maxRefAgeMs)
  }

  private def createRef(refName: String, kind: String, snapshotId: Long,
      maxRefAgeMs: Option[Long] = None): LakeTable =
    metadataChange { latest =>
      require(refName.nonEmpty && refName != "main",
        s"'$refName' is not a legal ref name")
      require(!latest.refs.contains(refName),
        s"ref '$refName' already exists on $name")
      require(latest.snapshot(snapshotId).isDefined,
        s"no snapshot $snapshotId in $name")
      require(maxRefAgeMs.forall(_ > 0L), "maxRefAgeMs must be positive")
      latest.copy(refs = latest.refs + (refName -> TableRef(kind, snapshotId,
        createdAtMs = System.currentTimeMillis(), maxRefAgeMs = maxRefAgeMs)))
    }

  /** Drop a tag or branch. The snapshots it protected become ordinary
    * history (expirable). Branch-only snapshots that main never
    * fast-forwarded to are left for expiry + the orphan sweep. */
  def dropRef(refName: String): LakeTable = metadataChange { latest =>
    require(latest.refs.contains(refName), s"no ref '$refName' on $name")
    latest.copy(refs = latest.refs - refName)
  }

  /** Append onto a BRANCH: same data-file write + CAS commit as a main
    * append, but the new snapshot parents from (and advances) the
    * branch head — main's lineage is untouched. Racing branch appends
    * serialize through the same CAS retry as everything else. */
  def appendDataToBranch(branch: String, df: DataFrame,
      numFiles: Int = 0): CommitReport = {
    // fail a mistyped branch name in milliseconds, BEFORE the write
    // job: the CAS transform would catch it too, but only after
    // materializing the whole dataset as orphans (the commit re-checks
    // inside the CAS regardless — this is an early exit, not the guard).
    // refresh() first: a branch another writer created since this
    // handle's last refresh must not be rejected here when the CAS
    // commit (which always re-reads) would have accepted it.
    refresh()
    val ref = meta.refs.getOrElse(branch, throw new NoSuchElementException(
      s"no branch '$branch' on $name"))
    require(ref.kind == TableRef.Branch,
      s"ref '$branch' of $name is a ${ref.kind}; only branches accept commits")
    val added = writeDataFiles(df, numFiles)
    commitSnapshot(Append(added, Branch(branch)))
  }

  /** Stage an append WITHOUT moving any pointer (Iceberg's `wap.id`
    * flow, the other half of write-audit-publish): the snapshot lands
    * in the log — parented on the current head, summary stamped
    * `wap.id` — but stays invisible to every reader until
    * [[cherrypick]] publishes it. The auditor finds it through the
    * `snapshots` metadata table (summary) or the returned report and
    * reads it with `VERSION AS OF <id>`. A duplicate wap.id refuses
    * inside the CAS (an orchestrator retry must not stage twice).
    * Unpublished staged snapshots are ordinary history for expiry —
    * abandon one by simply never cherry-picking it. */
  def stageAppend(df: DataFrame, wapId: String, numFiles: Int = 0): CommitReport = {
    require(wapId.trim.nonEmpty, "wap.id must be non-empty")
    val added = writeDataFiles(df, numFiles)
    commitSnapshot(Append(added, Staged(wapId.trim)))
  }

  /** Publish a staged snapshot: make it current — fast-forward-only
    * (its parent must BE the current head, so publishing never
    * discards or reorders commits; Iceberg's cherrypick replays the
    * general case, this implements the WAP-pipeline shape where audits
    * publish in commit order). Metadata-only CAS commit. */
  def cherrypick(snapshotId: Long): LakeTable = metadataChange { latest =>
    val s = latest.snapshot(snapshotId).getOrElse(throw new NoSuchElementException(
      s"no snapshot $snapshotId in $name (expired or never committed)"))
    require(latest.currentSnapshotId != snapshotId,
      s"snapshot $snapshotId of $name is already current")
    require(s.parentId.forall(_ == latest.currentSnapshotId) &&
      (s.parentId.nonEmpty || latest.currentSnapshotId < 0L),
      s"cannot cherry-pick snapshot $snapshotId of $name: its parent is " +
        s"${s.parentId.getOrElse(-1L)} but the current head is " +
        s"${latest.currentSnapshotId} — only a snapshot staged on the " +
        "current head publishes (fast-forward-only)")
    latest.copy(currentSnapshotId = snapshotId)
  }

  /** Scan a ref by name: a tag or branch head, or "main" for the
    * current snapshot — the `VERSION AS OF 'name'` resolution. */
  def scanRef(refName: String,
      pred: LakePredicate = LakePredicate.AlwaysTrue): LakeScan =
    if (refName == "main") newScan(pred)
    else {
      val ref = meta.refs.getOrElse(refName,
        throw new NoSuchElementException(s"no ref '$refName' on $name"))
      asOf(ref.snapshotId, pred)
    }

  /** Publish a branch: make main's current snapshot the branch head —
    * ONLY when main is an ancestor of that head (nothing committed to
    * main since the branch forked), so publishing never discards main
    * commits; otherwise refuse and let the caller reconcile (Iceberg's
    * fast_forward contract). The branch ref survives, pointing at the
    * same head; drop it or keep staging onto it. */
  def fastForward(branch: String): LakeTable = metadataChange { latest =>
    val ref = latest.refs.getOrElse(branch,
      throw new NoSuchElementException(s"no branch '$branch' on $name"))
    require(ref.kind == TableRef.Branch, s"ref '$branch' is a ${ref.kind}")
    val ancestors = Iterator.iterate(latest.snapshot(ref.snapshotId))(
      _.flatMap(_.parentId).flatMap(latest.snapshot))
      .takeWhile(_.isDefined).flatten.map(_.id).toSet
    require(latest.currentSnapshotId < 0L || ancestors(latest.currentSnapshotId),
      s"cannot fast-forward $name to branch '$branch': main has commits " +
        "the branch does not contain")
    latest.copy(currentSnapshotId = ref.snapshotId)
  }

  /** Recovery: make an EXISTING snapshot current again — Iceberg's
    * `rollback_to_snapshot` procedure / `manageSnapshots()
    * .setCurrentSnapshot`. A metadata-only CAS commit: nothing is
    * deleted and no file moves. The rolled-past snapshots stay in the
    * log (still time-travelable, their files still referenced) until
    * [[expireSnapshots]] retires them and [[removeOrphanFiles]]
    * reclaims their unique files; commits after the rollback parent
    * from the restored snapshot, so the abandoned lineage simply never
    * becomes current again. Fresh snapshot ids keep increasing past the
    * abandoned ones (ids are allocated max+1 over the whole log), so
    * data sequence numbers stay monotonic for equality-delete scoping. */
  def rollbackTo(snapshotId: Long): LakeTable = metadataChange { latest =>
    require(latest.snapshot(snapshotId).isDefined,
      s"no snapshot $snapshotId in $name (cannot roll back to an expired " +
        "or never-committed snapshot)")
    latest.copy(currentSnapshotId = snapshotId)
  }

  /** Maintenance: drop all but the last `keepLast` snapshots from the
    * log (metadata-only; the current snapshot always survives). Returns
    * the ids expired. Expired snapshots are no longer time-travelable. */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    // memoize the sorted keep-set per metadata instance: the callback
    // runs once per snapshot (and re-runs per CAS retry) — re-sorting
    // the whole log inside it made a 10k-snapshot expiry O(n² log n)
    var memoFor: TableMetadata = null
    var memo: Set[Long] = Set.empty
    expireWhere { (latest, snap) =>
      if (memoFor ne latest) {
        memo = latest.snapshots.sortBy(_.id).takeRight(keepLast).map(_.id).toSet
        memoFor = latest
      }
      memo(snap.id)
    }
  }

  /** Shared expiry commit: drop snapshots failing `keep`; the current
    * snapshot AND every LIVE ref target (tag pins, branch heads) always
    * survive — an expired tag would silently break its readers, an
    * expired branch head its next commit. Ref RETENTION runs first,
    * in the same CAS transform (Iceberg's max-ref-age): a ref older
    * than its `maxRefAgeMs` — or the table's
    * `history.expire.max-ref-age-ms` default when it has none — is
    * dropped, and the snapshots only it pinned expire in this same
    * pass. Pre-retention refs (createdAtMs 0) never age out. Returns
    * the expired snapshot ids. */
  private def expireWhere(keep: (TableMetadata, Snapshot) => Boolean): Seq[Long] = {
    var expired: Seq[Long] = Nil
    val (next, v, _) = catalog.commit(namespace, shortName) { latest =>
      val now = System.currentTimeMillis()
      val defaultAge = latest.properties.get("history.expire.max-ref-age-ms")
        .map(_.toLong)
      val liveRefs = latest.refs.filterNot { case (_, r) =>
        r.createdAtMs > 0L && {
          // age from the LATER of ref creation and the head snapshot's
          // commit time: an ACTIVELY advancing branch never ages out
          // (aging from the frozen creation time would expire a branch
          // receiving daily commits and silently drop its staged work —
          // Iceberg keeps active refs alive the same way); an idle
          // ref's clock runs from its last activity
          val basis = math.max(r.createdAtMs,
            latest.snapshot(r.snapshotId).map(_.timestampMs).getOrElse(0L))
          r.maxRefAgeMs.orElse(defaultAge).exists(age => now - basis > age)
        }
      }
      val pinned = liveRefs.values.map(_.snapshotId).toSet
      val kept = latest.snapshots.filter(snap =>
        snap.id == latest.currentSnapshotId || pinned(snap.id) ||
          keep(latest, snap))
      expired = latest.snapshots.map(_.id).diff(kept.map(_.id))
      // stats files ride their snapshot: an expired snapshot's ANALYZE
      // doc is dereferenced here and reclaimed by the orphan sweep
      val keptIds = kept.map(_.id).toSet
      latest.copy(snapshots = kept, refs = liveRefs,
        statsFiles = latest.statsFiles.filter(sf => keptIds(sf.snapshotId)),
        partitionStats = latest.partitionStats.filter(sf => keptIds(sf.snapshotId)))
    }
    meta = next
    version = v
    expired
  }

  /** Maintenance: drop snapshots committed before `cutoffMs` (the
    * Iceberg expireSnapshots(olderThan) form). The current snapshot
    * always survives whatever its age. Returns the ids expired. */
  def expireSnapshotsOlderThan(cutoffMs: Long): Seq[Long] =
    expireWhere((_, snap) => snap.timestampMs >= cutoffMs)

  /** Maintenance: delete data files under this table's location that no
    * surviving snapshot references (orphans from expired snapshots or
    * failed writes). Returns the paths removed. Run AFTER
    * [[expireSnapshots]]; never touches referenced files.
    *
    * Re-reads the LATEST metadata first (a stale handle must not treat
    * a concurrent writer's committed files as orphans), and skips files
    * newer than `olderThanMillis` so in-flight, not-yet-committed
    * writes survive — Iceberg's olderThan cutoff; 0 (the default) only
    * makes sense single-writer. */
  def removeOrphanFiles(olderThanMillis: Long = 0L): Seq[String] = {
    refresh()
    // manifest paths carry a scheme (file:/...) from Hadoop FileStatus;
    // the walker yields scheme-less local paths — compare URI paths or
    // EVERYTHING looks orphaned (MaintenanceSpec caught exactly that)
    def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath
    // delete files live under data/ as parquet too — a surviving
    // snapshot's tombstones are as referenced as its data
    val referenced = meta.snapshots
      .flatMap(s => (s.files ++ s.deleteFiles ++ s.eqDeleteFiles ++ s.dvFiles)
        .map(f => norm(f.path))).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val removed = scala.collection.mutable.Buffer.empty[String]
    // Hadoop FileSystem walk: one code path for plain, file:// and
    // object-store warehouses (mtime comes from the store's own listing)
    val listing = DataFs.listFilesRecursive(LakePath(location).resolve("data"))
    listing.foreach {
      case (p, mtimeMs) =>
        if ((p.endsWith(".parquet") || p.endsWith(".gdv")) &&
          !referenced(norm(p)) && mtimeMs <= cutoff) {
          DataFs.delete(p)
          removed += p
        }
    }
    // Spark write markers (_SUCCESS, left by writes made through Spark's
    // file committer before the lake writer) and their per-write UUID dirs:
    // once a dir's last parquet is swept (or the write never committed)
    // the marker and the empty dir are unbounded small-object debris on
    // a heavy-churn table. A marker goes when NO live file shares its
    // directory; empty dirs sweep best-effort after (object stores have
    // no real dirs — deleteTree on a prefix with content is refused by
    // the liveDirs check).
    val liveDirs = referenced.map(p => p.substring(0, p.lastIndexOf('/')))
    listing.foreach {
      case (p, mtimeMs) =>
        if (p.endsWith("/_SUCCESS") && mtimeMs <= cutoff &&
          !liveDirs(norm(p).stripSuffix("/_SUCCESS"))) {
          DataFs.delete(p)
          removed += p
        }
    }
    DataFs.deleteEmptyDirs(LakePath(location).resolve("data"), cutoff)
    // manifest documents no surviving snapshot references (left behind by
    // expireSnapshots, lost CAS races, failed CoW attempts). No cutoff
    // filter is needed for CONCURRENT writers' in-flight manifests: a
    // not-yet-committed manifest only becomes referenced by the CAS, and
    // refresh() above pinned a log that either includes that commit or
    // predates it — but an in-flight one written between refresh and this
    // sweep WOULD look orphaned, so the age cutoff applies here too.
    // Manifest docs carry no FS mtime under non-FS backends: there a
    // cutoff-guarded (concurrent-writer) sweep skips them entirely —
    // conservative, never deletes a possibly-in-flight manifest.
    val md = catalog.metadataDir(namespace, shortName)
    val liveDocs = meta.snapshots.flatMap(s =>
      s.manifestList +: s.manifests.map(_.name)).toSet ++
      meta.statsFiles.map(_.name) ++ meta.partitionStats.map(_.name)
    // ONE recursive listing supplies every candidate's mtime (same
    // batching as the data-side walk above) — a per-candidate mtime
    // call was the last O(files) round-trip pattern in the sweep, and
    // round trips are what hurt against an object store
    val mdMtimes: Map[String, Long] =
      scala.util.Try(DataFs.listFilesRecursive(md).map { case (p, t) =>
        new org.apache.hadoop.fs.Path(p).getName -> t
      }.toMap).getOrElse(Map.empty)
    catalog.backend.listChildren(md)
      .filter(n => (n.startsWith("manifest-") || n.startsWith("snaplist-") ||
        n.startsWith("stats-") || // dereferenced ANALYZE docs
        n.startsWith(".tmp-")) && // crash-stranded write-then-publish temps
        n.endsWith(".json") && !liveDocs(n))
      .filter { n =>
        mdMtimes.get(n) match {
          case Some(m) => m <= cutoff
          case None => olderThanMillis == 0L // no mtime: only the single-writer sweep
        }
      }
      .foreach { n =>
        catalog.deleteMetaDoc(md, n)
        removed += md.resolve(n).toString
      }
    removed.toSeq
  }

  /** Lands `req` through the [[SnapshotProducer]] and reports it. */
  private[lake] def commitSnapshot(req: CommitRequest): CommitReport =
    produceCommit(_ => Some(req)).get

  /** The commit step every snapshot shares: `request` picks what to
    * land from the latest metadata (None: commit nothing), the producer
    * lands it inside the CAS — re-run against the winner's metadata on
    * a lost race — and the landed commit is reported. */
  private def produceCommit(
      request: TableMetadata => Option[CommitRequest]): Option[CommitReport] = {
    val t0 = System.nanoTime()
    val producer = new SnapshotProducer(catalog, catalog.metadataDir(namespace, shortName))
    var landed: Option[(CommitRequest, Snapshot)] = None
    val (next, v, attempts) = catalog.commit(namespace, shortName) { latest =>
      landed = None
      request(latest).fold(latest) { r =>
        val (m, snap) = producer.produce(latest, r)
        landed = Some(r -> snap)
        m
      }
    }
    meta = next
    version = v
    landed.map { case (req, snap) =>
      val report = producer.report(name, req, snap, attempts, t0)
      catalog.reporter.report(report)
      report
    }
  }
}

object LakeTable {
  /** What one row-level statement commits. */
  private[lake] final case class RowLevelWrite(
      added: Seq[DataFileEntry] = Nil,
      removed: Seq[DataFileEntry] = Nil,
      posDeletes: Seq[DataFileEntry] = Nil,
      eqDeletes: Seq[DataFileEntry] = Nil,
      dvs: Seq[DataFileEntry] = Nil,
      carried: Boolean = false)

  /** One snapshot-producing commit, as [[SnapshotProducer.produce]]
    * lands it (Iceberg's AppendFiles / RowDelta / RewriteFiles /
    * OverwriteFiles family). Each kind carries only the inputs its
    * commits set, so an illegal combination — a branch replace, a
    * staged row delta, a compaction that adds tombstones — cannot be
    * written. */
  private[lake] sealed trait CommitRequest {
    /** The snapshot operation recorded. */
    def op: String
    /** The data files added and retired, and the tombstones added. */
    def write: RowLevelWrite
    /** The branch whose head the commit parents from and advances. */
    def branch: Option[String] = None
    /** The (sinkId, batchId) ledger entry to check and record. */
    def exactlyOnce: Option[(String, Long)] = None
    /** Keys stamped into the summary; the computed counts win. */
    def summary: Map[String, String] = Map.empty
    /** Runs on the committed result INSIDE the CAS — against the
      * winner's metadata on every retry, so it must be pure and may
      * throw [[CommitConflictException]]. */
    def transform: TableMetadata => TableMetadata = identity
  }

  private[lake] object CommitRequest {
    /** Where an append lands. `Staged` (the wap.id flow) puts the
      * snapshot in the log with the current head as parent but moves
      * NO pointer — invisible to every reader until
      * [[LakeTable.cherrypick]] publishes it. */
    sealed trait Target
    case object Main extends Target
    final case class Branch(name: String) extends Target
    final case class Staged(wapId: String) extends Target

    /** New data files. `extraSummary` keys ride into the summary. */
    final case class Append(added: Seq[DataFileEntry], target: Target = Main,
        override val exactlyOnce: Option[(String, Long)] = None,
        extraSummary: Map[String, String] = Map.empty,
        override val transform: TableMetadata => TableMetadata = identity)
        extends CommitRequest {
      def op: String = "append"
      def write: RowLevelWrite = RowLevelWrite(added = added)
      override def branch: Option[String] =
        target match { case Branch(b) => Some(b); case _ => None }
      override def summary: Map[String, String] =
        target match { case Staged(id) => extraSummary + ("wap.id" -> id); case _ => extraSummary }
    }

    /** A row-level statement's output. `validateAddedSince` = (base,
      * pred) upgrades it from snapshot isolation to serializable: files
      * added, or tombstones committed, since `base` that may match
      * `pred` fail the commit. */
    final case class RowDelta(op: String, write: RowLevelWrite,
        validateAddedSince: Option[(Long, LakePredicate)] = None,
        override val branch: Option[String] = None,
        override val exactlyOnce: Option[(String, Long)] = None) extends CommitRequest

    /** The compaction family and the view refresh: `removed` rewritten
      * as `added` on main. `noNewDeletesSince` fails the commit when a
      * delete file landed after that base; `dropDeletes` retires every
      * delete manifest (the rewrite materialized them);
      * `lineageCarried` says the rewrite materialized _row_id. */
    final case class Rewrite(added: Seq[DataFileEntry], removed: Seq[DataFileEntry],
        noNewDeletesSince: Option[Long], dropDeletes: Boolean = false,
        lineageCarried: Boolean = false,
        override val transform: TableMetadata => TableMetadata = identity)
        extends CommitRequest {
      def op: String = "replace"
      def write: RowLevelWrite = RowLevelWrite(added, removed, carried = lineageCarried)
    }

    /** `added` becomes the whole of main: whatever is live AT COMMIT
      * TIME is removed. An RTAS passes the replacement definition as
      * `template` (its field ids key the entries' stats) and records
      * `replace`; INSERT OVERWRITE records `overwrite`. */
    final case class Replace(added: Seq[DataFileEntry],
        template: Option[TableMetadata] = None) extends CommitRequest {
      def op: String = if (template.isEmpty) "overwrite" else "replace"
      def write: RowLevelWrite = RowLevelWrite(added = added)
    }

    /** Metadata-only: main's data manifests regroup into documents of
      * at most `targetEntries` entries; no data file changes. */
    final case class ManifestRewrite(targetEntries: Int) extends CommitRequest {
      def op: String = "replace"
      def write: RowLevelWrite = RowLevelWrite()
    }
  }

  /** Thrown inside the commit transform when an exactly-once commit
    * discovers its batch already landed; callers translate it to a
    * no-op. */
  private[lake] final class BatchAlreadyCommitted extends RuntimeException

  /** The lossless type promotions (Iceberg's schema-evolution set,
    * restricted to what Spark's parquet reader widens natively):
    * integral → strictly wider integral, float → double. */
  private[lake] def losslessWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(t: DataType): Int = t match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case _ => -1
    }
    (from, to) match {
      case (FloatType, DoubleType) => true
      case (a, b) if rank(a) > 0 && rank(b) > 0 => rank(a) < rank(b)
      case _ => false
    }
  }

  /** The write-time schema for a struct-carrying table: field-ID
    * metadata from `ids` (recursively), nullability from the actual
    * `data` — the lake writer encodes the rows under it, so the
    * claimed schema must not be stricter than the rows it describes. */
  private[lake] def writeSchema(data: StructType, ids: StructType): StructType =
    StructType(ids.fields.zip(data.fields).map { case (idF, dF) =>
      val dt = (idF.dataType, dF.dataType) match {
        case (i: StructType, d: StructType) => writeSchema(d, i)
        case _ => idF.dataType
      }
      idF.copy(dataType = dt, nullable = dF.nullable)
    })

  /** The ID-claiming paths of a field added at `path`: the path itself
    * plus, for a struct type, every nested path inside it. */
  private[lake] def pathsOf(path: String,
      dt: org.apache.spark.sql.types.DataType): Seq[String] =
    path +: TableMetadata.nestedPaths(dt, path)

  /** The struct type at a dotted path's parent segments — None when any
    * segment is missing or not addressable. Empty path = the schema
    * root. Collections navigate through the Iceberg markers: `element`
    * descends an array's element type, `value` a map's value type (map
    * KEYS are identity — never addressable). The markers only apply
    * when the current type IS a collection, so real fields named
    * "element"/"value" keep addressing normally. */
  private[lake] def structAt(st: StructType,
      path: Seq[String]): Option[StructType] = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    def descend(dt: DataType, segs: Seq[String]): Option[DataType] = segs match {
      case Seq() => Some(dt)
      case seg +: rest => dt match {
        case s: StructType =>
          s.fields.find(_.name == seg).map(_.dataType).flatMap(descend(_, rest))
        case a: ArrayType if seg == "element" => descend(a.elementType, rest)
        case m: MapType if seg == "value" => descend(m.valueType, rest)
        case _ => None
      }
    }
    descend(st, path) match {
      case Some(s: StructType) => Some(s)
      case _ => None
    }
  }

  /** Rewrite the struct at `path` (root when empty) through `f`,
    * preserving everything else — same path language as [[structAt]]. */
  private[lake] def mapStructAt(st: StructType, path: Seq[String])(
      f: StructType => StructType): StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    def rewrite(dt: DataType, segs: Seq[String]): DataType = segs match {
      case Seq() => dt match {
        case s: StructType => f(s)
        case other => throw new IllegalArgumentException(
          s"${other.simpleString} is not a struct")
      }
      case seg +: rest => dt match {
        case s: StructType =>
          require(s.fieldNames.contains(seg), s"$seg is not a field")
          StructType(s.fields.map(fld =>
            if (fld.name != seg) fld
            else fld.copy(dataType = rewrite(fld.dataType, rest))))
        case a: ArrayType if seg == "element" =>
          a.copy(elementType = rewrite(a.elementType, rest))
        case m: MapType if seg == "value" =>
          m.copy(valueType = rewrite(m.valueType, rest))
        case other => throw new IllegalArgumentException(
          s"$seg is ${other.simpleString}, not addressable")
      }
    }
    rewrite(st, path).asInstanceOf[StructType]
  }

  /** The type a dotted path addresses under [[structAt]]'s path
    * language — None when any segment fails to resolve. */
  private[lake] def typeAt(st: StructType,
      path: Seq[String]): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    def descend(dt: DataType, segs: Seq[String]): Option[DataType] = segs match {
      case Seq() => Some(dt)
      case seg +: rest => dt match {
        case s: StructType =>
          s.fields.find(_.name == seg).map(_.dataType).flatMap(descend(_, rest))
        case a: ArrayType if seg == "element" => descend(a.elementType, rest)
        case m: MapType if seg == "value" => descend(m.valueType, rest)
        case _ => None
      }
    }
    descend(st, path)
  }

  /** The BARE (non-struct) collection-leaf type a dotted path addresses
    * — Some only when the final segment is an array's `element` or a
    * map's `value` marker naming an atomic type. Struct-typed leaves
    * evolve field-by-field through the struct paths instead; map KEYS
    * are identity and never addressable. */
  private[lake] def collectionLeafAt(st: StructType,
      path: String): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType => ST}
    val segs = path.split('.').toSeq
    if (segs.size < 2) None
    else typeAt(st, segs.init).collect {
      case a: ArrayType if segs.last == "element" &&
        !a.elementType.isInstanceOf[ST] => a.elementType
      case m: MapType if segs.last == "value" &&
        !m.valueType.isInstanceOf[ST] => m.valueType
    }
  }

  /** Replace the bare collection-leaf type a path addresses (the
    * [[collectionLeafAt]] shape) with `to`, preserving containers,
    * nullability, and everything else. */
  private[lake] def mapCollectionLeafAt(st: StructType, path: Seq[String],
      to: org.apache.spark.sql.types.DataType): StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    def rewrite(dt: DataType, segs: Seq[String]): DataType = (dt, segs) match {
      case (a: ArrayType, Seq("element")) => a.copy(elementType = to)
      case (m: MapType, Seq("value")) => m.copy(valueType = to)
      case (s: StructType, seg +: rest) =>
        require(s.fieldNames.contains(seg), s"$seg is not a field")
        StructType(s.fields.map(f =>
          if (f.name != seg) f else f.copy(dataType = rewrite(f.dataType, rest))))
      case (a: ArrayType, "element" +: rest) =>
        a.copy(elementType = rewrite(a.elementType, rest))
      case (m: MapType, "value" +: rest) =>
        m.copy(valueType = rewrite(m.valueType, rest))
      case (other, seg) => throw new IllegalArgumentException(
        s"${seg.mkString(".")} does not address a collection leaf in ${other.simpleString}")
    }
    rewrite(st, path).asInstanceOf[StructType]
  }

  /** Move a path's field-ID entry — and every descendant path's — from
    * `from` to `to`, keeping the IDs (rename is metadata-only). */
  private[lake] def renamePaths(fieldIds: Map[String, Int], from: String,
      to: String): Map[String, Int] =
    fieldIds.map { case (k, v) =>
      if (k == from) to -> v
      else if (k.startsWith(from + ".")) (to + k.stripPrefix(from)) -> v
      else k -> v
    }

  /** Legacy table property that held [[LakeTable.analyzeColumns]]'s
    * output before round-11's per-snapshot stats files; still READ as
    * a fallback so pre-existing tables keep serving stats. */
  val ColStatsProperty = "graft.colstats"

  /** The snapshot an analyze blob was computed at (its stamp). */
  def parseColStatsSnapshot(json: String): Option[Long] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    Option(root.get("snapshotId")).map(_.asLong)
  }

  /** Parsed column statistics from the analyze property: column →
    * (ndv, nulls, avgLen, maxLen) — lengths only for strings. */
  def parseColStats(
      json: String): Map[String, (Long, Long, Option[Long], Option[Long])] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val cols = root.get("cols")
    cols.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (v.get("ndv").asLong, v.get("nulls").asLong,
        Option(v.get("avgLen")).map(_.asLong),
        Option(v.get("maxLen")).map(_.asLong))
    }.toMap
  }

  /** Positional-delete file schema (Iceberg's position-delete layout):
    * the coordinates of tombstoned rows — fully-qualified file path as
    * the parquet reader reports it, and the row's physical index. */
  private[lake] val DeleteFileSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))
  /** Temp column names for the MoR anti-joins (stripped before return). */
  /** Table property set by a rewrite-shaped commit (files removed AND
    * re-added) that could NOT materialize `_row_id` carry-through —
    * pre-lineage files in the rewritten set, or a caller-provided flag
    * transform that dropped the id column. Surviving rows were
    * re-assigned fresh firstRowIds, so stable-id reads must refuse
    * (see LakeScan.rowLineage). Rewrites that DID carry (the default
    * since round 14) never set it. */
  private[lake] val RowLineageBrokenProp = "row-lineage.broken"

  /** Materialized row-lineage column written into REWRITTEN data files
    * (the Iceberg v3 `_row_id` carry-through): compaction and
    * copy-on-write row-level ops persist each surviving row's stable id
    * as a real parquet column, so lineage survives table maintenance.
    * Freshly APPENDED files never carry it (their ids derive as
    * firstRowId + row position); readers take
    * `coalesce(materialized, firstRowId + pos)` per row — which also
    * covers MERGE-inserted rows written into a carried file (NULL cell,
    * id from the file's own commit-assigned range). */
  private[lake] val RowIdCol = "_row_id"

  /** Engine-reserved parquet field id for [[RowIdCol]] — top of the
    * int32 space, outside sequential user field-id allocation, so a
    * schema evolution can never collide with it. */
  private[lake] val RowIdFieldId = 2147483540

  /** Internal alias the read path gives the materialized [[RowIdCol]]
    * cell so it never collides with the user-facing `_row_id` output. */
  private[lake] val MatRidCol = "__graft_mat_rid"

  private[lake] def rowIdField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(RowIdCol,
      org.apache.spark.sql.types.LongType, nullable = true,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", RowIdFieldId.toLong).build())

  private[lake] val PosFileCol = "__graft_file_path"

  /** A manifest-recorded path in the RENDER Spark's
    * `_metadata.file_path` uses (SparkPath's url-encoded form): every
    * join or lookup between manifest entries and reader metadata must
    * compare in ONE form — Hadoop's FileStatus renders `file:/a b`
    * where the reader renders `file:/a%20b`, and a silent mismatch
    * RESURRECTS merge-on-read deletes on any path with an encodable
    * character. Tombstone/DV CONTENT already carries the reader form
    * (coordinates are captured from `_metadata.file_path`); manifest
    * entry paths carry the FileStatus form and normalize through here. */
  private[lake] def readerPath(p: String): String =
    org.apache.spark.paths.SparkPath.fromPathString(p).urlEncoded
  private[lake] val PosIdxCol = "__graft_row_pos"
  private val DataSeqCol = "__graft_data_seq"
  private val EqSeqCol = "__eq_seq"
  /** Field-ID keys for delete-file manifest stats — their own namespace
    * (delete manifests never enter data-predicate pruning). */
  private val DeleteFieldIds = Map("file_path" -> 1, "pos" -> 2)

  /** The data file a deletion-vector entry tombstones: carried as the
    * entry's file_path min/max stats (min == max) — which makes
    * [[narrowPosDeletes]] target DVs to a scan's file set with the SAME
    * machinery positional tombstone files use. */
  private[lake] def dvRef(e: DataFileEntry): String =
    e.minValues(DeleteFieldIds("file_path").toString)

  private[lake] def dvEntry(blobPath: String, ref: String,
      cardinality: Long, bytes: Long): DataFileEntry = {
    val key = DeleteFieldIds("file_path").toString
    DataFileEntry(blobPath, cardinality, bytes,
      minValues = Map(key -> ref), maxValues = Map(key -> ref),
      nullCounts = Map.empty, partitionValues = Map.empty)
  }

  /** The inverse of [[narrowPosDeletes]]: DATA files a set of
    * positional-tombstone files can possibly address (path inside some
    * tombstone file's recorded [min, max] file_path range) — the
    * changelog fetches deleted rows from exactly these. Entries lacking
    * stats keep every file (conservative). */
  private[lake] def narrowDataToDeletes(files: Seq[DataFileEntry],
      deletes: Seq[DataFileEntry]): Seq[DataFileEntry] = {
    val key = DeleteFieldIds("file_path").toString
    val ranges = deletes.map(e => (e.minValues.get(key), e.maxValues.get(key)))
    files.filter { f =>
      // tombstone stats are over reader-form content (see readerPath)
      val fp = readerPath(f.path)
      ranges.exists {
        case (Some(lo), Some(hi)) => lo <= fp && fp <= hi
        case _ => true
      }
    }
  }

  /** Driver-side targeting of positional-tombstone FILES to a scan's
    * file set (Iceberg indexes delete files to the data files they can
    * affect): a tombstone file whose harvested [min, max] file_path
    * range contains no scanned path cannot delete any scanned row and
    * is dropped before the anti-join. Tombstones are written
    * range-clustered on file_path (deleteWhereMoR/updateWhereMoR), so
    * the ranges are tight and a stats-pruned scan skips most of a large
    * tombstone set. Entries lacking the stats are kept — conservative,
    * never loses a tombstone. */
  private[lake] def narrowPosDeletes(posDeletes: Seq[DataFileEntry],
      scannedPaths: Seq[String]): Seq[DataFileEntry] = {
    if (posDeletes.isEmpty) return posDeletes
    // tombstone file_path STATS are over content captured from
    // `_metadata.file_path`; the scanned paths arrive in manifest form
    val sorted = scannedPaths.map(readerPath).sorted.toIndexedSeq
    val pathKey = DeleteFieldIds("file_path").toString
    posDeletes.filter { e =>
      (e.minValues.get(pathKey), e.maxValues.get(pathKey)) match {
        case (Some(lo), Some(hi)) =>
          val i = lowerBound(sorted, lo) // first scanned path >= lo
          i < sorted.length && sorted(i) <= hi
        case _ => true
      }
    }
  }

  private def lowerBound(xs: IndexedSeq[String], key: String): Int = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Builder mirroring the reference's append API shape
  * (newAppend().appendFile(df).commit(), IntegrationTest.java:92-98). */
final class AppendOp private[lake] (table: LakeTable) {
  private val buf = scala.collection.mutable.Buffer.empty[DataFileEntry]
  private val props = scala.collection.mutable.Map.empty[String, String]
  def appendFile(f: DataFileEntry): this.type = { buf += f; this }
  def appendData(df: DataFrame, numFiles: Int = 0): this.type = {
    buf ++= table.writeDataFiles(df, numFiles); this
  }
  /** Stamp a key into the snapshot summary (e.g. a streaming batch id —
    * the commit log then doubles as an idempotence ledger). */
  def withProperty(key: String, value: String): this.type = {
    props += key -> value; this
  }
  def commit(): CommitReport =
    table.commitSnapshot(Append(buf.toSeq, extraSummary = props.toMap))
}

/** Scan: manifest-level file pruning (above Catalyst, SURVEY.md §4) then
  * a schema-enforced vectorized parquet read with the same predicate
  * re-applied for exact row filtering + row-group pushdown. */
final class LakeScan private[lake] (
    table: LakeTable, snapshot: Option[Snapshot], pred: LakePredicate) {

  /** A10: enumerate surviving files; fires the ScanReport (A14).
    * Two pruning tiers: manifest-list rollup stats skip whole manifest
    * DOCUMENTS (never opened, never parsed — planning stays sublinear
    * in table size), then file stats prune within the opened ones. */
  lazy val planFiles: Seq[DataFileEntry] = {
    val t0 = System.nanoTime()
    val refs = snapshot.map(_.dataManifests).getOrElse(Nil)
    val (kept, skipped) = refs.partition(pred.mayMatchManifest(_, table.metadata))
    val (dist, degraded) = distributedSurvivors(kept)
    val survivors = dist.getOrElse {
      val files = snapshot.map(s => kept.flatMap(s.filesOf)).getOrElse(Nil)
      files.filter(pred.mayMatch(_, table.metadata))
    }
    table.catalog.reporter.report(ScanReport(
      tableName = table.name,
      snapshotId = snapshot.map(_.id).getOrElse(-1L),
      filter = pred.render,
      resultDataFiles = survivors.size,
      resultDeleteFiles = deleteFiles.size,
      totalFileSizeInBytes = survivors.map(_.sizeBytes).sum,
      planningDurationMs = (System.nanoTime() - t0) / 1000000L,
      skippedDataManifests = skipped.size,
      scannedDataManifests = kept.size,
      planDegraded = if (degraded) 1L else 0L))
    survivors
  }

  /** Iceberg's DISTRIBUTED-PLANNING analog: when the kept manifests
    * hold more entries than the driver parse budget
    * (`graft.plan.driverEntryBudget`, entries — 0 disables), executors
    * parse the manifest documents and evaluate the predicate, and only
    * the SURVIVING entries ever reach the driver. Below the budget the
    * driver path wins (document cache, no job); None = use it. The
    * driver necessarily holds the survivors either way — downstream
    * builds the read from them — so the budget bounds the PARSE width,
    * which is what explodes on a 1M-file table scanned selectively.
    *
    * Returns (result, degraded): degraded = true means the distributed
    * attempt was made and FAILED (result None, caller re-plans on the
    * driver) — surfaced as ScanReport.planDegraded so a persistent
    * degrade at scale is visible, not silent. */
  private def distributedSurvivors(
      kept: Seq[ManifestRef]): (Option[Seq[DataFileEntry]], Boolean) = {
    val spark = SparkSession.getActiveSession.orNull
    if (spark == null || kept.isEmpty) return (None, false)
    val budget = spark.conf
      .get("graft.plan.driverEntryBudget", 4000000L.toString).toLong
    if (budget <= 0 || kept.map(_.fileCount).sum <= budget) return (None, false)
    val md = table.catalog.metadataDir(table.namespace, table.shortName)
    val docs = kept.map(r => md.resolve(r.name).uri)
    // snapshots carry the catalog's manifest-IO handle — strip them; the
    // predicate only consults schema / field IDs / spec log
    val meta = table.metadata.copy(snapshots = Nil)
    val p = pred
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val slices = math.max(1,
      math.min(docs.size, spark.sparkContext.defaultParallelism * 2))
    // any executor-side failure (a backend whose scheme executors
    // cannot resolve, a serialization surprise) degrades to the
    // always-correct driver parse — distribution is an optimization
    try (Some(spark.sparkContext.parallelize(docs, slices).flatMap { uri =>
      val h = new org.apache.hadoop.fs.Path(uri)
      val in = h.getFileSystem(hconf.value).open(h)
      val json =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      MetadataJson.readManifest(json).filter(p.mayMatch(_, meta))
    }.collect().toSeq), false)
    catch { case scala.util.control.NonFatal(_) => (None, true) }
  }

  /** Tombstone files this scan must subtract — positional + equality +
    * deletion vectors (snapshot-scoped, so time travel sees exactly the
    * tombstones its snapshot had). */
  private def deleteFiles: Seq[DataFileEntry] =
    snapshot.map(s => s.deleteFiles ++ s.eqDeleteFiles ++ s.dvFiles).getOrElse(Nil)

  /** A11: full scan to DataFrame (the IcebergGenerics.read analog).
    * Merge-on-read: live tombstones subtract via broadcast anti-joins;
    * a table with no delete files reads the plain vectorized path. */
  def toDF(spark: SparkSession): DataFrame = {
    val files = planFiles
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), table.schema)
    else
      table.readLive(spark, files, snapshot)
        .filter(pred.toColumn)
  }

  /** [[toDF]] plus each row's physical coordinates as `_file`/`_pos` —
    * Iceberg's hidden metadata columns, served to the SQL layer by the
    * metadata-column substitution rule. MoR-aware: a tombstoned
    * snapshot subtracts through the same anti-joins and survivors keep
    * their ORIGINAL file path / row index (`_pos` is the parquet
    * row_index, so it stays stable under row-group-pruned reads and is
    * exactly the coordinate a positional delete file tombstones). */
  def toDFWithPositions(spark: SparkSession,
      withPartitionInfo: Boolean = false): DataFrame =
    toDFWithPositionsImpl(spark, withPartitionInfo, withRowId = false)

  private def toDFWithPositionsImpl(spark: SparkSession,
      withPartitionInfo: Boolean, withRowId: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, regexp_replace}
    import org.apache.spark.sql.types.{IntegerType, LongType, MapType, StringType, StructField, StructType}
    val files = planFiles
    if (files.isEmpty) {
      val extra =
        (if (!withRowId) Nil
        else Seq(StructField(LakeTable.MatRidCol, LongType, nullable = true))) ++
        (if (!withPartitionInfo) Nil
        else Seq(StructField("_spec_id", IntegerType, nullable = true),
          StructField("_partition", MapType(StringType, StringType), nullable = true)))
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(table.schema.fields ++ Seq(
          StructField("_file", StringType, nullable = false),
          StructField("_pos", LongType, nullable = false)) ++ extra))
    } else {
      val base = table.readLivePos(spark, files, snapshot, withRowId = withRowId)
        .filter(pred.toColumn)
        .select(table.schema.fields.map(f => col(f.name).as(f.name, f.metadata)) ++ Seq(
          col(LakeTable.PosFileCol).as("_file"),
          col(LakeTable.PosIdxCol).as("_pos")) ++
          (if (withRowId) Seq(col(LakeTable.MatRidCol)) else Nil): _*)
      if (!withPartitionInfo) base
      else {
        // `_spec_id`/`_partition` are per-FILE constants the manifests
        // already hold: broadcast the (already driver-resident) planned
        // file list and join on the scheme-normalized path (manifest
        // paths carry whatever scheme Hadoop's FileStatus rendered;
        // `_metadata.file_path` renders its own — both reduce to the
        // bare path)
        val spark0 = spark
        import spark0.implicits._
        def norm(c: org.apache.spark.sql.Column) =
          regexp_replace(c, "^[a-zA-Z0-9.+-]+:/+", "/")
        // manifests key partition values by SPEC POSITION ("p0", …) —
        // stable across renames; the user-facing map re-keys them by
        // the field render of the file's OWN spec
        val specs = table.metadata.allSpecs
        val info = files.map { f =>
          val fields = specs.lift(f.specId).getOrElse(Nil)
          val named = f.partitionValues.flatMap { case (k, v) =>
            k.stripPrefix("p").toIntOption.flatMap(fields.lift)
              .map(_.render -> v)
          }
          (f.path, f.specId, named)
        }.toSeq
          .toDF("__graft_info_path", "_spec_id", "_partition")
        base.join(broadcast(info),
          norm(col("_file")) === norm(col("__graft_info_path")), "left")
          .drop("__graft_info_path")
      }
    }
  }

  /** Stable per-row ids (Iceberg v3 row lineage): [[toDFWithPositions]]
    * plus `_row_id` = the row's MATERIALIZED id cell when its file was
    * written by a lineage-carrying rewrite, else the file's
    * commit-assigned firstRowId + the row's parquet row_index — the
    * Iceberg v3 `coalesce(_row_id, first_row_id + pos)` resolution
    * rule. Ids are table-unique and survive appends, MoR/DV deletes
    * (survivors keep their file and position), branch commits, time
    * travel, AND rewrite-shaped commits — compaction and copy-on-write
    * row-level ops persist each surviving row's id into the files they
    * write (round 14). The refusal below is reserved for tables whose
    * lineage is GENUINELY broken: a rewrite that ran before
    * carry-through existed, or one whose caller-provided transform
    * dropped the id column. Scale shape: the per-file id base is a MAP
    * LITERAL keyed by the reader's path render — O(planned files)
    * driver-side, one codegen'd element_at per row, no join and no
    * shuffle; the materialized cell is one extra long column read only
    * from rewritten files. */
  def rowLineage(spark: SparkSession,
      withPartitionInfo: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, element_at, typedLit}
    import org.apache.spark.sql.types.LongType
    require(!table.metadata.properties
      .get(LakeTable.RowLineageBrokenProp).contains("true"),
      s"row lineage on ${table.name} was broken by a rewrite-shaped commit " +
        "that could not materialize _row_id carry-through (it ran before " +
        "carry-through existed, or its flag transform dropped the id column)")
    val files = planFiles
    val missing = files.filter(_.firstRowId.isEmpty)
    require(missing.isEmpty,
      s"${missing.size} live file(s) of ${table.name} predate row lineage " +
        s"(e.g. ${missing.headOption.map(_.path).getOrElse("")}); rewrite " +
        "or re-append them to assign first-row ids")
    if (files.isEmpty)
      toDFWithPositions(spark, withPartitionInfo)
        .withColumn("_row_id",
          org.apache.spark.sql.functions.lit(0L).cast(LongType))
    else {
      val firsts: Map[String, Long] = files.map(f =>
        LakeTable.readerPath(f.path) -> f.firstRowId.get).toMap
      toDFWithPositionsImpl(spark, withPartitionInfo, withRowId = true)
        .withColumn("_row_id", coalesce(col(LakeTable.MatRidCol),
          element_at(typedLit(firsts), col("_file")) + col("_pos")))
        .drop(LakeTable.MatRidCol)
    }
  }

  /** Does this scan's snapshot carry live tombstones? (The SQL read
    * path cannot subtract them and must refuse loudly.) */
  private[lake] def hasLiveDeletes: Boolean = deleteFiles.nonEmpty

  /** Does this scan require the engine's read path? True when the
    * snapshot carries live tombstones (anti-join subtraction) OR the
    * pruned file set includes [[LakeTable.addFiles]]-imported files
    * (ID-less footers resolve through the name mapping, which the
    * direct parquet-source path cannot do — an ID-expecting read over
    * them THROWS, and name matching would null renamed columns). The
    * SQL layer substitutes [[toDF]] for such scans, or refuses loudly
    * without the extensions. */
  private[lake] def needsEngineRead: Boolean =
    hasLiveDeletes || planFiles.exists(_.nameMapped)

  /** Cheap ANALYZER-TIME gate over [[needsEngineRead]]: manifest-list
    * content types (one cached doc) + the table's frozen name mapping —
    * no manifest documents load, no planning job runs, no ScanReport
    * fires. False proves the direct parquet path is fine; true defers
    * to the full check. Conservative on ever-imported tables (the
    * mapping survives compaction), which only costs them the precise
    * check, never a wrong plan. */
  private[lake] def mayNeedEngineRead: Boolean =
    snapshot.exists(_.manifests.exists(_.content != ManifestRef.Data)) ||
      table.metadata.nameMapping.nonEmpty

  // ---- manifest-only aggregates (Iceberg's aggregate pushdown) ------
  // At 100 TB these turn a full scan into a driver-side metadata read:
  // COUNT/MIN/MAX answer from the manifests' recordCount / nullCount /
  // exact bounds, touching ZERO data files. Every method returns None
  // (caller falls back to a real scan) the moment exactness is at risk:
  // live tombstones subtract unknown rows, a non-trivial predicate
  // needs row-level evaluation, and per-column stats must cover every
  // surviving file.

  /** Can stats-only aggregation apply at all? Tombstones make counts
    * overcount; a predicate needs rows. (Imported files are fine: their
    * footer stats were harvested at [[LakeTable.addFiles]] time.) */
  private def statsAggApplicable: Boolean =
    !hasLiveDeletes && pred == LakePredicate.AlwaysTrue

  /** COUNT(*) from manifests alone. */
  def countStarFromStats: Option[Long] =
    if (!statsAggApplicable) None
    else Some(planFiles.map(_.recordCount).sum)

  /** COUNT(col) — non-null rows — from manifests: needs a nullCount in
    * EVERY surviving file (a file lacking one may predate the column,
    * carry it untracked, or read an initial default there). */
  def countColumnFromStats(colName: String): Option[Long] =
    if (!statsAggApplicable) None
    else for {
      key <- table.metadata.statKey(colName)
      counts = planFiles.map(f => f.nullCounts.get(key).map(f.recordCount - _))
      if counts.forall(_.isDefined)
    } yield counts.flatten.sum

  /** MIN(col)/MAX(col) from manifest bounds. Exactness rules: the type
    * must have exact decodable bounds ([[Stats.fromStatCatalyst]] —
    * floats refuse on NaN ordering, strings on parquet bound
    * truncation, decimals carry no stats); every surviving file must
    * either have bounds or be provably all-null for the column
    * (nullCount == recordCount) with no initial default attached
    * (a default makes "column absent from the file" a real value, not
    * null). Outer None = cannot answer; inner None = SQL NULL (all
    * rows null). */
  def minFromStats(colName: String): Option[Option[Any]] =
    boundFromStats(colName, wantMin = true)
  def maxFromStats(colName: String): Option[Option[Any]] =
    boundFromStats(colName, wantMin = false)

  private def boundFromStats(colName: String, wantMin: Boolean): Option[Option[Any]] = {
    if (!statsAggApplicable) return None
    val m = table.metadata
    for {
      key <- m.statKey(colName)
      field <- m.schema.fields.find(_.name == colName)
      hasDefault = m.fieldIds.get(colName).exists(m.initialDefaults.contains)
      bounds = planFiles.map { f =>
        val b = if (wantMin) f.minValues.get(key) else f.maxValues.get(key)
        // a boundless file only drops out if it provably holds no value
        b.orElse(if (!hasDefault && f.nullCounts.get(key).contains(f.recordCount))
          Some(null) else None)
      }
      if bounds.forall(_.isDefined)
      present = bounds.flatten.filter(_ != null).asInstanceOf[Seq[String]]
      // the TYPE gate fires even when this snapshot has no values yet
      if Stats.boundsExact(field.dataType)
      best <- if (present.isEmpty) Some(None) else {
        val sel = present.reduce((a, b) =>
          if ((Stats.cmp(field.dataType, a, b) <= 0) == wantMin) a else b)
        Stats.fromStatCatalyst(field.dataType, sel).map(Some(_))
      }
    } yield best
  }
}
