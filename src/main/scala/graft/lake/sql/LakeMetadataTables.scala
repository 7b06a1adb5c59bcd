package graft.lake.sql

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{DataFileEntry, LakeTable, ManifestRef}

/** Iceberg-style METADATA TABLES: `SELECT * FROM cat.ns.t.snapshots`
  * (also `history`, `files`, `delete_files`, `manifests`, `properties`,
  * `refs`, `partitions`, `entries`, `all_data_files`, `all_manifests`,
  * `metadata_log_entries`) — the table's own commit log, live file
  * inventory, and configuration as queryable relations, resolved
  * through the normal multipart-identifier path (namespace `[ns, t]`,
  * table name = the metadata table kind). Iceberg's nested `data_file`
  * struct is flattened into top-level columns (more queryable, same
  * information).
  *
  * Results come back as a [[LocalScan]]: in this engine the manifest
  * layer is driver-resident by design (snapshots load through the
  * catalog's document cache), so a distributed scan would only shuffle
  * rows the driver already holds. Stats maps are keyed by COLUMN NAME
  * (resolved from the manifest's field ids against the current schema),
  * so they stay readable across renames.
  */
private[sql] object LakeMetadataTables {

  val kinds: Set[String] =
    Set("snapshots", "history", "files", "data_files", "delete_files",
      "manifests", "properties", "refs", "partitions", "entries",
      "all_data_files", "all_entries", "all_manifests",
      "metadata_log_entries", "position_deletes")

  def table(lt: LakeTable, kind: String): Table = new LakeMetadataTable(lt, kind)

  private def utf8(s: String) = UTF8String.fromString(s)

  private def strMap(m: Map[String, String]): MapData = {
    val entries = m.toSeq.sortBy(_._1)
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => utf8(e._1)).toArray[Any]),
      new GenericArrayData(entries.map(e => utf8(e._2)).toArray[Any]))
  }

  private def longMap(m: Map[String, Long]): MapData = {
    val entries = m.toSeq.sortBy(_._1)
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => utf8(e._1)).toArray[Any]),
      new GenericArrayData(entries.map(_._2).toArray[Any]))
  }

  private val statsMapType = MapType(StringType, StringType, valueContainsNull = false)
  private val nullsMapType = MapType(StringType, LongType, valueContainsNull = false)

  private val fileFields: Seq[StructField] = Seq(
    StructField("content", StringType, nullable = false),
    StructField("file_path", StringType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_size_in_bytes", LongType, nullable = false),
    StructField("spec_id", IntegerType, nullable = false),
    StructField("sequence_number", LongType, nullable = false),
    StructField("partition", statsMapType, nullable = false),
    StructField("lower_bounds", statsMapType, nullable = false),
    StructField("upper_bounds", statsMapType, nullable = false),
    StructField("null_counts", nullsMapType, nullable = false))

  private val manifestFields: Seq[StructField] = Seq(
    StructField("content", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("file_count", LongType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false))

  private[sql] val schemas: Map[String, StructType] = Map(
    "snapshots" -> StructType(Seq(
      StructField("committed_at", TimestampType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("operation", StringType, nullable = false),
      StructField("manifest_list", StringType, nullable = false),
      StructField("file_count", LongType, nullable = false),
      StructField("total_records", LongType, nullable = false),
      StructField("total_size_bytes", LongType, nullable = false),
      StructField("summary", statsMapType, nullable = false))),
    "history" -> StructType(Seq(
      StructField("made_current_at", TimestampType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("is_current_ancestor", BooleanType, nullable = false))),
    "files" -> StructType(fileFields),
    "manifests" -> StructType(manifestFields),
    "properties" -> StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false))),
    "refs" -> StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      // Iceberg's column name; NULL = no per-ref retention
      StructField("max_reference_age_in_ms", LongType, nullable = true))),
    "partitions" -> StructType(Seq(
      StructField("partition", statsMapType, nullable = false),
      StructField("spec_id", IntegerType, nullable = false),
      StructField("file_count", LongType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("total_size_bytes", LongType, nullable = false))),
    // manifest ENTRIES of the current snapshot (Iceberg's `entries`,
    // data_file struct flattened into the `files` columns): status 1 =
    // added by the current snapshot's commit, 0 = existing from an
    // earlier one; snapshot_id = the ADDING commit (the entry's data
    // sequence number doubles as it in this format)
    "entries" -> StructType(Seq(
      StructField("status", IntegerType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false)) ++
      fileFields),
    // `entries` over EVERY snapshot (Iceberg's `all_entries`): status
    // is evaluated against the REFERENCING snapshot, so one file rows
    // once as added (under its commit) and again as existing under
    // each later snapshot that still carries it
    "all_entries" -> StructType(Seq(
      StructField("reference_snapshot_id", LongType, nullable = false),
      StructField("status", IntegerType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false)) ++
      fileFields),
    // every snapshot's manifest refs, tagged with the referencing
    // snapshot (Iceberg's `all_manifests`)
    "all_manifests" -> StructType(
      StructField("reference_snapshot_id", LongType, nullable = false) +:
        manifestFields),
    // the metadata version log: one row per v{N}.json document
    // (Iceberg's `metadata_log_entries`); timestamp = the commit time
    // of that version's latest snapshot (null before the first append)
    "metadata_log_entries" -> StructType(Seq(
      StructField("timestamp", TimestampType, nullable = true),
      StructField("file", StringType, nullable = false),
      StructField("latest_snapshot_id", LongType, nullable = true))),
    // live positional tombstone COORDINATES (Iceberg's
    // `position_deletes`): every (data file, row ordinal) the current
    // snapshot's merge-on-read subtracts, from tombstone parquet files
    // and expanded deletion-vector bitmaps alike; equality deletes are
    // value- not position-keyed and stay in `delete_files`
    "position_deletes" -> StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("delete_file_path", StringType, nullable = false),
      StructField("content", StringType, nullable = false))))
  // delete_files and all_data_files share the files schema
  private[sql] def schemaOf(kind: String): StructType =
    schemas.getOrElse(kind, schemas("files"))

  private final class LakeMetadataTable(lt: LakeTable, kind: String)
      extends Table with SupportsRead {

    override def name(): String = s"${lt.name}.$kind"
    override def schema(): StructType = schemaOf(kind)
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new LocalScan {
        override def readSchema(): StructType = schemaOf(kind)
        override def rows(): Array[InternalRow] = computeRows()
      }

    /** Driver-memory guard for row-per-file metadata tables: the cap
      * (`metadata-tables.max-rows` table property, default 1M) checks
      * the snapshot ROLLUPS — no manifest loads — and refuses loudly.
      * At 100 TB, inventory questions answer through `manifests`
      * (O(manifests) rows) or a raised cap on a big driver; silently
      * materializing millions of driver rows is never the right
      * degradation. */
    private def guardRows(n: Long): Unit = {
      val cap = lt.metadata.properties.get("metadata-tables.max-rows")
        .map(_.toLong).getOrElse(1000000L)
      if (n > cap) throw new IllegalStateException(
        s"metadata table ${lt.name}.$kind would materialize $n driver-resident " +
          s"rows (cap $cap); aggregate via the `manifests` metadata table, or " +
          "raise table property metadata-tables.max-rows")
    }

    private def computeRows(): Array[InternalRow] = {
      val t = lt.refresh()
      val m = t.metadata
      // manifest stat maps are field-ID keyed; surface them by the
      // CURRENT column names (dropped columns' ids resolve to "<id>")
      val idToName = m.fieldIds.map { case (n, id) => id.toString -> n }
      def named(sm: Map[String, String]): Map[String, String] =
        sm.map { case (k, v) => idToName.getOrElse(k, k) -> v }
      def namedL(sm: Map[String, Long]): Map[String, Long] =
        sm.map { case (k, v) => idToName.getOrElse(k, k) -> v }

      // manifest partition values are keyed by SPEC POSITION ("p0"…,
      // rename-stable); surface them by the deriving field's readable
      // render under the spec id the file was written with
      def partMap(f: DataFileEntry): Map[String, String] =
        m.readablePartition(f)

      def fileRow(content: String, f: DataFileEntry): InternalRow =
        new GenericInternalRow(Array[Any](
          utf8(content), utf8(f.path), f.recordCount, f.sizeBytes, f.specId,
          f.seq, strMap(partMap(f)), strMap(named(f.minValues)),
          strMap(named(f.maxValues)), longMap(namedL(f.nullCounts))))

      kind match {
        case "snapshots" => m.snapshots.sortBy(_.id).map { s =>
          new GenericInternalRow(Array[Any](
            s.timestampMs * 1000L, s.id, s.parentId.map(Long.box).orNull,
            utf8(s.operation), utf8(s.manifestList), s.fileCount,
            s.totalRecords, s.totalSizeBytes, strMap(s.summary)))
        }.toArray

        case "history" =>
          val ancestors = Iterator.iterate(m.currentSnapshot)(
            _.flatMap(_.parentId).flatMap(m.snapshot))
            .takeWhile(_.isDefined).flatten.map(_.id).toSet
          m.snapshots.sortBy(_.id).map { s =>
            new GenericInternalRow(Array[Any](
              s.timestampMs * 1000L, s.id, s.parentId.map(Long.box).orNull,
              ancestors.contains(s.id)))
          }.toArray

        case "files" | "data_files" => // data_files = Iceberg's alias
          // row-per-file tables are driver-resident: gate on the
          // snapshot's ROLLUP count (known without loading a manifest)
          // so a million-file table fails loudly instead of OOMing
          guardRows(m.currentSnapshot.map(_.fileCount).getOrElse(0L))
          m.currentSnapshot.map(_.files).getOrElse(Nil)
            .map(fileRow("data", _)).toArray

        case "delete_files" =>
          val s = m.currentSnapshot
          guardRows(s.map(_.manifests).getOrElse(Nil)
            .filter(_.content != ManifestRef.Data).map(_.fileCount).sum)
          (s.map(_.deleteFiles).getOrElse(Nil).map(fileRow("positional", _)) ++
            s.map(_.eqDeleteFiles).getOrElse(Nil).map(fileRow("equality", _)) ++
            s.map(_.dvFiles).getOrElse(Nil).map(fileRow("dv", _))).toArray

        case "manifests" =>
          m.currentSnapshot.map(_.manifests).getOrElse(Nil).map { r: ManifestRef =>
            new GenericInternalRow(Array[Any](
              utf8(r.content), utf8(r.name), r.fileCount, r.recordCount, r.sizeBytes))
          }.toArray

        case "properties" => m.properties.toSeq.sortBy(_._1).map { case (k, v) =>
          new GenericInternalRow(Array[Any](utf8(k), utf8(v)))
        }.toArray

        case "partitions" =>
          // a partition-statistics doc for the CURRENT snapshot (see
          // LakeTable.computePartitionStats) answers O(#partitions)
          // with no manifest load and NO row guard — the stats file is
          // rollup-sized by construction; otherwise fall back to the
          // guarded manifest walk
          t.partitionStatsJsonFor(m.currentSnapshotId) match {
            case Some(json) =>
              val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
              import scala.jdk.CollectionConverters._
              val parts = mapper.readTree(json).get("partitions")
              // rollup-sized by construction — but partition cardinality
              // can approach file cardinality (near-unique identity
              // keys), so the driver cap still applies before any row
              // materializes
              guardRows(parts.size().toLong)
              parts.elements().asScala.map { p =>
                val vals = p.get("values").properties().asScala
                  .map(e => e.getKey -> e.getValue.asText()).toMap
                new GenericInternalRow(Array[Any](
                  strMap(vals), p.get("specId").asInt(),
                  p.get("fileCount").asLong(), p.get("recordCount").asLong(),
                  p.get("sizeBytes").asLong())): InternalRow
              }.toArray
            case None =>
              guardRows(m.currentSnapshot.map(_.fileCount).getOrElse(0L))
              m.currentSnapshot.map(_.files).getOrElse(Nil)
                .groupBy(f => (partMap(f), f.specId)).toSeq
                .sortBy(_._1._1.toSeq.sortBy(_._1).mkString(","))
                .map { case ((pv, specId), fs) =>
                  new GenericInternalRow(Array[Any](
                    strMap(pv), specId, fs.size.toLong,
                    fs.map(_.recordCount).sum, fs.map(_.sizeBytes).sum))
                }.toArray
          }

        case "entries" =>
          val s = m.currentSnapshot
          guardRows(s.map(_.fileCount).getOrElse(0L) +
            s.map(_.manifests).getOrElse(Nil)
              .filter(_.content != ManifestRef.Data).map(_.fileCount).sum)
          def entryRow(content: String, f: DataFileEntry): InternalRow = {
            val status = if (f.seq == m.currentSnapshotId) 1 else 0
            new GenericInternalRow(Array[Any](status, f.seq) ++
              fileRow(content, f).asInstanceOf[GenericInternalRow].values)
          }
          (s.map(_.files).getOrElse(Nil).map(entryRow("data", _)) ++
            s.map(_.deleteFiles).getOrElse(Nil).map(entryRow("positional", _)) ++
            s.map(_.eqDeleteFiles).getOrElse(Nil).map(entryRow("equality", _)) ++
            s.map(_.dvFiles).getOrElse(Nil).map(entryRow("dv", _))).toArray

        case "all_entries" =>
          guardRows(m.snapshots.map(s => s.fileCount +
            s.manifests.filter(_.content != ManifestRef.Data)
              .map(_.fileCount).sum).sum)
          m.snapshots.sortBy(_.id).flatMap { s =>
            def entryRow(content: String, f: DataFileEntry): InternalRow = {
              val status = if (f.seq == s.id) 1 else 0
              new GenericInternalRow(Array[Any](s.id, status, f.seq) ++
                fileRow(content, f).asInstanceOf[GenericInternalRow].values)
            }
            s.files.map(entryRow("data", _)) ++
              s.deleteFiles.map(entryRow("positional", _)) ++
              s.eqDeleteFiles.map(entryRow("equality", _)) ++
              s.dvFiles.map(entryRow("dv", _))
          }.toArray

        case "all_data_files" =>
          // union of live data files across EVERY snapshot, one row per
          // distinct path (files live across many snapshots); guard on
          // the rollup sum — pessimistic, which is the safe direction
          guardRows(m.snapshots.map(_.fileCount).sum)
          m.snapshots.sortBy(_.id).flatMap(_.files)
            .groupBy(_.path).toSeq.sortBy(_._1)
            .map { case (_, fs) => fileRow("data", fs.head) }.toArray

        case "all_manifests" =>
          m.snapshots.sortBy(_.id).flatMap { s =>
            s.manifests.map { r =>
              new GenericInternalRow(Array[Any](s.id, utf8(r.content),
                utf8(r.name), r.fileCount, r.recordCount, r.sizeBytes))
            }
          }.toArray

        case "position_deletes" =>
          val s = m.currentSnapshot
          val posFiles = s.map(_.deleteFiles).getOrElse(Nil)
          val dvEntries = s.map(_.dvFiles).getOrElse(Nil)
          // manifest rollups: tombstone rows for parquet carriers,
          // bitmap cardinality for DV entries — known before any IO
          guardRows(posFiles.map(_.recordCount).sum +
            dvEntries.map(_.recordCount).sum)
          val fromParquet: Seq[InternalRow] =
            if (posFiles.isEmpty) Nil
            else {
              // ONE batched read over every carrier; the carrier path
              // rejoins by basename (carrier names are uuid-unique)
              val byBase = posFiles
                .map(e => e.path.substring(e.path.lastIndexOf('/') + 1) -> e.path)
                .toMap
              import org.apache.spark.sql.functions.input_file_name
              org.apache.spark.sql.graftbridge.ManifestFileIndex.read(
                org.apache.spark.sql.SparkSession.active, posFiles,
                graft.lake.LakeTable.DeleteFileSchema)
                .withColumn("carrier", input_file_name())
                .collect().toSeq.map { r =>
                  val base = r.getString(2)
                    .substring(r.getString(2).lastIndexOf('/') + 1)
                  new GenericInternalRow(Array[Any](
                    utf8(r.getString(0)), r.getLong(1),
                    utf8(byBase.getOrElse(base, r.getString(2))),
                    utf8("positional"))): InternalRow
                }
            }
          val fromDvs: Seq[InternalRow] = dvEntries.groupBy(_.path).toSeq
            .flatMap { case (blob, entries) =>
              val refs = entries.map(graft.lake.LakeTable.dvRef).toSet
              graft.lake.DeleteVector.readBlob(graft.lake.DataFs.readBytes(blob))
                .filter(p => refs.contains(p._1))
                .flatMap { case (ref, dv) => dv.positions.map(p =>
                  new GenericInternalRow(Array[Any](
                    utf8(ref), p, utf8(blob), utf8("dv"))): InternalRow) }
            }
          (fromParquet ++ fromDvs)
            .sortBy(r => (r.getUTF8String(0).toString, r.getLong(1)))
            .toArray

        case "metadata_log_entries" =>
          val cat = lt.catalog
          val md = cat.metadataDir(lt.namespace, lt.shortName)
          val cur = lt.version0
          guardRows(cur.toLong)
          (1 to cur).flatMap { v =>
            // versions can be sparse if a writer lost a CAS race and a
            // doc number was skipped; absent docs simply don't row
            scala.util.Try(cat.readMeta(md, v)).toOption.map { vm =>
              val snap = vm.currentSnapshot
              new GenericInternalRow(Array[Any](
                snap.map(s => Long.box(s.timestampMs * 1000L)).orNull,
                utf8(s"v$v.json"),
                snap.map(s => Long.box(s.id)).orNull))
            }
          }.toArray

        case "refs" =>
          // "main" rides along like Iceberg's refs table does
          (Seq(("main", "branch", m.currentSnapshotId, None: Option[Long])) ++
            m.refs.toSeq.sortBy(_._1).map(r =>
              (r._1, r._2.kind, r._2.snapshotId, r._2.maxRefAgeMs)))
            .map { case (n, k, id, age) =>
              new GenericInternalRow(Array[Any](utf8(n), utf8(k), id,
                age.map(Long.box).orNull))
            }.toArray

        case other => throw new IllegalStateException(s"unknown metadata table $other")
      }
    }
  }
}
