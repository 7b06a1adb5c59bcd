package graft.lake.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graftbridge.ManifestFileIndex
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{DataFileEntry, LakeTable, Snapshot}

/** Offset = a committed snapshot id. Snapshot ids are allocated max+1
  * over the whole log, so offsets are monotonic even across a
  * [[LakeTable.rollbackTo]]. */
private[sql] final case class LakeOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}

/** Structured-Streaming source over a lake table: each micro-batch is
  * the set of data files APPENDED between two snapshot offsets — the
  * incremental-append feed ([[LakeTable.changesSince]]'s shape) under
  * Spark's own checkpointed offset tracking, which is what makes a
  * lake→lake pipeline exactly-once end-to-end (this source replays a
  * batch deterministically from its offset range; the lake sinks
  * dedupe replayed batch ids inside the commit CAS).
  *
  * Batch planning delegates to Spark's vectorized parquet source: the
  * offset range resolves to file paths via the snapshot parent chain
  * (driver-side, O(changed files)), and a per-batch ParquetTable scan
  * plans the actual partitions — the read itself is the same
  * distributed columnar scan the batch path uses, at any batch size.
  *
  * Snapshot semantics (the Iceberg streaming-read contract):
  *  - `append` snapshots stream their added files;
  *  - `replace` (compaction) snapshots are SKIPPED — they rewrite
  *    existing rows, streaming them would duplicate data;
  *  - `delete`/`overwrite` snapshots refuse by default (an append-only
  *    row feed cannot represent row removal or mutation); the
  *    `skip-mutation-snapshots` option skips them instead, for
  *    pipelines that only care about new data.
  *
  * Options: `stream-from` = `latest` (default: only commits after the
  * stream starts) | `beginning`; `stream-from-snapshot` = explicit id;
  * `skip-mutation-snapshots` = true|false; `branch` = tail a branch
  * head instead of main (consume a staged WAP pipeline pre-publish);
  * `max-files-per-trigger` / `max-bytes-per-trigger` =
  * admission-control caps (composable).
  */
private[sql] final class LakeMicroBatchStream(
    lt: LakeTable, options: CaseInsensitiveStringMap,
    changelogMode: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // the CDC stamp columns widen the STREAM RELATION's schema, which
  // only a Table can declare — so changelog mode is the dedicated
  // `<table>.changes` handle ([[LakeChangesTable]]), never an option
  // on the base table (the option would emit rows wider than the
  // relation and silently misalign columns)
  if (options.containsKey("mode"))
    throw new IllegalArgumentException(
      "the 'mode' option is not a stream option: read the " +
        s"'${lt.name}.changes' table for the changelog feed")

  // Trigger.AvailableNow pins its end target HERE (Spark's wrapper
  // would otherwise discard the read limit for sources that cannot
  // promise a stable target); batches then drain up to this snapshot
  // under admission control and the query stops
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(headId())

  private val skipMutations = options.getBoolean("skip-mutation-snapshots", false)

  // captured at planning time (driver): the stream execution thread may
  // not carry an active-session thread-local
  private val session = SparkSession.active

  /** The lineage this stream tails: main, or — with `.option("branch",
    * name)` — a branch head, so a staged (write-audit-publish) pipeline
    * can be consumed before it publishes. */
  private def headId(): Long = {
    val t = lt.refresh()
    Option(options.get("branch")) match {
      case None => math.max(t.currentSnapshotId, 0L)
      case Some(b) =>
        val ref = t.metadata.refs.getOrElse(b,
          throw new NoSuchElementException(s"no branch '$b' on ${lt.name}"))
        require(ref.kind == graft.lake.TableRef.Branch,
          s"ref '$b' of ${lt.name} is a ${ref.kind}; streams tail branches")
        ref.snapshotId
    }
  }

  // planInputPartitions/createReaderFactory run back-to-back on the
  // stream execution thread; the factory is partition-agnostic
  // (FilePartition readers), but building it from the batch keeps
  // schema/options in one place
  @volatile private var lastBatch: org.apache.spark.sql.connector.read.Batch = _

  override def initialOffset(): Offset = {
    val explicit = Option(options.get("stream-from-snapshot")).map(_.toLong)
    explicit.foreach { id =>
      require(lt.refresh().metadata.snapshot(id).isDefined || id == 0L,
        s"stream-from-snapshot $id is not a snapshot of ${lt.name}")
    }
    LakeOffset(explicit.getOrElse {
      options.getOrDefault("stream-from", "latest") match {
        case "beginning" => 0L
        case "latest" => headId()
        case other => throw new IllegalArgumentException(
          s"stream-from must be 'latest' or 'beginning', got '$other'")
      }
    })
  }

  override def latestOffset(): Offset =
    LakeOffset(headId())

  /** Admission control: `max-files-per-trigger` and/or
    * `max-bytes-per-trigger` cap a micro-batch by choosing an
    * INTERMEDIATE snapshot as its end offset (offsets are snapshot ids,
    * so a batch is always a whole number of snapshots, and always at
    * least one — the stream cannot stall on a single over-sized
    * commit). Per-snapshot costs read NO manifests: file counts come
    * from the commit summary (`added-data-files`), byte counts from the
    * snapshot ROLLUP delta against the parent (appends remove nothing,
    * so the delta IS the added bytes). Bytes are the robust cap at
    * scale — file counts treat a 1 KB and a 1 GB file alike, so a
    * restart backlog "bounded" by files can still assemble an unbounded
    * batch; both caps compose (Spark's composite limit). */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      Option(options.get("max-files-per-trigger"))
        .map(v => ReadLimit.maxFiles(v.toInt)),
      Option(options.get("max-bytes-per-trigger"))
        .map(v => ReadLimit.maxBytes(v.toLong))).flatten
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startId = start.asInstanceOf[LakeOffset].snapshotId
    val latest = availableNowTarget.getOrElse(headId())
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case other => Seq(other)
    }
    val caps = flatten(limit)
    val maxFiles = caps.collectFirst { case mf: ReadMaxFiles => mf.maxFiles().toLong }
    val maxBytes = caps.collectFirst { case mb: ReadMaxBytes => mb.maxBytes() }
    if (maxFiles.isEmpty && maxBytes.isEmpty) LakeOffset(latest)
    else {
      // farthest contiguous prefix of the ancestor chain within every
      // cap; the first snapshot always admits (no stalling)
      val chain = ancestorsAfter(startId, latest)
      val m = lt.metadata // ancestorsAfter refreshed; reuse its view
      var files = 0L
      var bytes = 0L
      var end = startId
      val it = chain.iterator
      var full = false
      while (it.hasNext && !full) {
        val s = it.next()
        val (af, ab) =
          if (s.operation == "append") {
            val parentBytes = s.parentId.flatMap(m.snapshot)
              .map(_.totalSizeBytes).getOrElse(0L)
            (s.summary.get("added-data-files").map(_.toLong).getOrElse(0L),
              math.max(0L, s.totalSizeBytes - parentBytes))
          } else (0L, 0L)
        if (end != startId && (maxFiles.exists(files + af > _) ||
            maxBytes.exists(bytes + ab > _))) full = true
        else { files += af; bytes += ab; end = s.id }
      }
      LakeOffset(end)
    }
  }

  override def deserializeOffset(json: String): Offset = LakeOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** The ancestor chain of `endId` with ids in `(startId, endId]`,
    * OLDEST FIRST — a rolled-back lineage is never walked (its
    * snapshots are not ancestors). Expired history refuses: the stream
    * cannot know what it already read. */
  private def ancestorsAfter(startId: Long, endId: Long): Seq[Snapshot] =
    ancestorsAfterIn(lt.refresh().metadata, startId, endId)

  /** [[ancestorsAfter]] against an EXPLICIT metadata view — callers
    * that also resolve parents must validate and resolve against the
    * SAME instance (a refresh between the two reads different
    * metadata, and a parent that validates in one view but misses in
    * the other must throw, never degrade to an empty parent set). */
  private def ancestorsAfterIn(m: graft.lake.TableMetadata,
      startId: Long, endId: Long): Seq[Snapshot] = {
    var cur = m.snapshot(endId)
    if (cur.isEmpty && endId > 0L && endId > startId)
      throw new IllegalStateException(
        s"offset snapshot $endId of ${lt.name} was expired; the stream " +
          "cannot determine what it already read — restart from a fresh checkpoint")
    val acc = scala.collection.mutable.ListBuffer.empty[Snapshot]
    while (cur.exists(_.id > startId)) {
      val s = cur.get
      val parent = s.parentId.flatMap(m.snapshot)
      // ANY unresolvable non-root parent in range refuses — including the
      // checkpointed offset snapshot itself (parentId == startId) or a
      // pre-fork ancestor (parentId < startId): without the parent's live
      // file set the added-files delta of `s` is unknowable, and resolving
      // it to "empty parent" would stream the ENTIRE live set as appended
      // (duplicating the table into an exactly-once sink)
      if (parent.isEmpty && s.parentId.nonEmpty)
        throw new IllegalStateException(
          s"snapshot history of ${lt.name} between offsets $startId and $endId " +
            s"was expired (snapshot ${s.id}'s parent ${s.parentId.get} no longer " +
            "resolves); the stream cannot determine what it already read — " +
            "restart from a fresh checkpoint")
      s +=: acc
      cur = parent
    }
    acc.toSeq
  }

  /** Files appended in `(startId, endId]`, oldest snapshot first. */
  private def filesBetween(startId: Long, endId: Long): Seq[DataFileEntry] = {
    // ONE metadata view for BOTH validation and parent resolution: a
    // second refresh here could let concurrent expiry race a parent
    // away between the check and the use
    val m = lt.refresh().metadata
    ancestorsAfterIn(m, startId, endId).flatMap { s =>
      s.operation match {
        case "append" =>
          // an append commit ADDS manifests and carries the parent's by
          // reference: diffing manifest NAMES yields exactly the added
          // files at O(new manifests) — never the O(live files) path-set
          // of the parent (a 1M-file table paid that per micro-batch).
          // The parent resolves against the SAME view ancestorsAfterIn
          // validated; a root snapshot (no parent) is all-fresh.
          val parentManifests = s.parentId.flatMap(m.snapshot) match {
            case Some(p) => p.dataManifests.map(_.name).toSet
            case None if s.parentId.isEmpty => Set.empty[String]
            case None => throw new IllegalStateException(
              s"snapshot ${s.id}'s parent ${s.parentId.get} of ${lt.name} " +
                "expired mid-plan; restart the batch")
          }
          val fresh = s.dataManifests
            .filterNot(r => parentManifests(r.name)).flatMap(s.filesOf)
          // addFiles-imported files carry no parquet field IDs — the
          // stream's ID-based vectorized read cannot resolve them, and
          // by-name matching would silently null renamed columns.
          // Refuse loudly (the batch path reads them through the name
          // mapping; a stream consumer should batch-read the import or
          // restart from a post-import offset)
          if (fresh.exists(_.nameMapped)) throw new UnsupportedOperationException(
            s"streaming read of ${lt.name} hit an addFiles import " +
              s"(snapshot ${s.id}): imported files carry no field IDs and " +
              "cannot stream; read the import as a batch (or start the " +
              "stream from a snapshot past it via stream-from-snapshot)")
          fresh
        case "replace" => Nil // compaction: same rows in new files — not new data
        case op =>
          if (!skipMutations) throw new UnsupportedOperationException(
            s"streaming read of ${lt.name} hit a '$op' snapshot (id ${s.id}): " +
              "an append feed cannot represent row deletion/mutation — set " +
              "option skip-mutation-snapshots=true to stream past it, or " +
              "use changesSince for a reconciling batch read")
          Nil
      }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startId = start.asInstanceOf[LakeOffset].snapshotId
    val endId = end.asInstanceOf[LakeOffset].snapshotId
    if (changelogMode) return changelogPartitions(startId, endId)
    // the shared scan over the manifest's own file list
    // (LakeSqlCatalog.scanBuilder): no listing of the range's files, and
    // a reader conf change reaches batch and streaming together
    lastBatch = LakeSqlCatalog.scanBuilder(lt, session, filesBetween(startId, endId))
      .build().toBatch
    lastBatch.planInputPartitions()
  }

  /** CHANGELOG mode (the `<table>.changes` handle, the Iceberg
    * incremental-CDC read next to WAP/branches): each micro-batch
    * emits the offset range's row changes stamped `_change_type`
    * ('insert' | 'delete') and `_commit_snapshot_id` — the streaming
    * twin of [[LakeTable.changelog]]. Every commit kind streams as
    * FILE SCANS plus per-partition constants/filters (so batches stay
    * distributed parquet reads at any size, exactly like append mode):
    *
    *  - appends → added files as inserts;
    *  - replace (compaction) → skipped, no logical change;
    *  - copy-on-write delete/overwrite → removed files' PARENT-LIVE
    *    rows as deletes (parent tombstones ride the partitions as
    *    bitmap/key-set filters) + rewritten survivors as inserts
    *    (file-granular gross changes, Iceberg's changelog contract);
    *  - merge-on-read tombstone deltas (round-15 verdict ask): the
    *    SAME derivation the batch changelog runs, re-expressed as
    *    per-partition row filters —
    *      · new positional tombstones → referenced data files scanned
    *        with an emit-only-these-positions bitmap,
    *      · deletion-vector replacement → the `current minus parent`
    *        bitmap delta per referenced file,
    *      · new equality tombstones (the mergeIntoMoR upsert shape) →
    *        parent files scanned live (parent pos/DV/eq filters
    *        applied, seq-scoped) emitting rows matching the new keys,
    *        one partition set per key-set group exactly as the batch
    *        emits one frame per group.
    *    All tombstone payloads load DRIVER-side and ship inside the
    *    partitions — bounded by the table's
    *    `read.delete.broadcast-bytes` budget (the same gate the batch
    *    read path uses before broadcasting); a delta too large for
    *    that refuses loudly toward the batch changelog(), whose
    *    distributed join machinery has no such bound.
    *    `skip-mutation-snapshots` stays the wholesale opt-out on the
    *    append-mode handle.
    *
    * Tagging rides per-partition constants through a [[JoinedRow]] in
    * the reader — zero per-row allocation, no driver row
    * materialization (only tombstone bitmaps/keys, budget-gated). */
  private def changelogPartitions(startId: Long, endId: Long): Array[InputPartition] = {
    val m = lt.refresh().metadata
    val parts = Array.newBuilder[InputPartition]
    ancestorsAfterIn(m, startId, endId).foreach { s =>
      if (s.operation != "replace") {
        val p = s.parentId.flatMap(m.snapshot)
        val pFiles = p.map(_.files).getOrElse(Nil)
        val pPaths = pFiles.map(_.path).toSet
        val sPaths = s.files.map(_.path).toSet
        val added = s.files.filterNot(f => pPaths(f.path))
        val removed = pFiles.filterNot(f => sPaths(f.path))
        val pPosEntries = p.map(_.deleteFiles).getOrElse(Nil)
        val pEqEntries = p.map(_.eqDeleteFiles).getOrElse(Nil)
        val pDvEntries = p.map(_.dvFiles).getOrElse(Nil)
        val pPosPaths = pPosEntries.map(_.path).toSet
        val pEqPaths = pEqEntries.map(_.path).toSet
        val pDvByRef = pDvEntries.map(e => LakeTable.dvRef(e) -> e).toMap
        val newPos = s.deleteFiles.filterNot(e => pPosPaths(e.path))
        val newEq = s.eqDeleteFiles.filterNot(e => pEqPaths(e.path))
        val changedDvs = s.dvFiles.filter(e =>
          !pDvByRef.get(LakeTable.dvRef(e)).map(_.path).contains(e.path))

        // data files whose PARENT-LIVE rows this snapshot's delta scans
        // (CoW pre-images + equality-delta probes) — their parent
        // tombstones ride the partitions as filters
        val liveScanned =
          (removed ++ (if (newEq.nonEmpty) pFiles else Nil))
            .groupBy(_.path).map(_._2.head).toSeq
        val parentPosNarrowed =
          LakeTable.narrowPosDeletes(pPosEntries, liveScanned.map(_.path))
        val parentDvNarrowed =
          LakeTable.narrowPosDeletes(pDvEntries, liveScanned.map(_.path))
        val parentEqNarrowed = if (liveScanned.isEmpty) Nil else pEqEntries
        // DV delta needs the replaced parent blobs too
        val dvParents = changedDvs.flatMap(e => pDvByRef.get(LakeTable.dvRef(e)))

        // driver-load budget: every tombstone payload that will ship
        // inside partitions, gated like the batch read path's broadcast
        val loadBytes = (newPos ++ newEq ++ changedDvs ++ dvParents ++
          parentPosNarrowed ++ parentDvNarrowed ++ parentEqNarrowed)
          .map(_.sizeBytes).sum
        if (loadBytes > lt.deleteBroadcastBudget)
          throw new UnsupportedOperationException(
            s"changelog stream of ${lt.name} hit snapshot ${s.id}: its " +
              s"merge-on-read tombstone delta ($loadBytes bytes) exceeds " +
              s"the read.delete.broadcast-bytes budget " +
              s"(${lt.deleteBroadcastBudget}) for driver-side loading — " +
              "consume that range through the batch changelog() (whose " +
              "anti-joins run distributed) and restart the stream past it")

        val posReferenced =
          if (newPos.isEmpty) Nil
          else LakeTable.narrowDataToDeletes(pFiles, newPos)
        val dvNow = loadDvs(changedDvs)
        val dvBefore = loadDvs(dvParents)
        val dvReferenced = pFiles.filter(f =>
          dvNow.contains(LakeTable.readerPath(f.path)))
        val scanned = added ++ removed ++ posReferenced ++ dvReferenced ++
          (if (newEq.nonEmpty) pFiles else Nil)
        if (scanned.exists(_.nameMapped))
          throw new UnsupportedOperationException(
            s"changelog stream of ${lt.name} hit an addFiles import " +
              s"(snapshot ${s.id}): imported files carry no field IDs and " +
              "cannot stream")

        parts ++= taggedPartitions(added, "insert", s.id)

        // lazily built parent-tombstone filters for live-scanned files
        lazy val parentPosBm = loadPosBitmaps(parentPosNarrowed)
        lazy val parentDvBm = loadDvs(parentDvNarrowed)
        lazy val parentEqSets = loadEqKeySets(parentEqNarrowed, m)
        def parentFilter(f: DataFileEntry): ChangeRowFilter = {
          val rp = LakeTable.readerPath(f.path)
          val dead = (parentPosBm.get(rp), parentDvBm.get(rp)) match {
            case (Some(a), Some(b)) => Some(a.union(b))
            case (a, b) => a.orElse(b)
          }
          // equality tombstones scope files with STRICTLY smaller seq
          ChangeRowFilter(dead, parentEqSets.filter(_.seq > f.seq), None, None)
        }

        // CoW pre-images: removed files' parent-live rows
        removed.foreach { f =>
          parts ++= taggedPartitions(Seq(f), "delete", s.id,
            Some(parentFilter(f)).filter(_.nonEmpty))
        }
        // positional-tombstone delta: rows at newly-tombstoned
        // coordinates (the batch path emits them without re-checking
        // parent liveness — writers never double-tombstone — so the
        // stream mirrors that exactly)
        if (newPos.nonEmpty) {
          val emitPos = loadPosBitmaps(newPos)
          posReferenced.foreach { f =>
            emitPos.get(LakeTable.readerPath(f.path)).foreach { bm =>
              parts ++= taggedPartitions(Seq(f), "delete", s.id,
                Some(ChangeRowFilter(None, Nil, Some(bm), None)))
            }
          }
        }
        // deletion-vector delta: current minus parent per referenced file
        dvReferenced.foreach { f =>
          val rp = LakeTable.readerPath(f.path)
          val now = dvNow(rp)
          val delta = dvBefore.get(rp).map(now.minus).getOrElse(now)
          parts ++= taggedPartitions(Seq(f), "delete", s.id,
            Some(ChangeRowFilter(None, Nil, Some(delta), None)))
        }
        // equality-tombstone delta (the MoR upsert): parent-live rows
        // matching the new keys — one partition set per key-set group,
        // exactly as the batch changelog emits one frame per group
        if (newEq.nonEmpty && pFiles.nonEmpty) {
          loadEqKeySets(newEq, m).foreach { g =>
            pFiles.foreach { f =>
              val pf = parentFilter(f)
              parts ++= taggedPartitions(Seq(f), "delete", s.id,
                Some(pf.copy(emitEq = Some(g))))
            }
          }
        }
      }
    }
    parts.result()
  }

  /** Positional-tombstone coordinates as per-data-file bitmaps, keyed
    * by the reader path their `file_path` column already carries.
    * Driver-side and budget-gated by the caller. */
  private def loadPosBitmaps(entries: Seq[DataFileEntry]): Map[String, graft.lake.DeleteVector] = {
    if (entries.isEmpty) return Map.empty
    ManifestFileIndex.read(session, entries, LakeTable.DeleteFileSchema)
      .collect()
      .groupBy(_.getString(0)).view.mapValues { rows =>
        graft.lake.DeleteVector.fromSorted(
          rows.map(_.getLong(1)).distinct.sorted.iterator)
      }.toMap
  }

  /** Deletion vectors for `entries`, keyed by the data-file reader path
    * they tombstone — a blob is read only for the refs that still
    * reference it (the batch changelog's own rule). */
  private def loadDvs(entries: Seq[DataFileEntry]): Map[String, graft.lake.DeleteVector] =
    entries.groupBy(_.path).toSeq.flatMap { case (blob, es) =>
      val want = es.map(LakeTable.dvRef).toSet
      graft.lake.DeleteVector.readBlob(graft.lake.DataFs.readBytes(blob))
        .filter { case (ref, _) => want(ref) }
    }.toMap

  /** Equality-tombstone key sets, grouped by (key field ids, sequence
    * number), values converted to Catalyst INTERNAL form so the reader
    * compares them against InternalRow cells directly. Null-keyed
    * tuples drop here — `===` semantics, a null key deletes nothing
    * (mirrors applyEqDeletes and the batch changelog). */
  private def loadEqKeySets(entries: Seq[DataFileEntry],
      m: graft.lake.TableMetadata): Seq[EqKeySet] = {
    if (entries.isEmpty) return Nil
    val idToName = m.fieldIds.map(_.swap)
    val idSchema = m.schemaWithFieldIds
    entries.groupBy(e => (e.eqFieldIds, e.seq)).toSeq.map { case ((ids, seq), es) =>
      val names = ids.map(id => idToName.getOrElse(id,
        throw new UnsupportedOperationException(
          s"changelog stream of ${lt.name}: equality tombstones keyed on " +
            s"field id $id, whose column was since dropped — consume that " +
            "range through the batch changelog()")))
      // nested key cells (array/map/struct) have no canonical
      // value-equality in Catalyst internal form — refuse toward the
      // batch changelog, whose === join compares them by value
      names.foreach { nm =>
        idSchema(idSchema.fieldIndex(nm)).dataType match {
          case _: org.apache.spark.sql.types.ArrayType
             | _: org.apache.spark.sql.types.MapType
             | _: org.apache.spark.sql.types.StructType =>
            throw new UnsupportedOperationException(
              s"changelog stream of ${lt.name}: equality tombstones keyed " +
                s"on nested column '$nm' — consume that range through the " +
                "batch changelog()")
          case _ =>
        }
      }
      val ordinals = names.map(idSchema.fieldIndex).toArray
      val reqSchema = org.apache.spark.sql.types.StructType(
        names.map(n => idSchema(idSchema.fieldIndex(n))))
      val sess = org.apache.spark.sql.graftbridge.SessionBridge
        .sessionWithConfs(session,
          Map("spark.sql.parquet.fieldId.read.enabled" -> "true"))
      val rows = ManifestFileIndex.read(sess, es, reqSchema).collect()
      val converters = reqSchema.fields.map(f =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(f.dataType))
      val keys: Set[Seq[Any]] = rows.iterator.flatMap { r =>
        if (names.indices.exists(r.isNullAt)) None
        else Some(names.indices.map(i =>
          EqKeySet.comparable(converters(i)(r.get(i)))).toList: Seq[Any])
      }.toSet
      EqKeySet(ordinals, keys, seq)
    }
  }

  private def taggedPartitions(files: Seq[DataFileEntry], tpe: String,
      snapshotId: Long, filter: Option[ChangeRowFilter] = None): Seq[InputPartition] =
    // ONE scan per FILE (not per group): each partition then carries
    // its file's commit-assigned firstRowId as a constant, and the
    // reader serves `_row_id` per row — materialized cell when the
    // file was written by a lineage-carrying rewrite, else firstRowId
    // + the parquet row index (the same coalesce rule
    // LakeScan.rowLineage applies), NULL for pre-lineage files. A
    // changelog batch's file count is bounded by its commit, so the
    // per-file plan cost is the commit's own scale.
    files.flatMap { f =>
      val batch = LakeSqlCatalog.scanBuilder(lt, session, Seq(f),
        extraFields = Seq(LakeTable.rowIdField,
          org.apache.spark.sql.types.StructField("_tmp_metadata_row_index",
            org.apache.spark.sql.types.LongType)))
        .build().toBatch
      // the parquet factory is file-list-agnostic (paths ride in the
      // partitions) but each file ships its own, serialized inside
      // the partition — no cross-file factory aliasing assumptions
      val factory = batch.createReaderFactory()
      batch.planInputPartitions().toSeq
        .map(ip => ChangeTaggedPartition(ip, factory, tpe, snapshotId,
          f.firstRowId, lt.metadata.schemaWithFieldIds, filter))
    }

  override def createReaderFactory(): PartitionReaderFactory =
    if (changelogMode) ChangeTaggedReaderFactory
    else lastBatch.createReaderFactory()
}

/** The `<table>.changes` handle: a streaming-only Table whose schema
  * is the base table's plus the CDC stamp columns, served by
  * [[LakeMicroBatchStream]] in changelog mode — Iceberg's incremental
  * changelog read as a first-class streaming source:
  *
  * {{{
  *   spark.readStream.option("stream-from", "beginning")
  *     .table("cat.ns.t.changes")
  * }}}
  *
  * Batch consumers use [[LakeTable.changelog]] (the Scala API) — a
  * batch scan of this handle refuses by capability, because the batch
  * changelog's tombstone reconstruction is join-shaped, not
  * file-scan-shaped. */
private[sql] final class LakeChangesTable(lt: LakeTable)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.types._

  private val schema0 = StructType(lt.metadata.schemaWithFieldIds.fields ++ Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_snapshot_id", LongType, nullable = false),
    // stable row identity (Iceberg v3 row lineage) so CDC consumers
    // key deltas on it: a CoW rewrite emits delete+insert rows with
    // the SAME _row_id for surviving rows. NULL only for pre-lineage
    // files (committed before first-row-id assignment existed).
    StructField("_row_id", LongType, nullable = true)))

  override def name(): String = s"${lt.name}.changes"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    () => new org.apache.spark.sql.connector.read.Scan {
      override def readSchema(): StructType = schema0
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new LakeMicroBatchStream(lt, options, changelogMode = true)
      override def description(): String = "graft-lake changes stream"
    }
}

/** One equality-tombstone key-set group: the key columns' ordinals in
  * the scan schema, the key tuples in Catalyst INTERNAL form (null-free
  * — `===` semantics), and the tombstones' sequence number (they scope
  * data files with strictly smaller seq). Ships inside partitions —
  * small by the driver-load budget gate. */
private[sql] final case class EqKeySet(ordinals: Array[Int],
    keys: Set[Seq[Any]], seq: Long)

private[sql] object EqKeySet {
  /** Catalyst internal values mostly carry value equality (UTF8String,
    * Decimal, boxed primitives) — but BinaryType cells are raw
    * `Array[Byte]`, which compares by REFERENCE, so a binary merge key
    * would stream zero delete rows while the batch changelog's ===
    * join matches by value (round-16 advisory). Normalize binary cells
    * to an immutable ArraySeq (value equals/hashCode, and — unlike
    * ByteBuffer — java-serializable, since key sets ship inside
    * partitions) on BOTH the loaded tuples and the probed rows. */
  def comparable(v: Any): Any = v match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case other => other
  }
}

/** Per-row filter a changelog partition applies executor-side — the
  * merge-on-read delta semantics as partition payload instead of the
  * batch changelog's anti-joins. `dead`/`deadEq` SKIP rows the parent's
  * tombstones had already deleted (parent-live semantics for CoW
  * pre-images and equality probes); `emitPositions`/`emitEq` keep ONLY
  * the rows this commit's delta deletes. */
private[sql] final case class ChangeRowFilter(
    dead: Option[graft.lake.DeleteVector],
    deadEq: Seq[EqKeySet],
    emitPositions: Option[graft.lake.DeleteVector],
    emitEq: Option[EqKeySet]) {
  def nonEmpty: Boolean =
    dead.nonEmpty || deadEq.nonEmpty || emitPositions.nonEmpty || emitEq.nonEmpty
}

/** A parquet partition plus the change stamp its rows carry, the
  * file's lineage base for per-row `_row_id` resolution, and the
  * optional MoR-delta row filter. */
private[sql] final case class ChangeTaggedPartition(
    inner: InputPartition,
    factory: PartitionReaderFactory,
    changeType: String,
    snapshotId: Long,
    firstRowId: Option[Long],
    prefixSchema: org.apache.spark.sql.types.StructType,
    filter: Option[ChangeRowFilter] = None) extends InputPartition

/** Appends the changelog columns to every row via a reused
  * [[org.apache.spark.sql.catalyst.expressions.JoinedRow]] over a
  * [[org.apache.spark.sql.catalyst.ProjectingInternalRow]] prefix:
  * the inner scan reads two extra trailing columns (the materialized
  * `_row_id` cell and the parquet row index) that feed the per-row id
  * and must not leak into the stream schema. `_change_type` /
  * `_commit_snapshot_id` stay per-partition constants; `_row_id` is
  * one long write per row into the reused suffix — no per-row
  * allocation beyond the boxed long. Row-based reads only: the
  * constants splice between the parquet columns and the stream
  * schema, which the columnar path cannot express without building
  * constant vectors for no benefit at changelog batch sizes. */
private[sql] object ChangeTaggedReaderFactory extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.PartitionReader

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val t = p.asInstanceOf[ChangeTaggedPartition]
    val inner = t.factory.createReader(t.inner)
    val n = t.prefixSchema.fields.length
    val types = t.prefixSchema.fields.map(_.dataType)
    val prefix = org.apache.spark.sql.catalyst.ProjectingInternalRow(
      t.prefixSchema, 0 until n)
    val suffix = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(t.changeType),
        t.snapshotId, null))
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow

    // a null key cell matches nothing (=== semantics); key tuples are
    // null-free by construction, so a copied tuple compares by value
    def keyMatch(row: InternalRow, ks: EqKeySet): Boolean = {
      val tup = new Array[Any](ks.ordinals.length)
      var i = 0
      while (i < ks.ordinals.length) {
        val o = ks.ordinals(i)
        if (row.isNullAt(o)) return false
        tup(i) = EqKeySet.comparable(row.get(o, types(o)))
        i += 1
      }
      ks.keys.contains(tup.toSeq)
    }
    // the inner scan's trailing row-index column (ordinal n+1) is the
    // file-global position every bitmap is keyed on
    def passes(row: InternalRow): Boolean = t.filter match {
      case None => true
      case Some(f) =>
        val pos = row.getLong(n + 1)
        !f.dead.exists(_.contains(pos)) &&
          !f.deadEq.exists(keyMatch(row, _)) &&
          f.emitPositions.forall(_.contains(pos)) &&
          f.emitEq.forall(keyMatch(row, _))
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val row = inner.get()
          if (passes(row)) { current = row; return true }
        }
        false
      }
      override def get(): InternalRow = {
        val row = current
        val rid: Any =
          if (!row.isNullAt(n)) Long.box(row.getLong(n)) // materialized
          else t.firstRowId match {
            case Some(f) => Long.box(f + row.getLong(n + 1))
            case None => null // pre-lineage file
          }
        suffix.update(2, rid)
        prefix.project(row)
        joined(prefix, suffix)
      }
      override def close(): Unit = inner.close()
    }
  }
}
