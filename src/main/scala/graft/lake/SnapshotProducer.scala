package graft.lake

import graft.lake.LakeTable.{BatchAlreadyCommitted, CommitRequest}
import graft.lake.LakeTable.CommitRequest._

/** The one place a snapshot is made (Iceberg's SnapshotProducer): it
  * mints snapshot ids, stamps data sequence numbers and row ids, builds
  * the summary and, once the commit lands, the [[CommitReport]]. Every
  * snapshot-producing commit — [[LakeTable.commitSnapshot]]'s requests,
  * [[LakeTable.rewriteManifests]], and the CTAS create in
  * [[LakeCatalog.createTableWithData]] — goes through [[produce]].
  *
  * The LAYERED metadata protocol: the added files are written as ONE
  * immutable manifest document per attempt (inside the CAS transform,
  * so entries carry the winning snapshot id as their data sequence
  * number; a lost race orphans a document that removeOrphanFiles
  * reclaims), untouched manifests are carried by reference, and only
  * manifests that lose files to this op are rewritten. The metadata
  * document therefore grows with the SNAPSHOT LOG, never with the file
  * count — a pure append writes O(new files) manifest bytes + O(log)
  * metadata bytes regardless of how many files or commits the table has
  * (asserted by ManifestLayoutSpec). */
private[lake] final class SnapshotProducer(catalog: LakeCatalog, md: LakePath) {
  private val io = catalog.manifestIO(md)

  /** `latest` with `req` landed, and the snapshot it landed. Runs
    * inside the commit CAS, so a lost race re-runs it against the
    * winner's metadata. Throws [[CommitConflictException]] when `req`
    * no longer validates against `latest`, and [[BatchAlreadyCommitted]]
    * when its exactly-once batch already landed. */
  def produce(latest: TableMetadata, req: CommitRequest): (TableMetadata, Snapshot) = {
    val (name, op, w) = (latest.name, req.op, req.write)
    // Exactly-once ledger check INSIDE the CAS transform: a zombie
    // driver racing a replacement both pass any pre-check, but the
    // loser's CAS retry re-runs this transform against the winner's
    // metadata and aborts here. The ledger lives in table PROPERTIES,
    // not snapshot summaries, so snapshot expiry cannot erase it.
    req.exactlyOnce.foreach { case (sinkId, batchId) =>
      if (latest.properties.get(s"streaming.last-batch-id.$sinkId")
        .exists(_.toLong >= batchId)) throw new BatchAlreadyCommitted
    }
    // The new snapshot's id doubles as the DATA SEQUENCE NUMBER stamped
    // on every entry this commit adds. Equality deletes apply to seq
    // strictly below their own, so a MoR upsert's own data files escape
    // its own tombstones.
    val newId = math.max(
      latest.snapshots.map(_.id).maxOption.getOrElse(0L),
      latest.lastSnapshotId) + 1L
    // data manifests carry rollup skip stats typed under the schema the
    // commit lands on (stat strings are canonical, so a later widen
    // still compares correctly at scan time); an RTAS's entries are
    // keyed by the REPLACEMENT schema's field ids
    val definition = req match {
      case Replace(_, Some(template)) => template
      case _ => latest
    }
    val keyTypes = definition.withFieldIdDefaults.statKeyTypes
    // Row lineage (Iceberg v3): every data file this commit adds gets
    // firstRowId from the table's next-row-id mark — assigned INSIDE the
    // CAS transform, so a lost race re-assigns from the winner's mark
    // and ids stay table-unique and monotone. A row's stable id is
    // firstRowId + parquet row_index (LakeScan.rowLineage).
    val firstRowIds = w.added.scanLeft(latest.nextRowId)(_ + _.recordCount)
    val addedRef = Option.when(w.added.nonEmpty)(catalog.writeManifest(md,
      w.added.zip(firstRowIds).map { case (f, rid) =>
        f.copy(seq = newId, firstRowId = Some(rid)) }, keyTypes = keyTypes))
    def deleteRef(files: Seq[DataFileEntry], content: String) =
      Option.when(files.nonEmpty)(
        catalog.writeManifest(md, files.map(_.copy(seq = newId)), content))
    val addedDeleteRefs = deleteRef(w.posDeletes, ManifestRef.Deletes) ++
      deleteRef(w.eqDeletes, ManifestRef.EqDeletes) ++ deleteRef(w.dvs, ManifestRef.Dv)
    // base lineage: main's current snapshot, or — for a branch commit —
    // the branch head (resolved INSIDE the CAS transform, so a racing
    // branch commit re-resolves the winner's head on retry); liveness
    // and serializable validation below reason about that lineage
    val baseSnapshot = req.branch match {
      case None => latest.currentSnapshot
      case Some(b) =>
        val ref = latest.refs.getOrElse(b, throw new NoSuchElementException(
          s"no branch '$b' on $name"))
        require(ref.kind == TableRef.Branch, s"ref '$b' of $name is a " +
          s"${ref.kind}; only branches accept commits")
        Some(latest.snapshot(ref.snapshotId).getOrElse(throw new IllegalStateException(
          s"branch '$b' of $name points at expired snapshot ${ref.snapshotId}")))
    }
    val prevAll = baseSnapshot.map(_.manifests).getOrElse(Nil)
    // DATA manifests flow through the assembly/validation below;
    // delete manifests ride alongside: carried unless this op
    // materialized them (compaction) or replaced the table
    val prev = prevAll.filter(_.content == ManifestRef.Data)
    val prevDeletes0 = req match {
      case Rewrite(_, _, _, true, _, _) | Replace(_, _) => Nil
      case _ => prevAll.filter(_.content != ManifestRef.Data)
    }
    // at most ONE live DV per data file: this commit's DVs (already
    // merged with the old ones by the writer) retire the stale entries —
    // manifests that lose entries are rewritten, the rest carry over by
    // reference
    val prevDeletes =
      if (w.dvs.isEmpty) prevDeletes0
      else {
        val replaced = w.dvs.map(LakeTable.dvRef).toSet
        prevDeletes0.flatMap { m =>
          if (m.content != ManifestRef.Dv) Some(m)
          else {
            val entries = io.readManifest(m.name)
            val kept = entries.filterNot(e => replaced(LakeTable.dvRef(e)))
            if (kept.size == entries.size) Some(m)
            else if (kept.isEmpty) None
            else Some(catalog.writeManifest(md, kept, ManifestRef.Dv))
          }
        }
      }
    req match {
      case d: RowDelta => d.validateAddedSince.foreach { case (baseId, pred) =>
        validateAddedSince(latest, op, baseSnapshot, prev, prevAll, baseId, pred)
      }
      case r: Rewrite => r.noNewDeletesSince.foreach(
        validateNoNewDeletes(latest, op, baseSnapshot, prevAll, _))
      case _ => ()
    }
    val removedPaths = w.removed.map(_.path).toSet
    val dataManifests: Seq[ManifestRef] = req match {
      case _: Replace => addedRef.toSeq
      case ManifestRewrite(targetEntries) =>
        // cluster by (spec, partition values) before grouping so each
        // consolidated manifest covers few partitions — the rollup
        // summaries stay tight and a partition predicate skips whole
        // documents (Iceberg's rewrite_manifests sorts by partition for
        // exactly this). Entries keep their own data sequence numbers.
        prev.flatMap(m => io.readManifest(m.name))
          .sortBy(e => (e.specId, e.partitionValues.toSeq.sorted.mkString("\u0000"), e.path))
          .grouped(targetEntries).toSeq
          .map(g => catalog.writeManifest(md, g, keyTypes = keyTypes))
      case _ if removedPaths.isEmpty => prev ++ addedRef
      case _ =>
        // Conflict validation (snapshot isolation floor): every file
        // this op rewrites must still be live in the metadata the commit
        // lands on. Without it, two concurrent copy-on-write ops that
        // rewrote the same file would BOTH succeed — the loser's
        // filterNot is a no-op on files the winner already removed, so
        // its rewritten copies append anyway, duplicating rows or
        // resurrecting deleted ones.
        val livePaths = prev.iterator.flatMap(m => io.readManifest(m.name)).map(_.path).toSet
        val conflicting = removedPaths.filterNot(livePaths)
        if (conflicting.nonEmpty)
          throw new CommitConflictException(
            s"$op on $name conflicts with a concurrent commit: " +
              s"${conflicting.size} file(s) this op rewrites are no longer live " +
              s"(e.g. ${conflicting.head}); re-read the table and retry the operation")
        // rewrite ONLY manifests that lose files; the rest carry over
        val (touched, untouched) = prev.partition(m =>
          io.readManifest(m.name).exists(f => removedPaths(f.path)))
        val survivors = touched.flatMap(m => io.readManifest(m.name))
          .filterNot(f => removedPaths(f.path))
        untouched ++ Option.when(survivors.nonEmpty)(
          catalog.writeManifest(md, survivors, keyTypes = keyTypes)) ++ addedRef
    }
    // ONE pointer per snapshot in the metadata document: the manifest
    // list (Iceberg's manifest-list layer). Without it each snapshot
    // entry would embed refs to every live manifest, and the log would
    // grow O(commits x manifests) — quadratic over history.
    val listName = catalog.writeManifestList(md,
      dataManifests ++ prevDeletes ++ addedDeleteRefs)
    val removedCount = req match {
      case _: Replace => baseSnapshot.map(_.fileCount).getOrElse(0L)
      case _ => w.removed.size.toLong
    }
    val snap = Snapshot(newId, baseSnapshot.map(_.id),
      System.currentTimeMillis(), op, listName,
      // rollups count DATA only — delete manifests report through the
      // delete meters (totalDeleteFiles/totalPositionalDeletes)
      fileCount = dataManifests.map(_.fileCount).sum,
      totalRecords = dataManifests.map(_.recordCount).sum,
      totalSizeBytes = dataManifests.map(_.sizeBytes).sum,
      // caller keys first: the computed counts and the ledger stamps
      // (so EVERY exactly-once commit — append or merge — is
      // attributable to its stream and batch) are reserved and win
      summary = req.summary
        ++ req.exactlyOnce.map { case (sinkId, batchId) => Map(
          "streaming-sink-id" -> sinkId,
          "streaming-batch-id" -> batchId.toString) }.getOrElse(Map.empty)
        ++ (req match {
          case _: ManifestRewrite => Map(
            "manifests-replaced" -> prev.size.toString,
            "manifests-added" -> dataManifests.size.toString)
          case _ => Map.empty
        })
        ++ Map("added-data-files" -> w.added.size.toString,
          "removed-data-files" -> removedCount.toString,
          "added-records" -> w.added.map(_.recordCount).sum.toString,
          "added-delete-files" -> (w.posDeletes.size + w.eqDeletes.size + w.dvs.size).toString,
          // DV cardinalities are positional deletes in v3 clothing
          "added-position-deletes" ->
            (w.posDeletes.map(_.recordCount).sum + w.dvs.map(_.recordCount).sum).toString,
          "added-equality-deletes" -> w.eqDeletes.map(_.recordCount).sum.toString))(io)
    // a staged wap.id must be unique across the log: double-submitting
    // an orchestrator retry would stage the same data twice
    req.summary.get("wap.id").foreach { id =>
      if (latest.snapshots.exists(_.summary.get("wap.id").contains(id)))
        throw new IllegalArgumentException(
          s"wap.id '$id' was already staged or published on $name")
    }
    val withLedger = req.exactlyOnce.fold(latest.properties) { case (sinkId, batchId) =>
      latest.properties + (s"streaming.last-batch-id.$sinkId" -> batchId.toString)
    }
    // Row-lineage honesty flag: a rewrite-shaped commit (files removed
    // AND re-added — compaction, CoW update/delete/merge) that did NOT
    // materialize _row_id into its new files re-ids every surviving row
    // it carried, so stable-id reads must refuse from here on. Rewrites
    // that carried keep lineage readable. Pure appends, MoR tombstones,
    // DV deletes, and whole-file CoW deletes (rows GONE, none re-idd)
    // keep lineage. A table REPLACE starts a fresh incarnation: flag
    // cleared.
    val properties = req match {
      case _: Replace => withLedger - LakeTable.RowLineageBrokenProp
      case _ if removedPaths.nonEmpty && w.added.nonEmpty && !w.carried =>
        withLedger + (LakeTable.RowLineageBrokenProp -> "true")
      case _ => withLedger
    }
    val logged = latest.copy(snapshots = latest.snapshots :+ snap, properties = properties,
      // every commit advances the id high-water mark: rollback + expiry
      // must never let a later commit REUSE an id (see
      // TableMetadata.lastSnapshotId)
      lastSnapshotId = newId, nextRowId = firstRowIds.last)
    val moved = req match {
      // staged: log only, every pointer (main + refs) stays put
      case Append(_, Staged(_), _, _, _) => logged
      case _ => req.branch match {
        // a branch commit advances the BRANCH head IN PLACE (retention
        // fields survive commits); main is untouched
        case Some(b) => logged.copy(refs = latest.refs + (b -> latest.refs.get(b)
          .map(_.copy(snapshotId = newId))
          .getOrElse(TableRef(TableRef.Branch, newId, createdAtMs = System.currentTimeMillis()))))
        case None => logged.copy(currentSnapshotId = newId)
      }
    }
    val next = req match {
      // RTAS: the replacement definition, with history RESET to the
      // replace snapshot — REPLACE TABLE is a new table at the old
      // name/location, and old snapshots would read old manifests under
      // the new schema's ids. Its properties and sort order replace the
      // old table's config; old manifests, stats docs and refs become
      // orphans the sweep reclaims.
      case Replace(_, Some(template)) =>
        val fresh = template.withFieldIdDefaults
        moved.copy(schema = fresh.schema, spec = fresh.spec, specLog = Seq(fresh.spec),
          fieldIds = fresh.fieldIds, lastAssignedFieldId = fresh.lastAssignedFieldId,
          snapshots = Seq(snap), nameMapping = Map.empty, initialDefaults = Map.empty,
          properties = fresh.properties, refs = Map.empty,
          sortOrder = fresh.sortOrder, sortOrderKind = fresh.sortOrderKind,
          statsFiles = Nil, partitionStats = Nil)
      case _ => req.transform(moved)
    }
    (next, snap)
  }

  /** The report of `snap`, landed by `req` after `attempts` CAS attempts
    * that started at `t0` (System.nanoTime). The delete meters come from
    * the landed snapshot's delete manifests; DV cardinalities count as
    * positional deletes. */
  def report(table: String, req: CommitRequest, snap: Snapshot, attempts: Int,
      t0: Long): CommitReport = {
    val added = req.write.added
    val deleteRefs = snap.manifests.filter(_.content != ManifestRef.Data)
    def deletes(kinds: String*) =
      deleteRefs.filter(r => kinds.contains(r.content)).map(_.recordCount).sum
    CommitReport(
      tableName = table,
      snapshotId = snap.id,
      attempts = attempts,
      addedDataFiles = added.size,
      addedRecords = added.map(_.recordCount).sum,
      addedFilesSizeInBytes = added.map(_.sizeBytes).sum,
      totalDataFiles = snap.fileCount,
      totalDeleteFiles = deleteRefs.map(_.fileCount).sum,
      totalRecords = snap.totalRecords,
      totalFilesSizeInBytes = snap.totalSizeBytes,
      totalPositionalDeletes = deletes(ManifestRef.Deletes, ManifestRef.Dv),
      totalEqualityDeletes = deletes(ManifestRef.EqDeletes),
      totalDurationMs = (System.nanoTime() - t0) / 1000000L)
  }

  /** Serializable validation (Iceberg's validateNoConflictingData): any
    * file added since the op's base snapshot whose stats overlap the
    * op's predicate conflicts (conservative — mayMatch can only
    * over-approximate, so no conflict is missed). A racing append could
    * otherwise slip rows past a delete's predicate or duplicate a
    * merge's keys. The unit of comparison is the file PATH, not the
    * manifest name: a concurrent CoW rewrite carries untouched base
    * files into a NEW survivor manifest, and a name-level diff would
    * misread those unchanged files as added-since-base — a spurious
    * conflict for any two disjoint CoW ops sharing a manifest.
    * Manifests fully contained in the base snapshot are skipped
    * wholesale (they can only hold base files). A base snapshot already
    * expired from the log validates against EVERYTHING live —
    * conservative again. */
  private def validateAddedSince(latest: TableMetadata, op: String,
      head: Option[Snapshot], prev: Seq[ManifestRef], prevAll: Seq[ManifestRef],
      baseId: Long, pred: LakePredicate): Unit = {
    // the effective current is the op's LINEAGE head: main's current
    // snapshot, or the branch head for a branch op
    if (head.map(_.id).getOrElse(-1L) == baseId) return
    val name = latest.name
    val base = latest.snapshot(baseId)
    val baseNames = base.map(_.manifests.map(_.name).toSet).getOrElse(Set.empty[String])
    val basePaths = base.map(_.files.map(_.path).toSet).getOrElse(Set.empty[String])
    val overlap = prev.iterator.filterNot(m => baseNames(m.name))
      .flatMap(m => io.readManifest(m.name))
      .filter(f => !basePaths(f.path) && pred.mayMatch(f, latest))
    if (overlap.nonEmpty)
      throw new CommitConflictException(
        s"$op on $name conflicts with a concurrent commit: files added " +
          s"after base snapshot $baseId may match ${pred.render}; " +
          "re-read the table and retry the operation")
    // A concurrent MoR commit adds only DELETE manifests and removes
    // nothing — invisible to both the added-data check above and the
    // removed-file liveness check, yet its tombstones retroactively
    // delete rows this op read at base and is about to re-append:
    // committing would RESURRECT them, a non-serializable outcome
    // (Iceberg's serializable mode validates no new delete files apply
    // to the overwritten data for exactly this reason). Equality
    // tombstones narrow by their key-column stats (harvested under
    // table field IDs, so mayMatch applies); positional tombstones
    // carry no data-column stats and always conflict — conservative,
    // never misses a resurrection.
    val deleteOverlap = newDeletes(base, prevAll)
      .filter { case (content, f) => content == ManifestRef.Deletes ||
        content == ManifestRef.Dv || pred.mayMatch(f, latest) }
    if (deleteOverlap.nonEmpty)
      throw new CommitConflictException(
        s"$op on $name conflicts with a concurrent commit: delete files " +
          s"added after base snapshot $baseId may tombstone rows matching " +
          s"${pred.render}; re-read the table and retry the operation")
  }

  /** COMPACTION-family validation: the op rewrote files from this
    * base's MoR-filtered state, so any delete file committed since is
    * fatal — the rewrite would either drop it (dropDeletes) or carry it
    * pointing at removed paths while re-appending rows it tombstoned:
    * deleted rows RESURRECT. Conflict → retry re-reads. */
  private def validateNoNewDeletes(latest: TableMetadata, op: String,
      head: Option[Snapshot], prevAll: Seq[ManifestRef], baseId: Long): Unit =
    if (head.map(_.id).getOrElse(-1L) != baseId &&
      newDeletes(latest.snapshot(baseId), prevAll).nonEmpty)
      throw new CommitConflictException(
        s"$op on ${latest.name} conflicts with a concurrent commit: delete files " +
          s"were added after base snapshot $baseId and this rewrite read " +
          "the pre-delete state; re-read the table and retry")

  /** Delete entries live at the head (`prevAll`) that `base` did not
    * have, with their manifest content kind. */
  private def newDeletes(base: Option[Snapshot],
      prevAll: Seq[ManifestRef]): Iterator[(String, DataFileEntry)] = {
    val baseNames = base.map(_.manifests.map(_.name).toSet).getOrElse(Set.empty[String])
    val baseDel = base.map(s => (s.deleteFiles ++ s.eqDeleteFiles ++ s.dvFiles)
      .map(_.path).toSet).getOrElse(Set.empty[String])
    prevAll.iterator
      .filter(m => m.content != ManifestRef.Data && !baseNames(m.name))
      .flatMap(m => io.readManifest(m.name).map(f => (m.content, f)))
      .filter { case (_, f) => !baseDel(f.path) }
  }
}
