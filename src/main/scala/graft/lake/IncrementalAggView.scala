package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized AGGREGATE view — the batch-changelog
  * payoff (incremental view maintenance): a COUNT/SUM/MIN/MAX rollup
  * of a base table kept fresh at O(delta + |view|) refresh cost, never
  * an unconditional base rescan.
  *
  * COUNT/SUM use the classic delta-maintenance rule for distributive
  * aggregates: the changelog's `insert` rows contribute +1/+value and
  * `delete` rows −1/−value, so a copy-on-write rewrite's carried
  * survivors cancel exactly (their delete and insert deltas
  * annihilate), row-level deletes subtract, updates move mass between
  * groups via their delete+insert pair, and compactions (skipped by
  * the changelog as no logical change) cost nothing. Sum columns must
  * be INTEGER expressions over base rows (the floor-cents device for
  * money) — exact group arithmetic, no float drift across refreshes.
  *
  * MIN/MAX are NOT distributive under deletion: an insert can only
  * improve the stored extremum (merge with least/greatest), but a
  * delete that ties it may retract it, and the new extremum lives only
  * in the base. The scale-honest close is the AFFECTED-GROUP rescan:
  * a group re-aggregates from base ONLY when a NET-deleted value ties
  * its candidate extremum (provably `net_del_min >= cand_min`, so `<=`
  * fires exactly on ties), with the affected-key filter pushed into
  * `planFiles` for stats pruning when the set is driver-collectable
  * ([[RescanKeyPushdownCap]]) and a broadcast semi-join keeping the
  * scan exact either way. Everything else merges distributively.
  * "NET" matters: a copy-on-write rewrite's changelog re-emits every
  * carried survivor as a delete+insert pair — including each group's
  * extremum rows — so the retraction probe first cancels per-value
  * pairs and only values whose multiset count truly decreased can
  * force a rescan. Without it every CoW delete would rescan every
  * group it touched.
  *
  * Delta plumbing (sf10-tuned): the changelog is projected down to
  * keys + sign + evaluated aggregate inputs BEFORE any shuffle (CoW
  * windows reconstruct rewritten rows at full base width — tens of
  * millions of wide rows at scale), the distributive sums ride the
  * first extremum expression's net pass as stage-1 partials (two
  * shuffles total for count+sums+min+max), append-only windows
  * (checked from snapshot metadata) collapse everything into ONE pass,
  * and the delta is cached only when a 2nd extremum expression needs a
  * genuine 2nd read.
  *
  * One refresh = ONE atomic commit on the view table: the re-aggregated
  * contents replace the old files and the base-snapshot watermark
  * property moves in the same CAS transform — a reader never sees a
  * view claiming a watermark its rows don't reflect, and a crashed
  * refresh leaves the old view intact (the next refresh re-reads the
  * same delta). CONCURRENT refreshes serialize through that CAS: the
  * transform re-checks (against the winner's metadata, inside the
  * retry loop) that the watermark it read is still current, throws
  * [[CommitConflictException]] if another refresh moved it, and the
  * loser re-runs from the new watermark — usually a no-op. No
  * double-count, watermark monotone.
  *
  * Scale shape: the delta aggregation shuffles O(changed rows) on the
  * view keys, the merge joins O(|view| + |delta groups|) group-sized
  * rows, the rescan touches only affected groups' files, and the view
  * rewrite is O(|view|). At 100 TB with a group-sized view this is the
  * difference between a nightly full rebuild and a minute-scale
  * refresh. */
object IncrementalAggView {
  /** View table property carrying the base snapshot the contents
    * reflect. Advanced inside the refresh commit's CAS transform. */
  val WatermarkProp = "incr-view.base-snapshot-id"

  /** View table property pinning the DIMENSION snapshot(s) an enriched
    * view's contents were joined against — a comma-separated id list,
    * one per [[DimJoin]] in definition order (round-18: multi-dim star
    * joins). A dim commit invalidates every historical enrichment, so
    * refresh REFUSES on a mismatch (toward [[rebuild]]) instead of
    * mixing join versions. */
  val DimSnapshotProp = "incr-view.dim-snapshot-id"

  /** Broadcast-dimension enrichment in the view definition (round-16;
    * round-18 generalizes to a SEQUENCE — the star-schema shape): every
    * aggregated row is `base ⋈ dim₁ ⋈ … ⋈ dimₙ` on each dim's shared
    * `joinKeys` (inner, equi), joined in definition order — so a
    * snowflake leg (dim₂ keyed on a dim₁ column) also works. Each dim
    * side is dimension-SIZED by assumption — it broadcasts into the
    * delta join each refresh, so enrichment adds zero shuffles to the
    * maintenance path. Group keys may come from any side. */
  final case class DimJoin(table: LakeTable, joinKeys: Seq[String])

  /** Exact `count(DISTINCT value)` maintenance (round-18 verdict ask):
    * the distinct count is NOT distributive under deletion, so it rides
    * a COMPANION slot table — itself an incremental agg view keyed on
    * `viewKeys :+ valueCol` whose `cnt` tracks each (group, value)
    * multiplicity under the same exact delta algebra (a value's last
    * occurrence dying removes its companion row via the cnt=0 filter).
    * The view's user-facing column is the companion's per-group count
    * of live non-NULL values, joined in at every view write —
    * O(|companion|) per refresh, never a base rescan. The caller
    * refreshes the companion to the SAME pinned base snapshot first. */
  final case class DistinctCount(name: String, companion: LakeTable,
      valueCol: String)

  /** Above this many affected groups the rescan stops collecting keys
    * for planFiles pruning and relies on the semi-join alone — the
    * driver never holds a data-proportional key list. */
  val RescanKeyPushdownCap = 10000

  /** `deltaGroups` counts groups the changelog delta touched (the
    * merge's working set), `rescannedGroups` counts groups whose
    * extremum retraction forced a base re-aggregation. */
  final case class RefreshReport(fromSnapshotId: Long, toSnapshotId: Long,
      deltaGroups: Long, rescannedGroups: Long, refreshed: Boolean)

  /** Bring `view` up to date with `base`. The view schema must be
    * `keys ++ cnt: long ++ sums.map(_._1): long ++ mins.map(_._1) ++
    * maxs.map(_._1) ++ derived.map(_._1)` in that order. `sums` are
    * integer Column expressions over BASE rows (e.g. floor-cents);
    * `mins`/`maxs` are any orderable expressions whose type matches the
    * view column. `derived` are output columns computed from the
    * MAINTAINED columns (keys, cnt, sums, mins, maxs) at every write —
    * the decomposition device behind `avg(e)` (= sum slot / cnt) and
    * fractional sums (= cents slot / 10^s), round-16 verdict ask: the
    * slots maintain exactly, the derived value is re-derived per
    * refresh, never itself incrementally drifted.
    * Retries [[CommitConflictException]] (a racing refresh moved the
    * watermark) by re-running from the fresh watermark. */
  def refresh(spark: SparkSession, base: LakeTable, view: LakeTable,
      keys: Seq[String], sums: Seq[(String, Column)],
      mins: Seq[(String, Column)] = Nil,
      maxs: Seq[(String, Column)] = Nil,
      maxAttempts: Int = 5,
      where: Option[Column] = None,
      dims: Seq[DimJoin] = Nil,
      derived: Seq[(String, Column)] = Nil,
      extraCols: Seq[(String, Column)] = Nil,
      distincts: Seq[DistinctCount] = Nil,
      pinHead: Option[Long] = None): RefreshReport = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return refreshOnce(spark, base, view, keys, sums, mins, maxs,
        where, dims, derived, extraCols, distincts, pinHead)
      catch {
        case _: CommitConflictException if attempt < maxAttempts => // re-read
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Full recompute: base (⋈ dim, WHERE-filtered) re-aggregated from
    * scratch, replacing the view contents and resetting the watermark
    * (and dim pin) in one CAS commit — the documented escape when a
    * dimension commit invalidates an enriched view's history, and the
    * efficient initial build for a base with CoW history (an
    * incremental build would replay every historical rewrite). */
  def rebuild(spark: SparkSession, base: LakeTable, view: LakeTable,
      keys: Seq[String], sums: Seq[(String, Column)],
      mins: Seq[(String, Column)] = Nil,
      maxs: Seq[(String, Column)] = Nil,
      where: Option[Column] = None,
      dims: Seq[DimJoin] = Nil,
      derived: Seq[(String, Column)] = Nil,
      extraCols: Seq[(String, Column)] = Nil,
      distincts: Seq[DistinctCount] = Nil,
      pinHead: Option[Long] = None): RefreshReport = {
    val b = base.refresh()
    val head = pinHead.getOrElse(b.metadata.currentSnapshotId)
    val dimHeads = dims.map(_.table.refresh().metadata.currentSnapshotId)
    val v = view.refresh()
    val aggs = count(lit(1)).as("cnt") +: (
      sums.map { case (n, c) => sum(c).as(n) } ++
      mins.map { case (n, c) => min(c).as(n) } ++
      maxs.map { case (n, c) => max(c).as(n) })
    val src = if (head == -1L) b.newScan().toDF(spark)
      else b.asOf(head).toDF(spark)
    val rows = enrich(spark, src, where, dims, dimHeads, extraCols)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val outNames = keys ++ ("cnt" +: (sums ++ mins ++ maxs).map(_._1)) ++
      derived.map(_._1) ++ distincts.map(_.name)
    val added = v.writeDataFiles(
      withDistincts(spark, withDerived(rows, derived), keys, distincts)
        .select(outNames.map(col): _*))
    v.commitSnapshot(LakeTable.CommitRequest.Rewrite(added, v.metadata.currentFiles,
      None, dropDeletes = true,
      transform = m => m.copy(properties =
        m.properties + (WatermarkProp -> head.toString) ++
          (if (dimHeads.isEmpty) Map.empty
           else Map(DimSnapshotProp -> dimHeads.mkString(","))))))
    // deltaGroups = -1: a rebuild has no changelog delta to size
    RefreshReport(0L, head, -1L, 0L, refreshed = true)
  }

  /** The view definition's row source shaping: dim enrichment (inner
    * broadcast equi-joins pinned at `dimHeads`, in definition order —
    * a later dim may key on an earlier dim's column), then the
    * `extraCols` projections (the distinct-companion value columns),
    * then the WHERE filter — applied identically to the changelog
    * delta, the rescan's base re-aggregation, and [[rebuild]]'s full
    * scan, so all three compute the same rows. */
  private def enrich(spark: SparkSession, df: DataFrame,
      where: Option[Column], dims: Seq[DimJoin],
      dimHeads: Seq[Long],
      extraCols: Seq[(String, Column)] = Nil): DataFrame = {
    val joined = dims.zip(dimHeads).foldLeft(df) { case (d, (dj, h)) =>
      d.join(broadcast(dj.table.asOf(h).toDF(spark)), dj.joinKeys, "inner")
    }
    val projected = extraCols.foldLeft(joined) { case (d, (n, c)) =>
      d.withColumn(n, c) }
    where.map(projected.filter).getOrElse(projected)
  }

  /** Append the derived output columns (computed over the maintained
    * columns) to a group-schema frame. */
  private def withDerived(df: DataFrame,
      derived: Seq[(String, Column)]): DataFrame =
    derived.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }

  /** Join each distinct-count output onto a group-schema frame: the
    * COMPANION's live per-group count of non-NULL values (SQL
    * `count(DISTINCT v)` skips NULLs; a group all of whose values are
    * NULL — or that has no companion rows — reads 0, exactly as SQL).
    * One keys-shuffle of the group-sized companion per column; the
    * caller has already refreshed the companion to the same pinned
    * base snapshot. */
  private def withDistincts(spark: SparkSession, df: DataFrame,
      keys: Seq[String], distincts: Seq[DistinctCount]): DataFrame =
    distincts.foldLeft(df) { case (d, dc) =>
      val live = dc.companion.refresh().newScan().toDF(spark)
        .filter(col(dc.valueCol).isNotNull)
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(dc.name))
      d.join(live, keys, "left")
        .withColumn(dc.name, coalesce(col(dc.name), lit(0L)))
    }

  private def refreshOnce(spark: SparkSession, base: LakeTable,
      view: LakeTable, keys: Seq[String], sums: Seq[(String, Column)],
      mins: Seq[(String, Column)], maxs: Seq[(String, Column)],
      where: Option[Column], dims: Seq[DimJoin],
      derived: Seq[(String, Column)],
      extraCols: Seq[(String, Column)],
      distincts: Seq[DistinctCount],
      pinHead: Option[Long]): RefreshReport = {
    // the merge below joins view-to-delta USING the key columns; with
    // zero keys that join degenerates (cross join / analysis error), so
    // the global-rollup spelling is a single-key constant column
    require(keys.nonEmpty,
      "incremental view needs >=1 group key; for a global rollup add a " +
        "constant key column (e.g. lit(0).as(\"all\")) to base and view")
    val outNames = keys ++ ("cnt" +: (sums ++ mins ++ maxs).map(_._1)) ++
      derived.map(_._1) ++ distincts.map(_.name)
    require(outNames.distinct.size == outNames.size,
      s"duplicate output column among $outNames")
    val b = base.refresh()
    val head = pinHead.getOrElse(b.metadata.currentSnapshotId)
    val v = view.refresh()
    val last = v.metadata.properties.get(WatermarkProp)
      .map(_.toLong).getOrElse(0L)
    // enriched views pin each dim snapshot their rows were joined
    // against (comma list, definition order); a dim commit means every
    // historical enrichment may be stale — refuse toward rebuild()
    // rather than mix join versions. Checked BEFORE the unchanged-base
    // early return: a dim-ONLY commit (base watermark current) must
    // also refuse, or the view silently keeps serving rows joined
    // against the old dim snapshot (round-16 advisory)
    val storedDims = v.metadata.properties.get(DimSnapshotProp)
      .map(_.split(',').map(_.toLong).toSeq).getOrElse(Nil)
    val dimHeads = dims.zipWithIndex.map { case (dj, i) =>
      val cur = dj.table.refresh().metadata.currentSnapshotId
      val stored = storedDims.lift(i)
      if (stored.exists(_ != cur)) throw new IllegalStateException(
        s"dimension ${dj.table.name} moved (snapshot ${stored.get} -> " +
          s"$cur) under enriched view ${v.name}: the view's historical " +
          "rows joined the old dim — rebuild the view " +
          "(IncrementalAggView.rebuild / CALL rebuild_agg_view). If the " +
          "moving side is actually your FACT table, the definition's " +
          "FROM order was reversed: the LEFT side of the JOIN is the " +
          "maintained base, the RIGHT the snapshot-pinned dimension")
      cur
    }
    if (head == last || head == -1L)
      return RefreshReport(last, head, 0L, 0L, refreshed = false)

    // the changelog feeds one pass per aggregate family below — cache
    // the reconstructed delta rows so the parquet/tombstone read runs
    // once, not once per family
    // APPEND-ONLY window (driver-side metadata check): no commit in
    // (last, head] can have emitted a delete row, so the extremum
    // candidates collapse into the distributive pass — the initial
    // build and every pure-ingest refresh pay ONE delta shuffle, not
    // one per extremum expression. Any non-append op (or a branch/WAP
    // snapshot sharing the id range) conservatively takes the net path.
    val appendOnly = (mins.nonEmpty || maxs.nonEmpty) &&
      b.metadata.snapshots.forall(s =>
        s.id <= last || s.id > head || s.operation == "append")
    val extrema = dedupeByExpr(mins.map((_, true)) ++ maxs.map((_, false)))
    // PROJECT EARLY: the CoW changelog is O(rewritten rows) of FULL
    // base width (a 15M-row rewrite reconstructs ~28M wide pre-images
    // at sf10) — evaluate every aggregate input once and keep only
    // keys + sign + evaluated values, so the cache and every shuffle
    // below move narrow longs, never the base's string columns.
    val sgn0 = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    val delta0 = enrich(spark, b.changelog(spark, last, Some(head)),
      where, dims, dimHeads, extraCols).select(
      keys.map(col) ++ Seq(sgn0.as("__sgn")) ++
        sums.zipWithIndex.map { case ((_, c), i) => c.as(s"__sv_$i") } ++
        extrema.zipWithIndex.map { case ((c, _), j) => c.as(s"__ev_$j") }: _*)
    // cache only when a SECOND delta pass will read it: with one
    // extremum expression (the common case — min+max of the same
    // column dedupe to one) the distributive aggregates FOLD into its
    // net pass, so the delta streams through exactly one shuffle and
    // a persist would only add a delta-sized materialization
    val needNet = extrema.nonEmpty && !appendOnly
    val delta = if (needNet && extrema.size > 1) delta0.persist() else delta0
    def candAggs(uses: Seq[(String, Boolean)], v: Column) = uses.flatMap {
      case (n, true) => Seq(
        min(when(col("__net") > 0L, v)).as(s"__inm_$n"),
        min(when(col("__net") < 0L, v)).as(s"__dlm_$n"))
      case (n, false) => Seq(
        max(when(col("__net") > 0L, v)).as(s"__inx_$n"),
        max(when(col("__net") < 0L, v)).as(s"__dlx_$n"))
    }
    // The NET per-value pass behind min/max deltas: a CoW rewrite's
    // carried survivors arrive as delete+insert pairs of the same value
    // and must annihilate before the retraction probe, else every
    // rewrite falsely retracts its groups' extrema. net > 0 → genuinely
    // new occurrences (candidate side); net < 0 → the multiset truly
    // shrank at that value (retraction side). Stage 1 groups by
    // (keys, value) carrying PARTIAL distributive sums; stage 2 rolls
    // both up to the keys — so count/sums ride the same two shuffles
    // and the delta itself is read once.
    val distAgg =
      if (!needNet) {
        // single pass: distributive columns, plus (append-only) the
        // extremum candidates — all rows are inserts, the typed-null
        // delete probes never fire
        val dAggs = sum(col("__sgn")).as("__d_cnt") +: (
          sums.zipWithIndex.map { case ((n, _), i) =>
            sum(col("__sgn") * col(s"__sv_$i")).as(s"__d_$n") } ++
          (if (appendOnly)
            extrema.zipWithIndex.flatMap { case ((_, uses), j) =>
              uses.flatMap {
                case (n, true) => Seq(min(col(s"__ev_$j")).as(s"__inm_$n"),
                  min(when(lit(false), col(s"__ev_$j"))).as(s"__dlm_$n"))
                case (n, false) => Seq(max(col(s"__ev_$j")).as(s"__inx_$n"),
                  max(when(lit(false), col(s"__ev_$j"))).as(s"__dlx_$n"))
              }
            }
          else Nil))
        delta.groupBy(keys.map(col): _*).agg(dAggs.head, dAggs.tail: _*)
      } else {
        val (_, uses0) = extrema.head
        val s1 = sum(col("__sgn")).as("__net") +:
          sums.zipWithIndex.map { case ((n, _), i) =>
            sum(col("__sgn") * col(s"__sv_$i")).as(s"__p_$n") }
        val net0 = delta
          .groupBy(keys.map(col) :+ col("__ev_0").as("__v"): _*)
          .agg(s1.head, s1.tail: _*)
        val s2 = sum(col("__net")).as("__d_cnt") +: (
          sums.map { case (n, _) => sum(col(s"__p_$n")).as(s"__d_$n") } ++
          candAggs(uses0, col("__v")))
        net0.groupBy(keys.map(col): _*).agg(s2.head, s2.tail: _*)
      }
    // further extremum expressions (rare) take their own net passes
    // over the cached delta
    val extremaAggs =
      if (!needNet) Nil
      else extrema.zipWithIndex.tail.map { case ((_, uses), j) =>
        val net = delta.groupBy(keys.map(col) :+ col(s"__ev_$j").as("__v"): _*)
          .agg(sum(col("__sgn")).as("__net"))
        val cands = candAggs(uses, col("__v"))
        net.groupBy(keys.map(col): _*).agg(cands.head, cands.tail: _*)
      }
    // all sides group the SAME delta, so their key sets coincide up to
    // all-null-value groups — full_outer keeps the union exact
    val deltaAgg = extremaAggs.foldLeft(distAgg)(
      _.join(_, keys, "full_outer"))
    // full-outer merge on the keys (using-columns join coalesces
    // them): distributive columns add, extrema take least/greatest
    // of (stored, inserted) — exact unless a delete ties the result
    val joined = v.newScan().toDF(spark)
      .join(deltaAgg, keys, "full_outer")
    val newCnt = (coalesce(col("cnt"), lit(0L)) +
      coalesce(col("__d_cnt"), lit(0L))).as("cnt")
    val newSums = sums.map { case (n, _) =>
      (coalesce(col(n), lit(0L)) + coalesce(col(s"__d_$n"), lit(0L))).as(n) }
    // least/greatest skip nulls, so a group new to the view (stored
    // null) or untouched by inserts merges correctly
    val candMins = mins.map { case (n, _) =>
      n -> least(col(n), col(s"__inm_$n")) }
    val candMaxs = maxs.map { case (n, _) =>
      n -> greatest(col(n), col(s"__inx_$n")) }
    // every deleted value once lived in {view rows ∪ window inserts},
    // so del_min >= cand_min and del_max <= cand_max: <=/>= fire
    // exactly when a delete TIES the candidate — the only case where
    // the survivor extremum is unknowable without the base
    val rescanConds =
      candMins.map { case (n, cand) =>
        col(s"__dlm_$n").isNotNull && col(s"__dlm_$n") <= cand } ++
      candMaxs.map { case (n, cand) =>
        col(s"__dlx_$n").isNotNull && col(s"__dlx_$n") >= cand }
    // fail CLOSED: a null comparison here is unreachable under the
    // del⊆(view ∪ inserts) invariant, but if the invariant is ever
    // violated (e.g. an externally seeded view with null extremum
    // cells) the conservative outcome is an extra rescan, never a
    // silently stale extremum
    val rescanFlag =
      if (rescanConds.isEmpty) lit(false)
      else coalesce(rescanConds.reduce(_ || _), lit(true))
    // ONE materialization per refresh (round-19): deltaAgg used to
    // persist+count on its own — a full planning/materialization round
    // whose only other reader was the merge join below. The merge frame
    // now persists PRE-filter carrying a delta-membership flag, so a
    // single query computes delta pass + view scan + join, and
    // deltaGroups, the flagged-key collect and the view write all read
    // this group-sized cache. `__indelta`: every deltaAgg row carries a
    // non-null __d_cnt (a sum over its own >=1 delta rows) and view-only
    // rows a null one, so the flag counts exactly the delta's groups —
    // INCLUDING groups whose cnt reached 0 (they vanish from the view
    // but were delta work, and the old deltaAgg.count saw them too)
    val merged0 = joined.select(keys.map(col) ++ (newCnt +: newSums) ++
      candMins.map { case (n, c) => c.as(n) } ++
      candMaxs.map { case (n, c) => c.as(n) } ++
      Seq(rescanFlag.as("__rescan"),
        col("__d_cnt").isNotNull.as("__indelta")): _*).persist()
    try {
      val deltaGroups = merged0.filter(col("__indelta")).count()
      if (deltaGroups == 0L) {
        // empty delta window (compaction-only commits — no logical
        // change): advance the watermark in a metadata-only CAS commit
        // instead of rewriting identical view contents, which would
        // cost a full |view| write per maintenance pass
        v.transformProperties { props =>
          val cur = props.get(WatermarkProp).map(_.toLong).getOrElse(0L)
          if (cur != last)
            throw new CommitConflictException(
              s"view watermark moved $last -> $cur during refresh; " +
                "a concurrent refresh won — re-run from the new watermark")
          props + (WatermarkProp -> head.toString) ++
            (if (dimHeads.isEmpty) Map.empty
             else Map(DimSnapshotProp -> dimHeads.mkString(",")))
        }
        return RefreshReport(last, head, 0L, 0L, refreshed = true)
      }
      // a group whose every row died leaves a zero-count residue row —
      // it must VANISH, exactly as a full recompute would drop it
      val merged = merged0.filter(col("cnt") =!= 0L).drop("__indelta")
      val (finalDF, rescanned) =
        if (rescanConds.isEmpty) (merged.drop("__rescan"), 0L)
        else resolveRescans(spark, b, head, merged, keys, sums, mins, maxs,
          where, dims, dimHeads, extraCols)
      val added = v.writeDataFiles(
        withDistincts(spark, withDerived(finalDF, derived), keys, distincts)
          .select(outNames.map(col): _*))
      v.commitSnapshot(LakeTable.CommitRequest.Rewrite(added, v.metadata.currentFiles,
        None, dropDeletes = true,
        transform = m => {
          val cur = m.properties.get(WatermarkProp).map(_.toLong).getOrElse(0L)
          if (cur != last)
            throw new CommitConflictException(
              s"view watermark moved $last -> $cur during refresh; " +
                "a concurrent refresh won — re-run from the new watermark")
          m.copy(properties = m.properties +
            (WatermarkProp -> head.toString) ++
            (if (dimHeads.isEmpty) Map.empty
             else Map(DimSnapshotProp -> dimHeads.mkString(","))))
        }))
      RefreshReport(last, head, deltaGroups, rescanned, refreshed = true)
    } finally {
      merged0.unpersist()
      if (needNet && extrema.size > 1) delta.unpersist()
    }
  }

  /** Changelog-DRIVEN maintenance (round-15 stretch): a streaming query
    * over the base's `.changes` CDC source whose every micro-batch
    * triggers [[refresh]]. The feed is used as the change NOTIFICATION
    * — the refresh re-reads its snapshot-exact delta from the stored
    * watermark, so micro-batch boundaries need not align with snapshot
    * ranges, a replayed batch is a no-op (watermark dedup), and a
    * concurrent manual refresh just wins the same CAS. `baseSqlName` is
    * the catalog-qualified SQL name of the base table (the `.changes`
    * handle lives on the SQL surface); `base`/`view` are the engine
    * handles the refresh maintains. Stop the returned query to stop
    * auto-refreshing. MoR tombstone commits (positional, DV, equality
    * — the mergeIntoMoR upsert shape) stream their deltas like any
    * `.changes` consumer sees them (round 16), so views over
    * MoR-churning bases maintain themselves; only an over-budget
    * tombstone delta refuses toward the batch changelog / a manual
    * [[refresh]]. */
  def autoRefresh(spark: SparkSession, baseSqlName: String,
      base: LakeTable, view: LakeTable, keys: Seq[String],
      sums: Seq[(String, Column)], mins: Seq[(String, Column)] = Nil,
      maxs: Seq[(String, Column)] = Nil, checkpoint: String,
      derived: Seq[(String, Column)] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .option("stream-from", "beginning")
      .table(s"$baseSqlName.changes")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) =>
        refresh(spark, base, view, keys, sums, mins, maxs,
          derived = derived); ()
      }
      .start()

  /** Group min/max columns sharing one value expression into one net
    * pass (keyed on the column's unresolved string form — a miss only
    * costs a redundant pass, never correctness). Each entry is
    * (expression, uses) with uses = (outputName, isMin). */
  private def dedupeByExpr(cols: Seq[((String, Column), Boolean)])
      : Seq[(Column, Seq[(String, Boolean)])] =
    cols.foldLeft(Vector.empty[(Column, Vector[(String, Boolean)])]) {
      case (acc, ((n, c), isMin)) =>
        val i = acc.indexWhere(_._1.toString == c.toString)
        if (i < 0) acc :+ (c -> Vector(n -> isMin))
        else acc.updated(i, acc(i)._1 -> (acc(i)._2 :+ (n -> isMin)))
    }

  /** Replace rescan-flagged groups with their exact re-aggregation
    * from base at `head`. The affected-key set is group-sized (read
    * off the caller-persisted `merged` cache); when it is small it is
    * collected for an In-pushdown into planFiles (stats pruning skips
    * untouched files) and broadcast into the semi-join; past
    * [[RescanKeyPushdownCap]] the semi-join alone keeps the scan exact
    * with no driver materialization. */
  private def resolveRescans(spark: SparkSession, b: LakeTable, head: Long,
      merged: DataFrame, keys: Seq[String], sums: Seq[(String, Column)],
      mins: Seq[(String, Column)], maxs: Seq[(String, Column)],
      where: Option[Column], dims: Seq[DimJoin],
      dimHeads: Seq[Long],
      extraCols: Seq[(String, Column)]): (DataFrame, Long) = {
    val flaggedKeys = merged.filter(col("__rescan"))
      .select(keys.map(col): _*)
    // ONE action resolves count + keys together in the common case:
    // collect up to cap+1 group rows (merged is group-keyed, so rows
    // are already distinct) — fewer Spark jobs per refresh than a
    // count() followed by a distinct().collect()
    val collected = flaggedKeys.limit(RescanKeyPushdownCap + 1).collect()
    if (collected.isEmpty) return (merged.drop("__rescan"), 0L)
    val small = collected.length <= RescanKeyPushdownCap
    // planFiles pruning needs the lead key to be a BASE column — an
    // enriched view's dim-side group key cannot prune base files (the
    // semi-join below keeps the scan exact either way)
    val leadKeyOnBase = b.schema.fieldNames.contains(keys.head)
    val (pred, affected, nFlagged) =
      if (small) (
        if (leadKeyOnBase) LakePredicate.In(keys.head,
          collected.map(_.get(0)).distinct.toSeq)
        else LakePredicate.AlwaysTrue,
        // a LOCAL relation of the collected groups: the semi-join build
        // side never re-derives merged
        broadcast(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            java.util.Arrays.asList(collected: _*)), flaggedKeys.schema)),
        collected.length.toLong)
      else (LakePredicate.AlwaysTrue, flaggedKeys, flaggedKeys.count())
    val baseRows = enrich(spark, b.asOf(head, pred).toDF(spark),
      where, dims, dimHeads, extraCols)
      .join(affected, keys, "left_semi")
    val rAggs = count(lit(1)).as("cnt") +: (
      sums.map { case (n, c) => sum(c).as(n) } ++
      mins.map { case (n, c) => min(c).as(n) } ++
      maxs.map { case (n, c) => max(c).as(n) })
    val rescanAgg = baseRows.groupBy(keys.map(col): _*)
      .agg(rAggs.head, rAggs.tail: _*)
    (merged.filter(!col("__rescan")).drop("__rescan")
      .unionByName(rescanAgg), nFlagged)
  }
}
