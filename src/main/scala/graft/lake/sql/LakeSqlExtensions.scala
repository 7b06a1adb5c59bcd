package graft.lake.sql

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, EqualTo, Exists, Expression, InSubquery, Not, OuterReference, PredicateHelper, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}

import graft.lake.{LakePredicate, LakeTable, RowLevelOp}

/** Session extensions that give the lake SQL `UPDATE` and `MERGE INTO`:
  *
  * {{{
  *   spark.sql.extensions = graft.lake.sql.LakeSqlExtensions
  * }}}
  *
  * One resolution rule intercepts the analyzed [[UpdateTable]] /
  * [[MergeIntoTable]] / DELETE plans over a [[LakeSqlTable]] and
  * re-plans them as driver commands that hand one [[RowLevelOp]] to
  * the table's row-level planner (`LakeTable.runRowLevel`): the
  * table's `write.<op>.mode` picks copy-on-write rewrites of only the
  * overlapping files or merge-on-read position deletes, with
  * serializable validation against concurrent commits and conflict
  * retry either way. This is the analyzer-rule
  * command shape (the approach Delta Lake shipped for years) rather than
  * DSv2 `SupportsRowLevelOperations`: Spark's group-based rewrite plan
  * (`ReplaceData`) has no V1 write fallback, so that route demands a
  * full DSv2 `BatchWrite` parquet writer — machinery this engine's
  * commit protocol does not otherwise need. The semantics a user
  * observes (atomic snapshot, pruned rewrite, conflict behavior) are
  * identical; inexpressible predicates are REFUSED, exactly like the
  * `SupportsDelete` path.
  */
class LakeSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => LakeRowLevelCommands)
    ext.injectResolutionRule(_ => LakeMoRScanSubstitution)
    // SQL views over the ViewCatalog surface: reads of a lake view
    // substitute its stored (context-qualified) SQL
    ext.injectResolutionRule(_ => LakeViewResolution)
    // transparent materialized-view rewrite: a GROUP BY over a lake
    // base re-plans onto a FRESH matching MV (round-18) — exact or
    // rolled-up; never stale (watermark == the snapshot being read)
    ext.injectResolutionRule(_ => LakeMvRewrite)
    // spec-evolution DDL (ADD/DROP PARTITION FIELD) — not in Spark's
    // grammar — then element-path SET sugar (`SET tags[2] = v`), which
    // lowers onto lake_element_set; everything else delegates to the
    // session parser verbatim
    ext.injectParser((_, delegate) =>
      new LakeSqlParser(new ElementAssignmentParser(delegate)))
    // lake_element_set / lake_field_set — the element-rewrite
    // functions, also directly callable
    LakeElementSet.registerFunctions(ext)
  }
}

/** Analyzer rule: a SQL READ of a lake relation whose snapshot carries
  * LIVE merge-on-read tombstones (positional or equality delete files)
  * is substituted with the Scala-API `readLive` plan — the same
  * broadcast anti-join subtraction every API scan performs — projected
  * back onto the relation's attribute ids so parent operators resolve
  * untouched. A snapshot with no live tombstones keeps the direct
  * parquet-source scan (manifest pruning + vectorized read, zero
  * overhead), so the substitution costs nothing on the common path.
  *
  * Scale shape: the data side stays a plain distributed parquet scan;
  * each tombstone side holds only deleted coordinates/keys and joins as
  * a broadcast anti-join, so no shuffle of the data at any table size.
  * Catalyst pushes parent filters and column pruning through the
  * anti-joins into the parquet relations (left-side pushdown through
  * LeftAnti is semantics-preserving); what a live-tombstone read gives
  * up is MANIFEST-level file skipping — the documented cost of reading
  * between a MoR mutation and the next compact(), exactly Iceberg's
  * trade.
  *
  * Row-level command targets are deliberately left alone: UPDATE/MERGE
  * are re-planned onto the transactional API by [[LakeRowLevelCommands]],
  * DELETE runs through SupportsDelete, INSERT through the V1 write
  * bridge — all of which read committed data via the MoR-aware Scala
  * path already. (A MERGE source is re-analyzed inside
  * [[LakeMergeCommand.run]], so a tombstoned lake table used as a
  * SOURCE still substitutes there.)
  */
object LakeMoRScanSubstitution extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // `_file`/`_pos` references resolve through Spark's builtin
    // AddMetadataColumns rule, which appends them to the RELATION's
    // output — substituting the relation before that happened would
    // strand the reference unresolved forever. While such a reference
    // is still pending, leave the plan for the next iteration.
    // pending = an unresolved reference by name, OR a reference already
    // RESOLVED against the relation's metadataOutput that no child
    // output provides yet (ResolveReferences resolves _file in the same
    // iteration in which the relation's output is still unextended)
    // missingInput (via output) THROWS on a half-analyzed node — e.g.
    // an Aggregate still carrying UnresolvedAlias (`SELECT count(*)`
    // before alias resolution), which crashed ANY unaliased SQL
    // aggregate over a lake table (found by the refresh_agg_view
    // procedure test; the oracle corpus aliases everything, so it
    // never saw it). The missing-from-child probe only means anything
    // on a RESOLVED node anyway — guard it.
    val pendingMeta = plan.exists(p =>
      (!p.resolved && p.expressions.exists(_.exists {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          LakeSqlTable.MetaColNames(ua.nameParts.last.toLowerCase)
        case _ => false
      })) ||
        (p.resolved && p.missingInput.exists(a => LakeSqlTable.MetaColNames(a.name))))
    if (pendingMeta) plan else substitute(plan)
  }

  private def substitute(p: LogicalPlan): LogicalPlan = substitute(p, Nil)

  /** A conjunct may ride the pruning context only when it is fully
    * analyzed, deterministic, and subquery-free: the context exists
    * purely to LENIENTLY prune manifests at a substituted scan, so a
    * conjunct that cannot be safely re-evaluated against a superset of
    * rows (rand(), subqueries) must never narrow the file list. */
  private def ctxSafe(e: Expression): Boolean =
    e.resolved && e.deterministic && !e.exists(_.isInstanceOf[SubqueryExpression])

  /** The context conjuncts that speak only about THIS relation's
    * columns. Attribute ids are plan-unique (DeduplicateRelations), so
    * a reference-subset test is exact even under self-joins. */
  private def ctxFor(ctx: Seq[Expression], r: DataSourceV2Relation): Seq[Expression] =
    ctx.filter(_.references.subsetOf(r.outputSet))

  /** Recursive substitution carrying a PRUNING CONTEXT: the conjuncts of
    * every enclosing Filter that are still known to hold, row-for-row,
    * at this subtree's output. A live-tombstone relation reached under a
    * join (`SELECT … FROM fact JOIN dim … WHERE fact.p` — the common BI
    * shape) thus still hands `fact.p`'s lenient manifest form to
    * planFiles, instead of the round-14 behavior of substituting an
    * UNPRUNED scan whenever the Filter was not adjacent. The context is
    * advisory only — the exact residual Filter never moves — so the
    * propagation rules below must merely guarantee the conjunct is
    * row-level TRUE for every source row that can still reach the
    * filter: joins propagate per Catalyst's pushdown side rules (never
    * into a null-producing outer side; ON conjuncts join the context on
    * sides where a failing row provably cannot contribute), Projects
    * remap through their aliases, Sorts pass through, and every other
    * operator (Limit, Aggregate, Window, Union, Generate…) RESETS the
    * context — pruning below a Limit or a whole-partition Window would
    * change results. */
  private def substitute(p: LogicalPlan, ctx: Seq[Expression]): LogicalPlan = p match {
    // command targets MUST remain catalog relations (see scaladoc);
    // V2 write commands (AppendData et al) keep their target out of
    // `children`, so only the pre-resolution INSERT statement and the
    // row-level commands need explicit guards
    case u: UpdateTable => u
    case m: MergeIntoTable => m
    case d: DeleteFromTable => d
    case i: InsertIntoStatement => i.copy(query = substitute(i.query, Nil))
    // a Filter over the relation (modulo SubqueryAlias — the
    // `SELECT ... WHERE p` shape) hands its condition to the scan in
    // lenient manifest form, so a live-tombstone SQL read keeps
    // MANIFEST-level file skipping; the full condition stays on top as
    // the exact residual. An unresolved filter waits for a later
    // analyzer iteration (the bare-relation fallback still fires if no
    // filter ever materializes).
    case f @ Filter(cond, child) =>
      val cond2 = cond.transformUp {
        case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          se.withNewPlan(substitute(se.plan, Nil))
      }
      relationUnder(child) match {
        case Some((r, t)) if f.resolved && hasMetaCols(r) =>
          Filter(cond2, metaPlan(r, t,
            pruningPredOf(splitConjunctivePredicates(cond2) ++ ctxFor(ctx, r))))
        case Some((r, t)) if f.resolved =>
          morPlan(r, t,
            pruningPredOf(splitConjunctivePredicates(cond2) ++ ctxFor(ctx, r))) match {
            case Some(sub) => Filter(cond2, sub)
            case None => // no live tombstones: direct scan + pushdown
              if (cond2 eq cond) f else Filter(cond2, child)
          }
        case Some(_) => f
        case None =>
          val add = if (f.resolved)
            splitConjunctivePredicates(cond2).filter(ctxSafe) else Nil
          Filter(cond2, substitute(child, ctx ++ add))
      }
    case j @ Join(left, right, joinType, condition, hint) =>
      val cond2 = condition.map(_.transformUp {
        case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          se.withNewPlan(substitute(se.plan, Nil))
      })
      // ON conjuncts prune a side only where a row failing the conjunct
      // provably cannot contribute to output: both sides of INNER/CROSS,
      // the non-preserved side of an outer join (an unmatched right row
      // of a LEFT OUTER never appears), both sides of a SEMI, and only
      // the RIGHT of an ANTI (a left row failing ON has no match and is
      // KEPT by the anti-join — pruning it would drop it).
      val onConjs =
        if (j.resolved) cond2.map(splitConjunctivePredicates).getOrElse(Nil)
          .filter(ctxSafe)
        else Nil
      import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
      val (lctx, rctx) = joinType match {
        case Inner | Cross => (ctx ++ onConjs, ctx ++ onConjs)
        case LeftOuter => (ctx, onConjs)
        case RightOuter => (onConjs, ctx)
        case LeftSemi => (ctx ++ onConjs, onConjs)
        case LeftAnti => (ctx, onConjs)
        case _ => (Seq.empty[Expression], Seq.empty[Expression])
      }
      Join(substitute(left, lctx), substitute(right, rctx), joinType, cond2, hint)
    case pr @ Project(list, child) =>
      val list2 = list.map(_.transformUp {
        case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          se.withNewPlan(substitute(se.plan, Nil))
      }.asInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedExpression])
      val ctx2 = if (pr.resolved)
        ctx.map(replaceAlias(_, getAliasMap(pr))).filter(ctxSafe) else Nil
      Project(list2, substitute(child, ctx2))
    case sa: SubqueryAlias => sa.copy(child = substitute(sa.child, ctx))
    case s: Sort =>
      s.copy(child = substitute(s.child, ctx)).transformExpressionsUp {
        case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          se.withNewPlan(substitute(se.plan, Nil))
      }
    case r: DataSourceV2Relation => r.table match {
      case t: LakeSqlTable if hasMetaCols(r) =>
        metaPlan(r, t, pruningPredOf(ctxFor(ctx, r)))
      case t: LakeSqlTable =>
        morPlan(r, t, pruningPredOf(ctxFor(ctx, r))).getOrElse(r)
      case _ => r
    }
    case other =>
      other.mapChildren(substitute(_, Nil)).transformExpressionsUp {
        case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          se.withNewPlan(substitute(se.plan, Nil))
      }
  }

  private def relationUnder(p: LogicalPlan)
      : Option[(DataSourceV2Relation, LakeSqlTable)] = p match {
    case SubqueryAlias(_, child) => relationUnder(child)
    case r: DataSourceV2Relation => r.table match {
      case t: LakeSqlTable => Some((r, t))
      case _ => None
    }
    case _ => None
  }

  /** Catalyst conjuncts → lenient manifest predicate: expressible
    * conjuncts prune, the rest fall away (the exact residual above
    * re-applies everything). Constants fold first — this runs at
    * analysis, before the optimizer, so literals sit under
    * type-widening casts the filter translator refuses. */
  private def pruningPredOf(conjuncts: Seq[Expression]): LakePredicate =
    conjuncts
      .flatMap(e => splitConjunctivePredicates(
        LakeRowLevelCommands.foldConstants(e)))
      .flatMap(PlanBridge.translateFilter)
      .map(LakeSqlTable.toLakePredicateLenient)
      .reduceOption[LakePredicate](LakePredicate.And(_, _))
      .getOrElse(LakePredicate.AlwaysTrue)

  /** Did AddMetadataColumns append `_file`/`_pos` to this relation?
    * (It only does so when the query references them.) */
  private def hasMetaCols(r: DataSourceV2Relation): Boolean = {
    // a DATA column that happens to be named _file/_pos/… is the
    // user's column, not a metadata reference — rerouting on the bare
    // name would let the engine's position column silently SHADOW it
    val dataNames = r.table.schema().fieldNames.toSet
    r.output.exists(a => LakeSqlTable.MetaColNames(a.name) && !dataNames(a.name))
  }

  /** Substitute a relation whose output carries the hidden metadata
    * columns with the engine's position-carrying read: the direct
    * parquet delegate cannot emit `_file`/`_pos`, and the API path
    * already threads the parquet reader's `_metadata.file_path` /
    * `row_index` through every MoR anti-join (survivors keep their
    * ORIGINAL coordinates — the contract positional deletes rely on).
    * Manifest pruning still applies through `pred`, exactly like the
    * MoR substitution. */
  private def metaPlan(r: DataSourceV2Relation, t: LakeSqlTable,
      pred: LakePredicate): LogicalPlan = {
    val withPartitionInfo =
      r.output.exists(a => LakeSqlTable.PartitionMetaNames(a.name))
    val scan = t.fullScan(pred)
    // `_row_id` routes through the lineage read (same positions read +
    // the per-file first-row-id broadcast join; refuses loudly on
    // broken-lineage tables — the SQL surface inherits the contract)
    val inner = PlanBridge.analyzedPlan(
      if (r.output.exists(_.name == "_row_id"))
        scan.rowLineage(SparkSession.active, withPartitionInfo)
      else scan.toDFWithPositions(SparkSession.active, withPartitionInfo))
    val byName = inner.output.map(a => a.name -> a).toMap
    Project(r.output.map { tgt =>
      val src = byName.getOrElse(tgt.name, throw new IllegalStateException(
        s"metadata substitution: column ${tgt.name} missing for ${t.name()}"))
      // explicitMetadata preserves the metadata-column marker so a
      // later star expansion still EXCLUDES _file/_pos from `*`
      Alias(src, tgt.name)(exprId = tgt.exprId, qualifier = tgt.qualifier,
        explicitMetadata = Some(tgt.metadata))
    }, inner)
  }

  private def morPlan(r: DataSourceV2Relation, t: LakeSqlTable,
      pred: LakePredicate): Option[LogicalPlan] = {
    val scan = t.fullScan(pred)
    // cheap metadata-level gate FIRST (manifest-list content types +
    // frozen name mapping — no manifest docs, no jobs, no ScanReport):
    // this rule runs per analyzer fixed-point iteration on EVERY lake
    // query, and the common tombstone-free table must cost nothing here
    if (!scan.mayNeedEngineRead) None
    else if (!scan.needsEngineRead) None
    else {
      val inner = PlanBridge.analyzedPlan(scan.toDF(SparkSession.active))
      // rebind to the relation's attribute ids: schema order and names
      // are identical by construction (both derive from the table
      // metadata's schema), so a positional zip is exact
      require(r.output.map(_.name) == inner.output.map(_.name),
        s"MoR substitution column mismatch for ${t.name()}: " +
          s"${r.output.map(_.name)} vs ${inner.output.map(_.name)}")
      Some(Project(r.output.zip(inner.output).map { case (tgt, src) =>
        Alias(src, tgt.name)(exprId = tgt.exprId, qualifier = tgt.qualifier)
      }, inner))
    }
  }
}

/** Analyzer rule: resolved UPDATE/MERGE over a lake table → runnable
  * command on the transactional API. Non-lake tables pass through
  * untouched (Spark then raises its usual unsupported-operation error). */
object LakeRowLevelCommands extends Rule[LogicalPlan] with PredicateHelper {

  private def lakeTableOf(plan: LogicalPlan): Option[LakeSqlTable] = plan match {
    case SubqueryAlias(_, child) => lakeTableOf(child)
    case r: DataSourceV2Relation => r.table match {
      case t: LakeSqlTable => Some(t)
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u @ UpdateTable(rel, assignments, condition) if u.resolved =>
      lakeTableOf(rel) match {
        case Some(t) =>
          require(!t.isHistorical, s"cannot UPDATE a historical snapshot of ${t.name()}")
          val entries = canonicalAssignments(assignments, checkUpdateValue)
          if (condition.exists(hasSubquery)) {
            val m = planSubqueryMatch(condition.get)
            LakeRowLevelSubqueryCommand(t.lakeTable, "UPDATE",
              entries, m.residual, m.flags, m.prune)
          } else tryPredicate(condition) match {
            case Some(pred) =>
              // exact manifest form: prune and row-match from ONE
              // predicate (metadata-only no-op when nothing overlaps)
              LakeUpdateCommand(t.lakeTable, pred, entries)
            case None =>
              // inexpressible but join-free (round 12 — e.g. `key % 2 =
              // 0`, function calls): the flagged rewrite evaluates the
              // WHOLE condition per row exactly; expressible conjuncts
              // still prune files leniently
              val m = planSubqueryMatch(condition.get)
              LakeRowLevelSubqueryCommand(t.lakeTable, "UPDATE",
                entries, m.residual, Nil, m.prune)
          }
        case None => u
      }

    // DELETE: subquery conditions decorrelate onto the flagged
    // copy-on-write rewrite; join-free inexpressible conditions
    // (round 12) evaluate exactly per row on the same rewrite; and
    // strictly-expressible conditions plan onto [[LakeDeleteCommand]]
    // DIRECTLY (round 16) — leaving them to Spark's SupportsDelete path
    // let the optimizer's inferred constraints (e.g. an IS NOT NULL
    // over a whole conjunct, found by the write fuzz) join the
    // condition, fail the V1 filter translation, and refuse a DELETE
    // the engine expresses exactly.
    case dl @ DeleteFromTable(rel, cond) if dl.resolved =>
      lakeTableOf(rel) match {
        case Some(t) if hasSubquery(cond) =>
          require(!t.isHistorical, s"cannot DELETE from a historical snapshot of ${t.name()}")
          val m = planSubqueryMatch(cond)
          LakeRowLevelSubqueryCommand(t.lakeTable, "DELETE", Nil,
            m.residual, m.flags, m.prune)
        case Some(t) =>
          require(!t.isHistorical, s"cannot DELETE from a historical snapshot of ${t.name()}")
          tryPredicate(Some(cond)) match {
            case Some(pred) => LakeDeleteCommand(t.lakeTable, pred)
            case None =>
              val m = planSubqueryMatch(cond)
              LakeRowLevelSubqueryCommand(t.lakeTable, "DELETE", Nil,
                m.residual, Nil, m.prune)
          }
        case _ => dl
      }

    case m @ MergeIntoTable(target, source, cond, matched, notMatched,
        notMatchedBySource, _) if m.resolved =>
      // withSchemaEvolution needs no handling here: the table declares
      // AUTOMATIC_SCHEMA_EVOLUTION, so Spark's own
      // ResolveMergeIntoSchemaEvolution has ALREADY applied the source's
      // new/widened columns through the catalog's alterTable (ID-assigning
      // metadata commit; old files null-backfill through the projection
      // machinery) and re-loaded the relation before `m.resolved` holds.
      lakeTableOf(target) match {
        case Some(t) =>
          require(!t.isHistorical, s"cannot MERGE into a historical snapshot of ${t.name()}")
          val targetOut = target.outputSet
          val sourceOut = source.outputSet
          val keys = mergeKeys(cond, targetOut, sourceOut)
          if (notMatchedBySource.isEmpty &&
              isCanonicalUpsert(matched, notMatched, sourceOut,
                t.lakeTable.schema.fieldNames))
            // the unconditional whole-row upsert keeps its dedicated
            // path: O(source) merge-on-read routing + schema-identity
            // fast source alignment
            LakeMergeCommand(t.lakeTable, source, keys)
          else {
            val tbl = t.lakeTable
            LakeConditionalMergeCommand(tbl, source, keys,
              matched.map(toClause(_, targetOut, sourceOut, tbl, family = "MATCHED")),
              notMatched.map(toClause(_, targetOut, sourceOut, tbl, family = "NOT MATCHED")),
              notMatchedBySource.map(toClause(_, targetOut, sourceOut, tbl,
                family = "NOT MATCHED BY SOURCE")),
              nmbsPrune(notMatchedBySource))
          }
        case None => m
      }
  }

  /** A WHEN clause's action → serializable spec: conditions/values keep
    * their analyzed Catalyst form (casts, functions) but every attribute
    * rebinds BY NAME into the merge join's prefixed namespace
    * (`__t_<col>` target / `__s_<col>` source — see [[graft.lake.MergeClauseSpec]]),
    * because the command re-reads both sides under fresh attribute ids. */
  private def toClause(action: MergeAction,
      targetOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      sourceOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      table: LakeTable, family: String): LakeMergeClause = {
    def rebind(e: Expression): Expression = {
      if (e.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
        unsupported(s"MERGE WHEN $family with a subquery condition/value " +
          "is not supported")
      val out = e.transform {
        case a: AttributeReference if targetOut.contains(a) =>
          UnresolvedAttribute.quoted("__t_" + a.name)
        case a: AttributeReference if sourceOut.contains(a) =>
          UnresolvedAttribute.quoted("__s_" + a.name)
      }
      out.foreach {
        case a: AttributeReference => unsupported(
          s"MERGE WHEN $family references unknown attribute ${a.name}")
        case _ => ()
      }
      out
    }
    def starFromSource(): Seq[(String, Expression)] =
      table.schema.fieldNames.toSeq.map(n =>
        n -> (UnresolvedAttribute.quoted("__s_" + n): Expression))
    def entries(assigns: Seq[Assignment]): Seq[(String, Expression)] =
      canonicalAssignments(assigns, rebind)
    action match {
      case UpdateStarAction(c) =>
        LakeMergeClause(c.map(rebind), isDelete = false, starFromSource())
      case UpdateAction(c, assigns, _) =>
        LakeMergeClause(c.map(rebind), isDelete = false, entries(assigns))
      case DeleteAction(c) =>
        LakeMergeClause(c.map(rebind), isDelete = true, Nil)
      case InsertStarAction(c) =>
        LakeMergeClause(c.map(rebind), isDelete = false, starFromSource())
      case InsertAction(c, assigns) =>
        // an INSERT has no old row to rebuild a struct around — a nested
        // key here would silently produce a NULL struct, so refuse
        assigns.foreach(a => if (!a.key.isInstanceOf[AttributeReference])
          unsupported(s"MERGE INSERT column ${a.key.sql} must be a " +
            "top-level column (assign the whole struct instead)"))
        LakeMergeClause(c.map(rebind), isDelete = false, entries(assigns))
      case other => unsupported(s"MERGE action ${other.getClass.getSimpleName}")
    }
  }

  /** Lenient may-match file-prune predicate for the NOT-MATCHED-BY-SOURCE
    * family: OR over the clauses of (AND of each clause condition's
    * expressible conjuncts) — expressible conjuncts prune, inexpressible
    * ones fall away toward AlwaysTrue (more files read, never fewer than
    * correct). An unconditional clause is inherently a full-table
    * operation → AlwaysTrue. Conditions here reference only target
    * columns (analyzer-enforced), so plain column names translate. */
  private def nmbsPrune(actions: Seq[MergeAction]): LakePredicate = {
    if (actions.isEmpty) return LakePredicate.AlwaysTrue
    def clausePred(c: Option[Expression]): LakePredicate = c match {
      case None => LakePredicate.AlwaysTrue
      case Some(cond) =>
        splitConjunctivePredicates(foldConstants(cond))
          .flatMap(PlanBridge.translateFilter)
          .map(LakeSqlTable.toLakePredicateLenient)
          .reduceOption[LakePredicate](LakePredicate.And(_, _))
          .getOrElse(LakePredicate.AlwaysTrue)
    }
    actions.map {
      case UpdateAction(c, _, _) => clausePred(c)
      case UpdateStarAction(c) => clausePred(c)
      case DeleteAction(c) => clausePred(c)
      case other => LakePredicate.AlwaysTrue
    }.reduce[LakePredicate] {
      case (LakePredicate.AlwaysTrue, _) => LakePredicate.AlwaysTrue
      case (_, LakePredicate.AlwaysTrue) => LakePredicate.AlwaysTrue
      case (a, b) => LakePredicate.Or(a, b)
    }
  }

  private def unsupported(msg: String): Nothing =
    throw new UnsupportedOperationException(msg)

  /** Catalyst condition → exact manifest predicate, or None. When every
    * conjunct has a strict manifest form, ONE predicate both prunes the
    * copy-on-write rewrite and matches rows (and proves no-op commits
    * metadata-only); otherwise the caller falls back to the flagged
    * rewrite, where the condition evaluates per row exactly and only
    * the expressible conjuncts prune (leniently). */
  private def tryPredicate(condition: Option[Expression]): Option[LakePredicate] =
    condition match {
      case None => Some(LakePredicate.AlwaysTrue)
      case Some(c) =>
        val parts = splitConjunctivePredicates(foldConstants(c)).map { e =>
          PlanBridge.translateFilter(e).flatMap(LakeSqlTable.toLakePredicateStrict)
        }
        if (parts.forall(_.isDefined))
          Some(parts.flatten.reduceLeft[LakePredicate](LakePredicate.And(_, _)))
        else None
    }

  /** This rule runs at ANALYSIS, before the optimizer's constant
    * folding, so a literal the analyzer wrapped in a type-widening cast
    * (`o_orderkey <= CAST(100 AS BIGINT)`) must fold here or the filter
    * translator refuses a perfectly expressible condition. */
  private[sql] def foldConstants(e: Expression): Expression = e.transformUp {
    case f if f.foldable && !f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        f.eval(org.apache.spark.sql.catalyst.expressions.EmptyRow), f.dataType)
  }

  /** SET clause value validation for UPDATE: the value is kept as a
    * Catalyst expression; the command un-resolves attribute references
    * by name at run time because the rewrite re-reads the files under
    * fresh attribute ids. An UNCORRELATED scalar subquery value is
    * allowed since round 12 — the command evaluates it once (it is a
    * constant for the whole statement) and splices the literal; a
    * CORRELATED one captures outer references whose exprIds can never
    * rebind against the fresh re-read — refused CLEANLY at analysis
    * instead of dying unresolved at run(). */
  private def checkUpdateValue(e: Expression): Expression = {
    e.foreach {
      case sq: ScalarSubquery if sq.outerAttrs.isEmpty => ()
      case _: SubqueryExpression => unsupported(
        "UPDATE SET <col> = (subquery) is only supported for an " +
          "uncorrelated scalar subquery")
      case _ => ()
    }
    e
  }

  /** One step of a SET key path below its root column. */
  private[sql] sealed trait PathStep
  /** `s.field` — struct-field descent. */
  private[sql] final case class FieldStep(name: String) extends PathStep
  /** `arr[i]` — array element, FOLDED non-negative integer index
    * (0-based, Spark's convention). */
  private[sql] final case class IndexStep(
      index: org.apache.spark.sql.catalyst.expressions.Literal) extends PathStep
  /** `m[k]` — map value at a FOLDED literal key. */
  private[sql] final case class KeyStep(
      key: org.apache.spark.sql.catalyst.expressions.Literal) extends PathStep

  /** SET key → (root column, step path below it). `SET s.a.x = v`,
    * `SET tags[2] = v` and `SET m['k'] = v` all canonicalize onto
    * their ROOT column — see [[canonicalAssignments]]. Element indices
    * and map keys must fold to literals (a data-dependent index has no
    * static rewrite) or the statement refuses loudly. */
  private def keyPath(e: Expression): (AttributeReference, List[PathStep]) = e match {
    case a: AttributeReference => (a, Nil)
    case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      val (root, p) = keyPath(g.child)
      (root, p :+ FieldStep(g.extractFieldName))
    case g: org.apache.spark.sql.catalyst.expressions.GetArrayItem =>
      val (root, p) = keyPath(g.child)
      val idx = foldConstants(g.ordinal) match {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.value != null => l
        case other => unsupported(
          s"array index in assignment target must be a constant, got ${other.sql}")
      }
      val i = idx.value match {
        case n: java.lang.Number => n.longValue()
        case _ => unsupported(s"array index ${idx.sql} is not integral")
      }
      // out-of-range (incl. negative) indices are row-preserving
      // no-ops, the same rule as a past-the-end index: clamp anything
      // unrepresentable to -1, which matches no element
      val i32 = if (i >= 0 && i <= Int.MaxValue) i.toInt else -1
      (root, p :+ IndexStep(org.apache.spark.sql.catalyst.expressions.Literal(i32)))
    case g: org.apache.spark.sql.catalyst.expressions.GetMapValue =>
      val (root, p) = keyPath(g.child)
      val k = foldConstants(g.key) match {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.value != null => l
        case other => unsupported(
          s"map key in assignment target must be a non-null constant, got ${other.sql}")
      }
      (root, p :+ KeyStep(k))
    case other => unsupported(s"assignment to ${other.sql} is not supported " +
      "(top-level columns, nested STRUCT fields, ARRAY elements by " +
      "constant index, and MAP values by constant key)")
  }

  /** Rebuilds `current` (an expression producing the root column's
    * value) with the element at `path` replaced by `v`, leaving every
    * sibling untouched. Struct fields use UnresolvedExtractValue /
    * UpdateFields nodes that resolve BY NAME at the command's fresh
    * re-read (no ordinals captured — schema evolution between analysis
    * and run cannot skew the write); a NULL struct stays NULL
    * (UpdateFields semantics — the same answer Spark's Column.withField
    * and Iceberg's nested UPDATE give).
    *
    * Array elements rebuild the root as `transform(arr, (x, i) ->
    * IF(i = idx, …, x))` — an OUT-OF-BOUNDS index is a no-op (no
    * element matches, the array is kept; same row-preserving answer as
    * the struct path's NULL rule) and a NULL array stays NULL. Map
    * values rebuild through `map_entries`: a present key's entry is
    * replaced IN PLACE (original entry order preserved — deterministic
    * output), an absent key appends its entry at the end when the map
    * key is the FINAL step (the upsert a user means by `m['k'] = v`);
    * deeper paths under a map key (`m['k'].f = v`) update only when
    * the key is present (nothing exists to descend into otherwise).
    * NULL maps stay NULL. Lambda variables use lake-prefixed names so
    * they can never capture a user column during the command's
    * re-resolution. */
  private def setPath(current: Expression, path: Seq[PathStep],
      v: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    def lam(name: String) = UnresolvedNamedLambdaVariable(Seq(name))
    path match {
      case Seq(FieldStep(last)) =>
        UpdateFields(current, Seq(WithField(last, v)))
      case FieldStep(head) +: tail =>
        UpdateFields(current, Seq(WithField(head,
          setPath(UnresolvedExtractValue(current, Literal(head)), tail, v))))
      case IndexStep(idx) +: tail =>
        // ONE implementation of element semantics — the same
        // [[LakeElementSet]] the SQL sugar lowers onto; the deep-path
        // extraction is evaluated only under the index-match guard
        val inner = if (tail.isEmpty) v
          else setPath(GetArrayItem(current, idx), tail, v)
        LakeElementSet(current, idx, inner, upsert = tail.isEmpty)
      case KeyStep(key) +: tail =>
        val inner = if (tail.isEmpty) v
          else setPath(GetMapValue(current, key), tail, v)
        LakeElementSet(current, key, inner, upsert = tail.isEmpty)
      case Seq() => v
    }
  }

  /** UPDATE / MERGE assignment list → whole-column entries. Nested
    * struct-field assignments (round 12 — Iceberg supports them, this
    * layer refused them) canonicalize onto their root column as a
    * struct-rebuild (UpdateFields) that replaces ONLY the named path,
    * so the rewrite machinery below needs zero nested-path awareness —
    * it keeps applying whole columns by name. Multiple distinct paths
    * under one root compose left-to-right; two assignments where one
    * path PREFIXES the other (including a whole-column + nested pair)
    * are ambiguous-by-order and refuse, exactly like SQL's duplicate-
    * assignment rule. `mapValue` is the per-caller value transform
    * (subquery validation for UPDATE, namespace rebinding for MERGE)
    * and is also applied to the synthesized root reference. */
  private[sql] def canonicalAssignments(assigns: Seq[Assignment],
      mapValue: Expression => Expression): Seq[(String, Expression)] = {
    def render(r: String, p: List[PathStep]): String = r + p.map {
      case FieldStep(n) => s".$n"
      case IndexStep(i) => s"[${i.value}]"
      case KeyStep(k) => s"[${k.sql}]"
    }.mkString
    val order = scala.collection.mutable.LinkedHashMap.empty[String, Expression]
    val seen = scala.collection.mutable.ListBuffer.empty[(String, List[PathStep])]
    assigns.foreach { a =>
      val (root, path) = keyPath(a.key)
      seen.foreach { case (r, p) =>
        if (r == root.name && (p.startsWith(path) || path.startsWith(p)))
          unsupported("conflicting assignments to " +
            render(root.name, path) + " and " +
            render(r, p) + " in one statement")
      }
      seen += ((root.name, path))
      val v = mapValue(a.value)
      if (path.isEmpty) order(root.name) = v
      else order(root.name) =
        setPath(order.getOrElse(root.name, mapValue(root)), path, v)
    }
    order.toSeq
  }

  private def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[SubqueryExpression])

  /** The analyzed pieces of a subquery-bearing row-level condition:
    * join-free conjuncts stay an exact row filter (`residual`) and
    * contribute the LENIENT file-prune predicate; each subquery
    * conjunct becomes a [[LakeSubqueryFlag]] the command turns into a
    * distinct-key join at run time. */
  private[sql] final case class SubqueryMatch(residual: Option[Expression],
      flags: Seq[LakeSubqueryFlag], prune: LakePredicate)

  private def planSubqueryMatch(cond0: Expression): SubqueryMatch = {
    val conjs = splitConjunctivePredicates(foldConstants(cond0))
    val (subs, plain) = conjs.partition(hasSubquery)
    val flags = subs.map(toFlag)
    val prune = plain
      .flatMap(PlanBridge.translateFilter)
      .map(LakeSqlTable.toLakePredicateLenient)
      .reduceOption[LakePredicate](LakePredicate.And(_, _))
      .getOrElse(LakePredicate.AlwaysTrue)
    SubqueryMatch(plain.reduceOption(And), flags, prune)
  }

  /** One subquery conjunct → a flag spec. Supported shapes (anything
    * else refuses loudly at analysis — never a partial apply):
    *  - `x [NOT] IN (uncorrelated subquery)` — single- or multi-value;
    *    NOT IN keeps its three-valued semantics via run-time stats of
    *    the subquery result (any NULL key → never TRUE)
    *  - `[NOT] EXISTS (subquery)` — uncorrelated, or correlated by a
    *    conjunction of simple equalities `outer = innerExpr` sitting in
    *    Filters reachable through the subquery's output-shaping
    *    projections (the CDC `EXISTS (SELECT 1 FROM s WHERE s.k = t.k
    *    AND …)` shape); deeper correlation refuses. */
  private def toFlag(e: Expression): LakeSubqueryFlag = e match {
    case InSubquery(values, lq) =>
      if (lq.outerAttrs.nonEmpty) unsupported(
        "correlated IN subquery conditions are not supported (use EXISTS)")
      LakeSubqueryFlag("in", lq.plan, values)
    case Not(InSubquery(values, lq)) =>
      if (lq.outerAttrs.nonEmpty) unsupported(
        "correlated NOT IN subquery conditions are not supported")
      // single-column only: tuple NOT IN three-valued logic lets a
      // PARTIALLY-null subquery row still exclude tuples whose non-null
      // components differ — the run-time any-null stat that makes
      // single-column NOT IN exact would silently KEEP rows SQL
      // matches. Refuse rather than approximate.
      if (values.size != 1) unsupported(
        "multi-column NOT IN subquery conditions are not supported " +
          "(three-valued tuple semantics); use NOT EXISTS")
      LakeSubqueryFlag("notin", lq.plan, values)
    case ex: Exists =>
      val (pairs, plan) = decorrelateExists(ex.plan)
      LakeSubqueryFlag("exists", plan, pairs.map(_._1),
        innerKeys = pairs.map(_._2))
    case Not(ex: Exists) =>
      val (pairs, plan) = decorrelateExists(ex.plan)
      LakeSubqueryFlag("notexists", plan, pairs.map(_._1),
        innerKeys = pairs.map(_._2))
    case e if e.exists(_.isInstanceOf[SubqueryExpression]) &&
        e.collect { case s: SubqueryExpression => s }
          .forall(_.isInstanceOf[ScalarSubquery]) =>
      // scalar-subquery conjunct (round 13): `x > (SELECT agg FROM t2
      // WHERE t2.k = t.k)` and friends. Each scalar becomes a
      // placeholder attribute the command binds at run time — a
      // statement-constant literal when uncorrelated, a per-key
      // left-joined aggregate when correlated (see
      // [[decorrelateScalarAgg]] for the empty-group treatment).
      val subs = scala.collection.mutable.Buffer.empty[LakeScalarSub]
      val cond = e.transform {
        case sq: ScalarSubquery =>
          val j = subs.length
          if (sq.outerAttrs.isEmpty) subs += LakeScalarSub(sq.plan, Nil, None)
          else subs += decorrelateScalarAgg(sq.plan)
          UnresolvedAttribute(Seq(s"__lake_sq_val_$j"))
      }
      LakeSubqueryFlag("scalar", subs.head.plan, Nil,
        scalarCond = Some(cond), scalars = subs.toSeq)
    case other => unsupported(
      s"subquery condition ${other.sql} is not a supported [NOT] IN / " +
        "[NOT] EXISTS / scalar-comparison shape")
  }

  /** Decorrelate one correlated scalar-aggregate subquery: the inner
    * plan must be a GLOBAL aggregate whose filters correlate through
    * simple `outer = inner` equalities (the `WHERE price > (SELECT
    * avg(price) FROM t2 WHERE t2.k = t.k)` CDC/repair shape —
    * correlation under joins/limits/generators still refuses loudly).
    * Returns the per-key twin — `Aggregate(keys, keys :+ value,
    * strippedChild)`, output = key columns then the value column — plus
    * the ON-EMPTY plan: the ORIGINAL global aggregate over an empty
    * relation, whose single row is exactly what SQL's scalar subquery
    * yields for a key with no inner matches (NULL for avg/sum/min/max,
    * 0 for count — the classic decorrelation count-bug, fixed by
    * construction rather than by special-casing Count). */
  private def decorrelateScalarAgg(root: LogicalPlan): LakeScalarSub = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => strip(c)
      case other => other
    }
    strip(root) match {
      case Aggregate(Seq(), aggExprs, child, _) if aggExprs.size == 1 =>
        val (pairs, stripped) = pullCorrelatedEqualities(child,
          stripProjects = false)
        if (pairs.isEmpty) unsupported(
          "correlated scalar subquery carries no outer = inner equality " +
            "to decorrelate on")
        val keyAliases = pairs.map(_._2).zipWithIndex.map { case (ik, j) =>
          Alias(ik, s"__lake_sq_key_$j")()
        }
        val perKey = Aggregate(pairs.map(_._2), keyAliases :+ aggExprs.head,
          stripped)
        val onEmpty = Aggregate(Seq(), aggExprs,
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
            stripped.output))
        LakeScalarSub(perKey, pairs.map(_._1), Some(onEmpty))
      case other => unsupported(
        s"correlated scalar subquery over a ${other.nodeName} is not a " +
          "global aggregate (only `SELECT agg(...) FROM t WHERE " +
          "t.k = outer.k [AND ...]` decorrelates)")
    }
  }

  /** Pull the correlated equalities out of an EXISTS subquery plan:
    * returns (outerExpr, innerExpr) pairs plus the plan with those
    * conjuncts removed. Output-shaping Projects above the filters are
    * discarded (EXISTS cares only about emptiness), so the command can
    * project the inner key expressions at the peeled plan's top, where
    * the filter scope's attributes are still visible. Correlation
    * anywhere deeper (under aggregates, joins, limits, generators)
    * refuses loudly. */
  private def decorrelateExists(root: LogicalPlan)
      : (Seq[(Expression, Expression)], LogicalPlan) =
    pullCorrelatedEqualities(root, stripProjects = true)

  /** Shared correlation walker for EXISTS (strips output-shaping
    * Projects — emptiness is all that matters) and scalar aggregates
    * (keeps them — the value matters). */
  private def pullCorrelatedEqualities(root: LogicalPlan,
      stripProjects: Boolean)
      : (Seq[(Expression, Expression)], LogicalPlan) = {
    def hasOuterDeep(p: LogicalPlan): Boolean =
      p.exists(_.expressions.exists(_.exists(_.isInstanceOf[OuterReference])))
    def go(p: LogicalPlan, topProjects: Boolean)
        : (Seq[(Expression, Expression)], LogicalPlan) = p match {
      case SubqueryAlias(id, c) =>
        val (pairs, c2) = go(c, topProjects)
        (pairs, SubqueryAlias(id, c2))
      case Project(list, c) if topProjects &&
          !list.exists(_.exists(_.isInstanceOf[OuterReference])) =>
        go(c, topProjects = true)
      case Filter(cond, c) =>
        val (corr, rest) = splitConjunctivePredicates(cond)
          .partition(_.exists(_.isInstanceOf[OuterReference]))
        // one side must be PURELY outer (every attribute under an
        // OuterReference — `t.id + 1` qualifies, `t.id + s.k` does
        // not), the other purely inner; the outer side unwraps into a
        // target-row expression for the semi-join key
        def hasOuter(e: Expression) = e.exists(_.isInstanceOf[OuterReference])
        def innerFree(e: Expression) = !e.transform {
          case _: OuterReference =>
            org.apache.spark.sql.catalyst.expressions.Literal(null)
        }.exists(_.isInstanceOf[AttributeReference])
        def unwrap(e: Expression) = e.transform { case OuterReference(a) => a }
        val pairs = corr.map {
          case EqualTo(l, r) if hasOuter(l) && !hasOuter(r) && innerFree(l) =>
            (unwrap(l), r)
          case EqualTo(l, r) if hasOuter(r) && !hasOuter(l) && innerFree(r) =>
            (unwrap(r), l)
          case other => unsupported(
            s"subquery correlation ${other.sql} is not a simple " +
              "outer = inner equality")
        }
        val (below, c2) = go(c, topProjects = false)
        (pairs ++ below,
          rest.reduceOption(And).map(Filter(_, c2)).getOrElse(c2))
      case other =>
        if (hasOuterDeep(other)) unsupported(
          s"subquery correlation below a ${other.nodeName} operator is not supported")
        (Nil, other)
    }
    go(root, topProjects = stripProjects)
  }

  /** The canonical upsert: WHEN MATCHED THEN UPDATE SET * / WHEN NOT
    * MATCHED THEN INSERT * (raw or analyzer-expanded into full
    * column-aligned assignments from the source), no action conditions.
    * This shape routes to the dedicated [[LakeMergeCommand]] (O(source)
    * merge-on-read twin available); every other grammar shape goes
    * through the general [[LakeConditionalMergeCommand]]. */
  private def isCanonicalUpsert(matched: Seq[MergeAction],
      notMatched: Seq[MergeAction],
      sourceOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      tableColumns: Array[String]): Boolean = {
    // WHOLE-row only: a partial assignment list (SET qty = s.qty with
    // more columns in the table) is NOT the canonical upsert — the
    // dedicated command aligns the source to the full table schema,
    // which a partial source cannot satisfy; the conditional path
    // handles partial updates/inserts correctly
    def identityFromSource(assigns: Seq[Assignment]): Boolean =
      assigns.map(_.key).map {
        case attr: AttributeReference => attr.name
        case _ => return false
      }.toSet == tableColumns.toSet &&
      assigns.forall { a =>
        val k = a.key match {
          case attr: AttributeReference => attr.name
          case _ => return false
        }
        stripTrivial(a.value) match {
          case v: AttributeReference => v.name == k && sourceOut.contains(v)
          case _ => false
        }
      }
    val okMatched = matched match {
      case Seq(UpdateStarAction(None)) => true
      case Seq(UpdateAction(None, assigns, _)) => identityFromSource(assigns)
      case _ => false
    }
    val okNotMatched = notMatched match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, assigns)) => identityFromSource(assigns)
      case _ => false
    }
    okMatched && okNotMatched
  }

  /** Strip the wrappers the analyzer's assignment resolution adds
    * around star-expanded values (Alias, SAFE-WIDENING Cast —
    * source/target type drift — and AssertNotNull for non-nullable
    * targets): the canonical-upsert check cares about the value's
    * IDENTITY, and LakeMergeCommand casts the source to the table
    * schema regardless, so a widening wrapper must not refuse a
    * perfectly canonical MERGE. Only `Cast.canUpCast` casts strip
    * (ADVICE r11): a LOSSY cross-type cast on a merge-key side must
    * NOT canonicalize to a bare name equality — matching under the
    * table schema's narrower type could match rows Spark's coercion
    * of the original ON predicate would not. */
  private def stripTrivial(e: Expression): Expression = e match {
    case Alias(child, _) => stripTrivial(child)
    case c: Cast if Cast.canUpCast(c.child.dataType, c.dataType) =>
      stripTrivial(c.child)
    case a: org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull =>
      stripTrivial(a.child)
    case other => other
  }

  /** ON clause → merge keys: a conjunction of target.k = source.k
    * equalities over same-named columns (the equi-join shape the keyed
    * copy-on-write merge prunes and validates on). */
  private def mergeKeys(cond: Expression,
      targetOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      sourceOut: org.apache.spark.sql.catalyst.expressions.AttributeSet): Seq[String] =
    splitConjunctivePredicates(cond).map { p =>
      // the analyzer wraps the narrower side in Cast when key types
      // differ across sides — strip before shape-matching, the merge
      // itself keys on the table schema's types
      val stripped = p match {
        case EqualTo(l, r) => EqualTo(stripTrivial(l), stripTrivial(r))
        case other => other
      }
      stripped
    }.map {
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if l.name == r.name &&
            ((targetOut.contains(l) && sourceOut.contains(r)) ||
              (targetOut.contains(r) && sourceOut.contains(l))) => l.name
      case other => unsupported(
        s"MERGE condition ${other.sql} is not a target.k = source.k equality " +
          "on a shared column name")
    }.distinct
}

/** `UPDATE t SET ... WHERE ...` as a driver command on the table's
  * row-level planner: only files whose stats may match are read, racing
  * commits that add matching rows fail validation and retry. */
final case class LakeUpdateCommand(
    table: LakeTable,
    pred: LakePredicate,
    assignments: Seq[(String, Expression)]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    // re-resolve attribute references by NAME: the rewrite re-reads the
    // touched files as a fresh DataFrame whose attribute ids differ from
    // the analyzed UPDATE plan's. Uncorrelated scalar subquery values
    // evaluate ONCE here (they are statement constants) and splice in
    // as literals.
    val cols = assignments.map { case (name, value) =>
      name -> ColumnBridge.column(
        LakeSubqueryEval.resolveScalars(spark, value).transform {
          case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
        })
    }.toMap
    val t = table.refresh()
    Wap.refuseRowLevelStaging(spark, "UPDATE", t.name)
    val wap = Wap.writeBranch(spark, t)
    t.runRowLevel(spark, RowLevelOp.update(pred, cols), wap)
    Nil
  }
}

/** `DELETE FROM t WHERE ...` (strictly-expressible condition) as a
  * driver command on the table's row-level planner — the same WAP
  * staging and write mode the DataFrame-API SupportsDelete path
  * applies, minus Spark's V1 filter translation (whose
  * optimizer-inferred conjuncts need not translate; see the round-16
  * DELETE rule note). */
final case class LakeDeleteCommand(
    table: LakeTable,
    pred: LakePredicate) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val t = table.refresh()
    Wap.refuseRowLevelStaging(spark, "DELETE", t.name)
    val wap = Wap.writeBranch(spark, t)
    t.runRowLevel(spark, RowLevelOp.delete(pred), wap)
    Nil
  }
}

/** `MERGE INTO t USING s ON ... ` (canonical upsert) as a driver command
  * on the table's row-level planner: source rows replace same-key rows
  * and unmatched source rows insert ([[LakeTable.mergeInto]] /
  * [[LakeTable.mergeIntoMoR]], as `write.merge.mode` picks). */
final case class LakeMergeCommand(
    table: LakeTable,
    source: LogicalPlan,
    keys: Seq[String]) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val t = table.refresh()
    // align the source to the table schema (same cast rule as INSERT)
    val src = PlanBridge.ofRows(spark, source).select(t.schema.fields.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    Wap.refuseRowLevelStaging(spark, "MERGE", t.name)
    val wap = Wap.writeBranch(spark, t)
    t.runRowLevel(spark, RowLevelOp.Merge(src, keys, None), wap)
    Nil
  }
}

/** One subquery conjunct of a row-level condition, command-serializable.
  * `kind` ∈ in / notin / exists / notexists. For IN flavors the
  * subquery plan's output columns pair positionally with `outerKeys`
  * (the IN value expressions over the target row); for EXISTS flavors
  * `outerKeys`/`innerKeys` are the decorrelated equality sides (empty =
  * uncorrelated, a statement-constant emptiness test). */
final case class LakeSubqueryFlag(
    kind: String,
    plan: LogicalPlan,
    outerKeys: Seq[Expression],
    innerKeys: Seq[Expression] = Nil,
    /** kind="scalar": the conjunct with each ScalarSubquery replaced by
      * an `__lake_sq_val_<j>` placeholder attribute. */
    scalarCond: Option[Expression] = None,
    /** kind="scalar": one entry per placeholder, in index order. */
    scalars: Seq[LakeScalarSub] = Nil)

/** One scalar subquery inside a "scalar" flag conjunct. Uncorrelated:
  * `plan` is the original subquery, `outerKeys` empty, evaluated once
  * to a statement-constant literal. Correlated: `plan` is the per-key
  * aggregate twin (keys projected first, value last), `outerKeys` the
  * target-row join expressions, `onEmpty` the original global
  * aggregate over an empty relation — its single row is the value SQL
  * gives a key with no inner matches (count → 0, avg/sum → NULL). */
final case class LakeScalarSub(
    plan: LogicalPlan,
    outerKeys: Seq[Expression],
    onEmpty: Option[LogicalPlan])

/** Evaluates uncorrelated scalar subqueries in assignment values to
  * literals — once per statement, exactly the SQL semantics of a
  * statement-constant subexpression. */
private[sql] object LakeSubqueryEval {
  def resolveScalars(spark: SparkSession, e: Expression): Expression = e.transform {
    case sq: ScalarSubquery =>
      val rows = PlanBridge.ofRows(spark, sq.plan).limit(2).collect()
      if (rows.length > 1) throw new IllegalStateException(
        "scalar subquery in UPDATE SET returned more than one row")
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        if (rows.isEmpty) null else rows(0).get(0), sq.dataType)
  }
}

/** `UPDATE … WHERE <subquery condition>` / `DELETE … WHERE <subquery
  * condition>` as a driver command on the planner's FLAGGED row mark
  * ([[LakeTable.updateWhereFlagged]]/[[LakeTable.deleteWhereFlagged]]):
  * each subquery conjunct joins the touched-files read against the
  * subquery's DISTINCT keys (left-outer + presence marker, so row
  * multiplicity is preserved and NULL keys never match — exactly SQL's
  * WHERE-context IN/EXISTS semantics), join-free conjuncts evaluate
  * directly, and the whole condition lands as one boolean `__match`
  * column. File pruning and serializable validation use the LENIENT
  * predicate over the join-free conjuncts (superset of true matches —
  * conservative in both roles). */
final case class LakeRowLevelSubqueryCommand(
    table: LakeTable,
    verb: String,
    assignments: Seq[(String, Expression)],
    residual: Option[Expression],
    flags: Seq[LakeSubqueryFlag],
    prune: LakePredicate) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = flags.map(_.plan)

  private def unresolve(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }

  private def flagFn(spark: SparkSession)(
      df0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    import org.apache.spark.sql.Column
    // same rule as the conditional merge: the flag joins `__sqN_*` key
    // and marker columns onto the read — a table column in that
    // namespace would be silently shadowed by the join instead of
    // matched (`__match` is the flag output itself). The MoR read's own
    // `__graft_*` coordinates pass — they are engine-internal, not
    // joinable names.
    // case-INSENSITIVE: Spark resolution is, so `__Match` would be
    // silently replaced by withColumn just like the exact name
    require(!df0.columns.exists(c => c.toLowerCase.startsWith("__sq") ||
        c.equalsIgnoreCase("__match")),
      "column names in the __sq*/__match namespace collide with the " +
        "subquery-flag join")
    var df = df0
    val conds = scala.collection.mutable.Buffer.empty[Column]
    residual.foreach(e => conds += ColumnBridge.column(unresolve(e)))
    flags.zipWithIndex.foreach { case (f, i) =>
      val subRaw = PlanBridge.ofRows(spark, f.plan)
      val keyNames = f.outerKeys.indices.map(j => s"__sq${i}_k$j")
      val marker = s"__sq${i}_m"
      def outerCols = f.outerKeys.map(ok => ColumnBridge.column(unresolve(ok)))
      def joinMarked(keyed: org.apache.spark.sql.DataFrame): Column = {
        val marked = keyed.distinct().withColumn(marker, lit(true))
        val joinCond = outerCols.zip(keyNames.map(col))
          .map { case (ok, kn) => ok === kn }.reduce(_ && _)
        df = df.join(marked, joinCond, "left_outer").drop(keyNames: _*)
        col(marker).isNotNull
      }
      f.kind match {
        case "in" =>
          require(f.outerKeys.size == subRaw.columns.length,
            s"IN subquery arity mismatch: ${f.outerKeys.size} values vs " +
              s"${subRaw.columns.length} output columns")
          conds += joinMarked(subRaw.toDF(keyNames: _*))
        case "notin" =>
          require(f.outerKeys.size == subRaw.columns.length,
            "NOT IN subquery arity mismatch")
          val keyed = subRaw.toDF(keyNames: _*)
          // three-valued NOT IN: any NULL in the subquery result means
          // the predicate is never TRUE; a NULL outer value likewise
          val statsRow = keyed.agg(count(lit(1)),
            sum(when(keyNames.map(col(_).isNull).reduce(_ || _), 1L)
              .otherwise(0L))).head()
          val total = statsRow.getLong(0)
          val nulls = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
          if (total == 0L) conds += lit(true)
          else if (nulls > 0L) conds += lit(false)
          else {
            val hit = joinMarked(keyed)
            conds += (outerCols.map(_.isNotNull).reduce(_ && _) && !hit)
          }
        case "exists" | "notexists" =>
          if (f.outerKeys.isEmpty) {
            // uncorrelated: a statement-constant emptiness test
            val nonEmpty = !subRaw.isEmpty
            conds += lit(if (f.kind == "exists") nonEmpty else !nonEmpty)
          } else {
            val projected = subRaw.select(f.innerKeys.zip(keyNames).map {
              case (ik, kn) => ColumnBridge.column(ik).as(kn) }: _*)
            val hit = joinMarked(projected)
            conds += (if (f.kind == "exists") hit else !hit)
          }
        case "scalar" =>
          // bind each placeholder: uncorrelated → one literal;
          // correlated → left-join the per-key aggregate, then
          // coalesce with the aggregate's on-empty value so a key
          // with no inner matches reads what SQL's scalar subquery
          // yields (count → 0, avg/sum → NULL — the count-bug fix)
          var bound = unresolve(f.scalarCond.get)
          f.scalars.zipWithIndex.foreach { case (sc, j) =>
            val phName = s"__lake_sq_val_$j"
            val valueExpr: Expression = if (sc.outerKeys.isEmpty) {
              val rows = PlanBridge.ofRows(spark, sc.plan).limit(2).collect()
              if (rows.length > 1) throw new IllegalStateException(
                s"scalar subquery in $verb WHERE returned more than one row")
              org.apache.spark.sql.catalyst.expressions.Literal.create(
                if (rows.isEmpty) null else rows(0).get(0),
                sc.plan.output.head.dataType)
            } else {
              val vCol = s"__sq${i}_v$j"
              val kNames = sc.outerKeys.indices.map(q => s"__sq${i}_s${j}_k$q")
              val perKey = PlanBridge.ofRows(spark, sc.plan)
                .toDF(kNames :+ vCol: _*)
              val joinCond = sc.outerKeys
                .map(ok => ColumnBridge.column(unresolve(ok)))
                .zip(kNames.map(col)).map { case (ok, kn) => ok === kn }
                .reduce(_ && _)
              // grouped-by-key ⇒ at most one row per key: multiplicity 1
              df = df.join(perKey, joinCond, "left_outer").drop(kNames: _*)
              val onEmptyVal = sc.onEmpty.map { oe =>
                PlanBridge.ofRows(spark, oe).head().get(0)
              }.orNull
              org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
                UnresolvedAttribute.quoted(vCol),
                org.apache.spark.sql.catalyst.expressions.Literal.create(
                  onEmptyVal, sc.plan.output.last.dataType)))
            }
            bound = bound.transform {
              case u: UnresolvedAttribute if u.nameParts == Seq(phName) =>
                valueExpr
            }
          }
          conds += ColumnBridge.column(bound)
      }
    }
    df.withColumn("__match", conds.reduceOption(_ && _).getOrElse(lit(true)))
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val t = table.refresh()
    Wap.refuseRowLevelStaging(spark, verb, t.name)
    val wap = Wap.writeBranch(spark, t)
    // the table's write.delete/update.mode picks the strategy exactly
    // as for the predicate paths
    val op =
      if (verb == "DELETE") RowLevelOp.Delete(prune, flagFn(spark))
      else RowLevelOp.Update(prune, flagFn(spark), assignments.map { case (name, value) =>
        name -> ColumnBridge.column(
          LakeSubqueryEval.resolveScalars(spark, value).transform {
            case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
          })
      }.toMap)
    t.runRowLevel(spark, op, wap)
    Nil
  }
}

/** One analyzed WHEN clause, command-serializable: conditions/values are
  * Catalyst expressions whose attributes were rebound by name into the
  * merge join's prefixed `__t_*`/`__s_*` namespace (the command re-reads
  * target and source under fresh attribute ids, so analyzed exprIds can
  * never rebind — names can). */
final case class LakeMergeClause(
    condition: Option[Expression],
    isDelete: Boolean,
    assignments: Seq[(String, Expression)])

/** `MERGE INTO` in its FULL grammar — clause conditions, WHEN MATCHED
  * DELETE, multiple first-match-wins clauses per family, WHEN NOT
  * MATCHED BY SOURCE — as a driver command on the row-level planner's
  * conditional merge. `write.merge.mode` picks the strategy:
  * copy-on-write rewrites the key/condition-overlapping files
  * ([[LakeTable.mergeIntoConditional]]); merge-on-read reads them but
  * WRITES only O(affected rows) — positional tombstones plus
  * updated/inserted data files ([[LakeTable.mergeIntoConditionalMoR]]).
  * (The read is unavoidable for the general grammar: clause conditions
  * evaluate against the OLD row, which the canonical upsert's read-free
  * equality-tombstone shortcut never sees — that shape routes to
  * [[LakeMergeCommand]] instead.) */
final case class LakeConditionalMergeCommand(
    table: LakeTable,
    source: LogicalPlan,
    keys: Seq[String],
    matched: Seq[LakeMergeClause],
    notMatched: Seq[LakeMergeClause],
    notMatchedBySource: Seq[LakeMergeClause],
    nmbsPrune: LakePredicate) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val t = table.refresh()
    def toSpec(c: LakeMergeClause): graft.lake.MergeClauseSpec =
      graft.lake.MergeClauseSpec(
        c.condition.map(ColumnBridge.column),
        c.isDelete,
        c.assignments.map { case (n, e) => n -> ColumnBridge.column(e) })
    Wap.refuseRowLevelStaging(spark, "MERGE", t.name)
    val wap = Wap.writeBranch(spark, t)
    // write.merge.mode picks the strategy as for the canonical path
    t.runRowLevel(spark, RowLevelOp.Merge(PlanBridge.ofRows(spark, source), keys,
      Some(RowLevelOp.MergeClauses(matched.map(toSpec), notMatched.map(toSpec),
        notMatchedBySource.map(toSpec), nmbsPrune))), wap)
    Nil
  }
}
