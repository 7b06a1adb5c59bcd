package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal access shim: Spark 4's Column↔Expression bridge
  * (classic.ExpressionUtils) is private[sql], so custom Catalyst
  * expressions need one forwarding object inside the sql package tree.
  * Nothing else of Spark's internals is touched. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Listener-bus drain for the dev probes: `SparkContext.listenerBus` is
  * private[spark]. [[drain]] returns once every event posted so far has
  * reached every listener, so a probe reads complete job and stage
  * records without polling. */
object ListenerBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Logical-plan glue for the row-level SQL command rule: Dataset.ofRows
  * and DataSourceStrategy.translateFilter are private[sql], and the
  * UPDATE/MERGE analyzer rule needs both — a resolved source subplan
  * becomes a DataFrame for the transactional merge, and a Catalyst
  * condition becomes the sources.Filter the manifest-predicate
  * converter understands. */
object PlanBridge {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Coalesce, Literal,
    NamedExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
  import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
  import org.apache.spark.sql.execution.datasources.DataSourceStrategy

  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(s.asInstanceOf[CSparkSession], plan)

  /** A DataFrame's analyzed logical plan — the inverse of [[ofRows]],
    * for rules that splice an API-built read into a SQL plan. */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[_]].queryExecution.analyzed

  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = false)

  /** The row mark of a flagged DELETE / UPDATE, planned by Catalyst:
    * `read`'s columns re-aliased BY NAME to `target`, the analyzed target
    * relation's attributes (columns the target lacks, such as the
    * engine's `__graft_*` coordinates and `_row_id`, pass through), plus
    * `__match = coalesce(condition, false)`. `condition`, and any value
    * analyzed over `target`, so binds by attribute id as analyzed —
    * correlated subqueries included — and Spark's own subquery rewrites
    * plan the joins. */
  def markRows(read: DataFrame, target: Seq[Attribute], condition: Expression): DataFrame = {
    val child = analyzedPlan(read)
    val byName = target.map(a => a.name -> a).toMap
    val bound = Project(child.output.map { a =>
      byName.get(a.name).fold[NamedExpression](a)(t =>
        Alias(a, t.name)(exprId = t.exprId, qualifier = t.qualifier))
    }, child)
    ofRows(read.sparkSession, Project(bound.output :+ markOf(condition), bound))
  }

  /** Spark's analysis checks of the row mark and of `values`, over
    * `target`'s attributes alone: a condition Spark cannot plan in a
    * projection fails here, before any file is read. */
  def checkRowMark(target: Seq[Attribute], condition: Expression,
      values: Seq[Expression]): Unit =
    SparkSession.active.asInstanceOf[CSparkSession].sessionState.analyzer.checkAnalysis(
      Project(markOf(condition) +: values.map(Alias(_, "value")()), LocalRelation(target)))

  private def markOf(condition: Expression): NamedExpression =
    Alias(Coalesce(Seq(condition, Literal.FalseLiteral)), "__match")()
}

/** Filter-pushdown glue for V2 tables that pick their FILE LIST from
  * pushed predicates (manifest-level pruning) and then delegate the
  * actual scan to a Spark file source over exactly those files — a
  * [[ManifestFileIndex]], so the file source neither re-checks nor
  * lists what the manifests already resolved. Lives in the sql package
  * tree because the catalyst-filter pushdown trait
  * (SupportsPushDownCatalystFilters) and FileScanBuilder are
  * private[sql]: Spark's V2 pushdown prefers the catalyst variant, and
  * only it lets us hand the delegate the expressions it needs for
  * row-group pushdown. */
object ScanBridge {
  import graft.lake.DataFileEntry
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
  import org.apache.spark.sql.execution.datasources.DataSourceStrategy
  import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
  import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  import org.apache.spark.sql.sources.Filter
  import org.apache.spark.sql.types.StructType

  /** Storage-partitioned-join layout: the clustering expressions plus
    * one (partition-key row, entries) group per live partition value. */
  type SpjGroups = (Array[org.apache.spark.sql.connector.expressions.Expression],
    Seq[(InternalRow, Seq[DataFileEntry])])

  /** `planFiles(sourceFilters)` prunes the table's manifests to the live
    * entries the filters may match. The built Scan calls it ONCE per
    * filter set (the pushed filters plus any runtime filters) and shares
    * the entries between its statistics, the batch delegate and the SPJ
    * groups, so one read plans — and reports its scan — once.
    * `mkDelegate(entries)` builds the file-source scan builder over
    * those entries; the returned builder then receives the same filters
    * for row-group pushdown and the pruned column set. All filters are
    * reported as residual (pushedFilters = empty), so Spark re-applies
    * them post-scan — manifest pruning must only ever SKIP files, never
    * stand in for row filtering.
    *
    * Statistics are the planned entries' manifest sums (bytes, rows — no
    * IO). Without size estimates Spark never auto-broadcasts a small
    * lake dim in a join — a silent 100 TB shuffle regression, not a
    * cosmetic gap. Estimation is best-effort: a plan that throws
    * estimates unknown-huge, and the batch read rethrows it.
    *
    * `mkStream` (optional): a micro-batch stream factory keyed by the
    * checkpoint location. When provided, the built Scan answers
    * `toMicroBatchStream` with it — and the batch delegate materializes
    * LAZILY, only when the scan is actually consumed as a batch. A
    * streaming read never touches the batch path, so it must not build
    * the batch delegate per stream start, nor hit batch-only refusals (a
    * table carrying live MoR tombstones refuses batch scans without the
    * extensions — its append tail streams fine). `streamReadSchema`
    * stands in for the delegate's readSchema on that lazy path (pruned
    * schema when Spark pruned, else the full data schema — exactly what
    * the file delegate would report).
    *
    * `aggPushdown` (optional): COMPLETE aggregate pushdown from the
    * caller's metadata. Handed Spark's pushed `Aggregation`, it returns
    * the finished result (schema + rows) or None to decline — on
    * Some, `build()` answers with a driver-local scan and the query
    * never touches a data file. Spark only attempts aggregate pushdown
    * when no post-scan filter remains; this builder reports EVERY
    * filter as residual, so a pushed aggregation here always comes from
    * a filterless query — the caller's metadata answer is global. */
  def delegating(planFiles: Array[Filter] => Seq[DataFileEntry],
      mkDelegate: Seq[DataFileEntry] => FileScanBuilder,
      mkStream: Option[String => org.apache.spark.sql.connector.read.streaming.MicroBatchStream]
        = None,
      streamReadSchema: Option[StructType] = None,
      aggPushdown: Option[org.apache.spark.sql.connector.expressions.aggregate.Aggregation
        => Option[(StructType, Array[InternalRow])]] = None,
      // table-level COLUMN statistics (NDV/nulls/bounds/lengths) for
      // CBO — join reordering and selectivity need per-column NDV,
      // which row/byte sums cannot give. Evaluated lazily per
      // estimateStatistics call; empty map = none known.
      colStats: Option[() => java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]] = None,
      // columns whose values Spark may supply AT RUNTIME from a join's
      // build side (dynamic partition pruning, SPARK-35779): reporting
      // the table's partition-source columns lets a selective dim
      // filter prune FACT FILES at execution time — the difference
      // between scanning one partition and scanning 100 TB. Empty =
      // runtime filtering off.
      runtimeFilterAttrs: () => Array[String] = () => Array.empty,
      // storage-partitioned joins (SPJ, SPARK-37375): `spjGroups(entries)`
      // groups a filter set's planned entries by live partition value,
      // or returns None when the table isn't cleanly partitioned. When
      // Some, the scan reports KeyGroupedPartitioning and plans one
      // HasPartitionKey input-partition set per group (each through
      // `mkDelegate` over the group's entries), so two tables
      // partitioned the same way join WITHOUT shuffling either side
      // (gated by Spark's spark.sql.sources.v2.bucketing.enabled;
      // bucket transforms resolve through the catalog's FunctionCatalog).
      spjGroups: Option[Seq[DataFileEntry] => Option[SpjGroups]] = None)
      : ScanBuilder =
    new ScanBuilder with SupportsPushDownCatalystFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
      private var exprs: Seq[Expression] = Nil
      private var required: Option[StructType] = None
      private var aggResult: Option[(StructType, Array[InternalRow])] = None
      private var aggFor
          : Option[org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = None

      // Spark calls supportCompletePushDown then pushAggregation with
      // the same Aggregation; compute once and reuse — the metadata
      // answer costs a manifest walk, and paying it twice per query
      // doubles driver metadata I/O on large tables
      private def computeAgg(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Option[(StructType, Array[InternalRow])] = {
        if (!aggFor.contains(agg)) {
          aggResult = aggPushdown.flatMap(_(agg))
          aggFor = Some(agg)
        }
        aggResult
      }

      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        computeAgg(agg).isDefined

      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        // complete-or-nothing: a partial push would make Spark re-merge
        // scan rows, and metadata answers are already final
        computeAgg(agg).isDefined

      override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
        exprs = filters
        filters // everything stays a residual; see scaladoc
      }

      override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
        Array.empty

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)

      override def build(): Scan = {
        aggResult match {
          case Some((aggSchema, aggRows)) =>
            // the aggregation was answered from metadata: a driver-local
            // scan IS the result — zero files opened, zero tasks
            return new org.apache.spark.sql.connector.read.LocalScan {
              override def readSchema(): StructType = aggSchema
              override def rows(): Array[InternalRow] = aggRows
            }
          case None => ()
        }
        lazy val translated = exprs.flatMap(e =>
          DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)).toArray
        def buildInner(entries: Seq[DataFileEntry]): Scan = {
          val delegate = mkDelegate(entries)
          delegate.pushFilters(exprs) // parquet row-group/page pushdown
          required.foreach(delegate.pruneColumns)
          delegate.build()
        }
        // one filter set's plan: the entries, then the delegate scan and
        // the SPJ groups built from them
        final class Planned(val runtime: Array[Filter]) {
          val entries: scala.util.Try[Seq[DataFileEntry]] =
            scala.util.Try(planFiles(translated ++ runtime))
          lazy val inner: Scan = buildInner(entries.get)
          lazy val spj: Option[SpjGroups] = for {
            f <- spjGroups
            es <- entries.toOption
            g <- f(es)
            if g._2.nonEmpty
          } yield g
        }
        // the stats-reporting wrapper applies UNCONDITIONALLY — a
        // historical (AS OF) handle has no stream factory but its
        // reads need manifest-sum + column statistics exactly like
        // current reads (round-11: the None case returned the bare
        // delegate, so time-travel plans lost all DSv2 statistics)
        new Scan
            with org.apache.spark.sql.connector.read.SupportsReportStatistics
            with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
            with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
          // re-plannable, not lazy: a runtime filter() arrives AFTER the
          // batch delegate may have been planned, and the whole point is
          // to re-plan the file list under the narrowed predicate
          private var runtimeV1: Array[Filter] = Array.empty
          private var current: Planned = null
          private def planned: Planned = {
            if (current == null || (current.runtime ne runtimeV1))
              current = new Planned(runtimeV1)
            current
          }
          override def filterAttributes()
              : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
            runtimeFilterAttrs().map(
              org.apache.spark.sql.connector.expressions.Expressions.column)
          override def filter(
              predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
              : Unit = {
            // v2 runtime predicates (IN-sets from the join build side)
            // → v1 filters the manifest pruning understands;
            // untranslatable ones drop — runtime filters only ever SKIP
            // files, Spark re-applies the join itself
            val v1 = predicates.flatMap(p =>
              org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p))
            if (v1.nonEmpty) runtimeV1 = runtimeV1 ++ v1
          }

          override def outputPartitioning()
              : org.apache.spark.sql.connector.read.partitioning.Partitioning =
            planned.spj match {
              case Some((exprs, groups)) =>
                new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
                  exprs, groups.size)
              case None =>
                new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
            }

          override def readSchema(): StructType =
            streamReadSchema.map(s => required.getOrElse(s))
              .getOrElse(planned.inner.readSchema())
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            planned.spj match {
              case Some((_, groups)) =>
                new org.apache.spark.sql.connector.read.Batch {
                  // the parquet reader factory is file-list-agnostic
                  // (files ride in the InputPartitions), so ONE group's
                  // delegate supplies the factory for every group
                  private lazy val factoryDelegate = buildInner(groups.head._2).toBatch
                  override def planInputPartitions()
                      : Array[org.apache.spark.sql.connector.read.InputPartition] =
                    groups.toArray.flatMap { case (key, entries) =>
                      buildInner(entries).toBatch.planInputPartitions()
                        .map(p => SpjPartition(p, key))
                    }
                  override def createReaderFactory()
                      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
                    new SpjReaderFactory(factoryDelegate.createReaderFactory())
                }
              case None => planned.inner.toBatch
            }
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
            mkStream.map(_(checkpointLocation)).getOrElse(
              throw new UnsupportedOperationException(
                "this table handle does not support streaming reads"))
          override def description(): String =
            streamReadSchema.fold(planned.inner.description())(_ => "graft-lake scan")
          override def estimateStatistics()
              : org.apache.spark.sql.connector.read.Statistics = {
            import java.util.OptionalLong
            val cols = colStats.map(_())
              .getOrElse(java.util.Collections.emptyMap[
                org.apache.spark.sql.connector.expressions.NamedReference,
                org.apache.spark.sql.connector.read.colstats.ColumnStatistics]())
            val (bytes, rows) = planned.entries
              .map(es => (es.map(_.sizeBytes).sum, es.map(_.recordCount).sum))
              .getOrElse((Long.MaxValue, Long.MaxValue))
            new org.apache.spark.sql.connector.read.Statistics {
              override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
              override def numRows(): OptionalLong = OptionalLong.of(rows)
              override def columnStats() = cols
            }
          }
        }
      }
    }

  /** A delegate file split tagged with its partition-value key — what
    * KeyGroupedPartitioning needs to co-locate matching keys without a
    * shuffle. Serializable: ships to executors inside the task. */
  private final case class SpjPartition(
      inner: org.apache.spark.sql.connector.read.InputPartition,
      key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def preferredLocations(): Array[String] = inner.preferredLocations()
    override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  }

  /** Unwraps [[SpjPartition]] before handing splits to the real parquet
    * reader factory; forwards the columnar path so vectorized reading
    * survives the SPJ wrapper. */
  private final class SpjReaderFactory(
      delegate: org.apache.spark.sql.connector.read.PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    private def unwrap(p: org.apache.spark.sql.connector.read.InputPartition) =
      p.asInstanceOf[SpjPartition].inner
    override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] =
      delegate.createReader(unwrap(p))
    override def createColumnarReader(p: org.apache.spark.sql.connector.read.InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.vectorized.ColumnarBatch] =
      delegate.createColumnarReader(unwrap(p))
    override def supportColumnarReads(
        p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
      delegate.supportColumnarReads(unwrap(p))
  }
}
