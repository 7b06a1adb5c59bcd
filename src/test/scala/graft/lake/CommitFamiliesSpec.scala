package graft.lake

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

/** Characterization of every snapshot-producing commit family, through
  * the public API only: plain, branch, staged, exactly-once and
  * imported appends; copy-on-write and merge-on-read row deltas on main
  * and on a branch; the compaction family; full replaces (INSERT
  * OVERWRITE and RTAS); the incremental-view refresh. For each landed
  * snapshot it pins the operation, the parent, which ref moved, the
  * summary's count keys, the table's next row id, the row-lineage
  * broken flag and the commit report's counters. The report's meters
  * must also agree with the landed snapshot's own files and deletes. */
class CommitFamiliesSpec extends LakeSuite {
  import CommitFamiliesSpec._

  /** Runs `op`, which must land exactly one snapshot on `t`. */
  private def land(t: LakeTable, reports: Reports)(op: => Any): Landed = {
    val before = t.refresh().metadata
    val n = reports.size
    op
    val after = t.refresh().metadata
    assert(reports.size === n + 1, "one commit, one report")
    val report = reports.last
    Landed(before, after, after.snapshot(report.snapshotId).get, report)
  }

  /** Pins one landed commit. `counts` follows [[SummaryCounts]];
    * `totals` is (data files, delete files, records, positional
    * deletes, equality deletes) of the report. */
  private def pin(l: Landed, op: String, parent: Option[Long], moved: Set[String],
      counts: Seq[Long], nextRowId: Long, broken: Boolean,
      totals: (Long, Long, Long, Long, Long)): Unit = {
    val r = l.report
    assert((l.snap.operation, l.snap.parentId, l.moved) === ((op, parent, moved)))
    assert(l.counts === counts)
    assert((l.after.nextRowId, l.broken) === ((nextRowId, broken)))
    assert((r.totalDataFiles, r.totalDeleteFiles, r.totalRecords,
      r.totalPositionalDeletes, r.totalEqualityDeletes) === totals)
    assert((r.attempts, r.addedDataFiles, r.addedRecords) ===
      ((1L, counts.head, counts(2))))
    // the meters describe the landed snapshot
    val s = l.snap
    val parentPaths = parent.flatMap(l.before.snapshot).map(_.files.map(_.path).toSet)
      .getOrElse(Set.empty[String])
    val added = s.files.filterNot(f => parentPaths(f.path))
    assert((r.snapshotId, r.addedFilesSizeInBytes) === ((s.id, added.map(_.sizeBytes).sum)))
    assert((r.totalDataFiles, r.totalRecords, r.totalFilesSizeInBytes) ===
      ((s.files.size.toLong, s.files.map(_.recordCount).sum, s.files.map(_.sizeBytes).sum)))
    assert(r.totalDeleteFiles ===
      (s.deleteFiles.size + s.eqDeleteFiles.size + s.dvFiles.size).toLong)
    assert(r.totalPositionalDeletes ===
      (s.deleteFiles ++ s.dvFiles).map(_.recordCount).sum)
    assert(r.totalEqualityDeletes === s.eqDeleteFiles.map(_.recordCount).sum)
    // every live data file carries row lineage
    assert(s.files.forall(_.firstRowId.isDefined))
  }

  private def table(name: String): (LakeCatalog, LakeTable, Reports) = {
    val reports = new Reports
    val cat = LakeCatalog.open(freshWarehouse(), reports)
    (cat, cat.createTable("ns", name, ordersDF.schema), reports)
  }

  private val statusF = LakePredicate.Eq("o_orderstatus", "F")
  private val urgent = LakePredicate.Eq("o_orderpriority", "1-URGENT")
  private val low = LakePredicate.Eq("o_orderpriority", "5-LOW")

  test("appends: plain, branch, staged, exactly-once and addFiles") {
    val (_, t, rep) = table("a")
    val plain = land(t, rep)(t.appendData(ordersDF, numFiles = 2))
    pin(plain, "append", None, Set("main"),
      Seq(2L, 0L, 1500L, 0L, 0L, 0L),
      nextRowId = 1500L, broken = false, totals = (2L, 0L, 1500L, 0L, 0L))
    t.createBranch("b")
    val branch = land(t, rep)(t.appendDataToBranch("b", ordersDF.limit(100), numFiles = 1))
    pin(branch, "append", Some(1L), Set("b"),
      Seq(1L, 0L, 100L, 0L, 0L, 0L),
      nextRowId = 1600L, broken = false, totals = (3L, 0L, 1600L, 0L, 0L))
    val staged = land(t, rep)(t.stageAppend(ordersDF.limit(50), "w1", numFiles = 1))
    pin(staged, "append", Some(1L), Set.empty,
      Seq(1L, 0L, 50L, 0L, 0L, 0L),
      nextRowId = 1650L, broken = false, totals = (3L, 0L, 1550L, 0L, 0L))
    assert(staged.snap.summary.get("wap.id") === Some("w1"))
    val once = land(t, rep)(t.appendDataExactlyOnce(ordersDF.limit(10), "s", 1L))
    pin(once, "append", Some(1L), Set("main"),
      Seq(1L, 0L, 10L, 0L, 0L, 0L),
      nextRowId = 1660L, broken = false, totals = (3L, 0L, 1510L, 0L, 0L))
    assert(once.snap.summary.get("streaming-sink-id") === Some("s"))
    assert(once.snap.summary.get("streaming-batch-id") === Some("1"))
    assert(once.after.properties.get("streaming.last-batch-id.s") === Some("1"))
    // a replayed batch commits nothing
    val n = rep.size
    assert(t.refresh().appendDataExactlyOnce(ordersDF.limit(10), "s", 1L).isEmpty)
    assert(rep.size === n)
    val src = freshWarehouse() + "/src"
    ordersDF.limit(30).coalesce(1).write.parquet(src)
    val imported = land(t, rep)(t.addFiles(spark, src))
    pin(imported, "append", Some(4L), Set("main"),
      Seq(1L, 0L, 30L, 0L, 0L, 0L),
      nextRowId = 1690L, broken = false, totals = (4L, 0L, 1540L, 0L, 0L))
    assert(imported.snap.summary.get("added-files-source") === Some(src))
    assert(imported.after.nameMapping.nonEmpty)
  }

  test("row deltas: copy-on-write and merge-on-read, on main and on a branch") {
    val (_, t, rep) = table("r")
    t.appendData(ordersDF, numFiles = 4)
    val cowDelete = land(t, rep)(t.deleteWhere(spark, statusF))
    pin(cowDelete, "delete", Some(1L), Set("main"),
      Seq(4L, 4L, 1007L, 0L, 0L, 0L),
      nextRowId = 2507L, broken = false, totals = (4L, 0L, 1007L, 0L, 0L))
    val cowUpdate = land(t, rep)(t.updateWhere(spark, urgent, Map("o_comment" -> lit("u"))))
    pin(cowUpdate, "overwrite", Some(2L), Set("main"),
      Seq(4L, 4L, 1007L, 0L, 0L, 0L),
      nextRowId = 3514L, broken = false, totals = (4L, 0L, 1007L, 0L, 0L))
    val morDelete = land(t, rep)(t.deleteWhereMoR(spark, low))
    pin(morDelete, "delete", Some(3L), Set("main"),
      Seq(0L, 0L, 0L, 1L, 188L, 0L),
      nextRowId = 3514L, broken = false, totals = (4L, 1L, 1007L, 188L, 0L))
    val morUpdate = land(t, rep)(t.updateWhereMoR(spark,
      LakePredicate.Eq("o_orderpriority", "2-HIGH"), Map("o_comment" -> lit("m"))))
    pin(morUpdate, "overwrite", Some(4L), Set("main"),
      Seq(4L, 0L, 223L, 1L, 223L, 0L),
      nextRowId = 3737L, broken = false, totals = (8L, 2L, 1230L, 411L, 0L))
    val upserts = ordersDF.filter(col("o_orderstatus") === "O").limit(20)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    val morMerge = land(t, rep)(t.mergeIntoMoRExactlyOnce(spark, upserts,
      Seq("o_orderkey"), "m", 7L))
    pin(morMerge, "overwrite", Some(5L), Set("main"),
      Seq(1L, 0L, 20L, 1L, 0L, 20L),
      nextRowId = 3757L, broken = false, totals = (9L, 3L, 1250L, 411L, 20L))
    assert(morMerge.after.properties.get("streaming.last-batch-id.m") === Some("7"))
    t.createBranch("b")
    val head = t.refresh().currentSnapshotId
    val branchCow = land(t, rep)(t.deleteWhere(spark,
      LakePredicate.Eq("o_orderpriority", "3-MEDIUM"), branch = Some("b")))
    pin(branchCow, "delete", Some(6L), Set("b"),
      Seq(3L, 5L, 400L, 0L, 0L, 0L),
      nextRowId = 4157L, broken = false, totals = (7L, 3L, 623L, 411L, 20L))
    val branchMoR = land(t, rep)(t.deleteWhereMoR(spark,
      LakePredicate.Eq("o_orderpriority", "4-NOT SPECIFIED"), branch = Some("b")))
    pin(branchMoR, "delete", Some(7L), Set("b"),
      Seq(0L, 0L, 0L, 1L, 211L, 0L),
      nextRowId = 4157L, broken = false, totals = (7L, 4L, 623L, 622L, 20L))
    assert(t.refresh().currentSnapshotId === head)
  }

  test("rewrites: compact, compactWhere, compactSmallFiles, rewritePositionDeletes") {
    val (_, empty, erep) = table("e")
    val nothing = land(empty, erep)(empty.compact(spark, 1))
    pin(nothing, "replace", None, Set("main"),
      Seq(0L, 0L, 0L, 0L, 0L, 0L),
      nextRowId = 0L, broken = false, totals = (0L, 0L, 0L, 0L, 0L))
    val (_, t, rep) = table("c")
    t.appendData(ordersDF, numFiles = 4)
    t.deleteWhereMoR(spark, statusF)
    val rpd = land(t, rep)(t.rewritePositionDeletes(spark))
    pin(rpd, "replace", Some(2L), Set("main"),
      Seq(4L, 4L, 1007L, 0L, 0L, 0L),
      nextRowId = 2507L, broken = false, totals = (4L, 0L, 1007L, 0L, 0L))
    t.appendData(ordersDF.limit(200), numFiles = 4)
    val small = land(t, rep)(t.compactSmallFiles(spark, 1L << 30))
    pin(small, "replace", Some(4L), Set("main"),
      Seq(1L, 8L, 1207L, 0L, 0L, 0L),
      nextRowId = 3914L, broken = false, totals = (1L, 0L, 1207L, 0L, 0L))
    t.deleteWhereMoR(spark, urgent)
    val where = land(t, rep)(t.compactWhere(spark, low, targetFiles = 2))
    pin(where, "replace", Some(6L), Set("main"),
      Seq(2L, 1L, 988L, 0L, 0L, 0L),
      nextRowId = 4902L, broken = false, totals = (2L, 1L, 988L, 219L, 0L))
    val full = land(t, rep)(t.compact(spark, 2))
    pin(full, "replace", Some(7L), Set("main"),
      Seq(2L, 2L, 988L, 0L, 0L, 0L),
      nextRowId = 5890L, broken = false, totals = (2L, 0L, 988L, 0L, 0L))
  }

  test("replaces: overwriteAll and RTAS") {
    val (cat, t, rep) = table("o")
    t.appendData(ordersDF, numFiles = 2)
    t.setProperty(LakeTable.RowLineageBrokenProp, "true")
    val over = land(t, rep)(t.overwriteAll(ordersDF.limit(100)))
    pin(over, "overwrite", Some(1L), Set("main"),
      Seq(1L, 2L, 100L, 0L, 0L, 0L),
      nextRowId = 1600L, broken = false, totals = (1L, 0L, 100L, 0L, 0L))
    val narrow = ordersDF.select(col("o_orderkey"), col("o_custkey")).limit(70)
    val template = TableMetadata("ns.o", cat.tableRoot("ns", "o").uri, narrow.schema,
      Nil, snapshots = Nil, currentSnapshotId = -1L).withFieldIdDefaults
    val entries = new LakeTable(cat, "ns", "o", template, 0).writeDataFiles(narrow)
    val rtas = land(t, rep)(t.replaceContentsWith(template, entries))
    pin(rtas, "replace", Some(2L), Set("main"),
      Seq(1L, 1L, 70L, 0L, 0L, 0L),
      nextRowId = 1670L, broken = false, totals = (1L, 0L, 70L, 0L, 0L))
    assert(rtas.after.snapshots.map(_.id) === Seq(rtas.snap.id))
    assert(rtas.after.schema.fieldNames.toSeq === Seq("o_orderkey", "o_custkey"))
  }

  test("incremental view refresh") {
    import org.apache.spark.sql.types._
    val reports = new Reports
    val cat = LakeCatalog.open(freshWarehouse(), reports)
    val base = cat.createTable("ns", "b", ordersDF.schema)
    val view = cat.createTable("ns", "v", StructType(Seq(
      StructField("o_orderpriority", StringType), StructField("cnt", LongType),
      StructField("cents", LongType))))
    val cents = "cents" -> expr("CAST(floor(o_totalprice * 100) AS LONG)")
    def refresh() = IncrementalAggView.refresh(spark, base.refresh(), view,
      Seq("o_orderpriority"), Seq(cents), Nil, Nil)
    base.appendData(ordersDF.limit(600), numFiles = 2)
    val first = land(view, reports)(refresh())
    pin(first, "replace", None, Set("main"),
      Seq(1L, 0L, 5L, 0L, 0L, 0L),
      nextRowId = 5L, broken = false, totals = (1L, 0L, 5L, 0L, 0L))
    base.refresh().appendData(ordersDF.limit(300), numFiles = 1)
    val second = land(view, reports)(refresh())
    pin(second, "replace", Some(1L), Set("main"),
      Seq(1L, 1L, 5L, 0L, 0L, 0L),
      nextRowId = 10L, broken = true, totals = (1L, 0L, 5L, 0L, 0L))
  }
}

object CommitFamiliesSpec {
  final class Reports extends MetricsReporter {
    private val buf = ArrayBuffer.empty[CommitReport]
    def report(r: MetricsReport): Unit = r match {
      case c: CommitReport => synchronized { buf += c }
      case _ => ()
    }
    def size: Int = synchronized(buf.size)
    def last: CommitReport = synchronized(buf.last)
  }

  final case class Landed(before: TableMetadata, after: TableMetadata,
      snap: Snapshot, report: CommitReport) {
    /** The refs whose head changed: "main" and branch names. */
    def moved: Set[String] =
      (if (after.currentSnapshotId != before.currentSnapshotId) Set("main")
       else Set.empty[String]) ++
        after.refs.collect { case (n, r)
          if !before.refs.get(n).exists(_.snapshotId == r.snapshotId) => n }
    def counts: Seq[Long] = SummaryCounts.map(k => snap.summary(k).toLong)
    def broken: Boolean =
      after.properties.get(LakeTable.RowLineageBrokenProp).contains("true")
  }

  val SummaryCounts = Seq("added-data-files", "removed-data-files",
    "added-records", "added-delete-files", "added-position-deletes",
    "added-equality-deletes")
}
