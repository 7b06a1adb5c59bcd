package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Strategy equivalence of the row-level operations: every DELETE /
  * UPDATE / MERGE form (by predicate, by flag, replaceWhere, canonical
  * and conditional MERGE), run under copy-on-write, merge-on-read with
  * parquet tombstones and merge-on-read with deletion vectors, on main
  * and on a branch, starting from ONE seeded state. All strategies of a
  * family must leave the same live rows; each strategy must also keep
  * its own promise — copy-on-write adds no delete file, merge-on-read
  * removes no data file. The seed already carries live tombstones, so
  * every read of the touched files has something to subtract. */
class RowLevelStrategySpec extends LakeSuite {

  private val schema3 = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType),
    StructField("s", StringType)))

  private def rows(rs: Seq[(Long, Long, String)]): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](
      rs.map { case (i, v, s) => Row(i, v, s) }.asJava0), schema3)

  private sealed trait Strategy
  private case object CoW extends Strategy
  private case object MoRTombstones extends Strategy
  private case object MoRDvs extends Strategy
  private val strategies = Seq(CoW, MoRTombstones, MoRDvs)

  /** Seed: ids 1..60 over 3 files, ids 56..60 deleted by a live
    * positional tombstone. */
  private val seedLive: Map[Long, (Long, String)] =
    (1L to 55L).map(i => i -> (i, if (i % 4 == 0) "x" else "y")).toMap

  private val delPred = LakePredicate.And(LakePredicate.Ge("id", 10L),
    LakePredicate.Le("id", 20L))
  private val delLenient = LakePredicate.Ge("id", 5L)
  private val delFlag: DataFrame => DataFrame =
    _.withColumn("__match", col("id").between(10L, 20L))
  private val updPred = LakePredicate.And(LakePredicate.Ge("id", 30L),
    LakePredicate.Le("id", 40L))
  private val updFlag: DataFrame => DataFrame =
    _.withColumn("__match", col("id").between(30L, 40L))
  private val updSet = Map("v" -> col("v") * 100L, "s" -> lit("u"))
  private val repPred = LakePredicate.Le("id", 5L)
  private val repRows = Seq((1L, -1L, "r"), (2L, -2L, "r"), (3L, -3L, "r"))
  private val mergeRows =
    (25L to 29L).map(i => (i, -i, "m")) ++ Seq((100L, 100L, "n"), (101L, 101L, "n"))

  private val expectDelete = seedLive -- (10L to 20L)
  private val expectUpdate = seedLive ++ (30L to 40L).map(i => i -> (i * 100L, "u"))
  private val expectReplace = seedLive -- (1L to 5L) ++
    repRows.map { case (i, v, s) => i -> (v, s) }
  private val expectMerge = seedLive ++ mergeRows.map { case (i, v, s) => i -> (v, s) }

  /** (name, expected live rows, whether the op honours the strategy,
    * run). replaceWhere has one, copy-on-write, form. */
  private val ops: Seq[(String, Map[Long, (Long, String)], Boolean,
      (LakeTable, Boolean, Option[String]) => Unit)] = Seq(
    ("delete by predicate", expectDelete, true, (t, mor, b) =>
      if (mor) t.deleteWhereMoR(spark, delPred, branch = b)
      else t.deleteWhere(spark, delPred, branch = b)),
    ("delete by flag", expectDelete, true, (t, mor, b) =>
      if (mor) t.deleteWhereFlaggedMoR(spark, delLenient, delFlag, branch = b)
      else t.deleteWhereFlagged(spark, delLenient, delFlag, branch = b)),
    ("update by predicate", expectUpdate, true, (t, mor, b) =>
      if (mor) t.updateWhereMoR(spark, updPred, updSet, branch = b)
      else t.updateWhere(spark, updPred, updSet, branch = b)),
    ("update by flag", expectUpdate, true, (t, mor, b) =>
      if (mor) t.updateWhereFlaggedMoR(spark, LakePredicate.AlwaysTrue, updFlag,
        updSet, branch = b)
      else t.updateWhereFlagged(spark, LakePredicate.AlwaysTrue, updFlag,
        updSet, branch = b)),
    ("replaceWhere", expectReplace, false, (t, _, b) =>
      t.replaceWhere(spark, repPred, rows(repRows), branch = b)),
    ("canonical merge", expectMerge, true, (t, mor, b) =>
      if (mor) t.mergeIntoMoR(spark, rows(mergeRows), Seq("id"), branch = b)
      else t.mergeInto(spark, rows(mergeRows), Seq("id"), branch = b)),
    ("conditional merge", expectMerge, true, { (t, mor, b) =>
      val matched = Seq(MergeClauseSpec(None, isDelete = false,
        Seq("v" -> col("__s_v"), "s" -> col("__s_s"))))
      val notMatched = Seq(MergeClauseSpec(None, isDelete = false,
        Seq("id" -> col("__s_id"), "v" -> col("__s_v"), "s" -> col("__s_s"))))
      if (mor) t.mergeIntoConditionalMoR(spark, rows(mergeRows), Seq("id"),
        matched, notMatched, branch = b)
      else t.mergeIntoConditional(spark, rows(mergeRows), Seq("id"),
        matched, notMatched, branch = b)
    }))

  private def deleteKeys(s: Snapshot): Set[String] =
    (s.deleteFiles ++ s.eqDeleteFiles).map(_.path).toSet ++
      s.dvFiles.map(e => e.path + "#" + LakeTable.dvRef(e))

  test("every row-level form leaves the same live rows under CoW, MoR tombstones and MoR DVs") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "strat", schema3)
    t.appendData(rows((1L to 60L).map(i => (i, i, if (i % 4 == 0) "x" else "y"))),
      numFiles = 3)
    t.refresh().deleteWhereMoR(spark, LakePredicate.Ge("id", 56L))
    val seed = t.refresh().metadata.currentSnapshot.get
    assert(seed.deleteFiles.nonEmpty, "seed must carry live tombstones")
    val seedData = seed.files.map(_.path).toSet
    val seedDeletes = deleteKeys(seed)
    var n = 0
    for (strategy <- strategies; branch <- Seq(false, true);
         (name, expected, honours, run) <- ops) {
      n += 1
      val where = s"$name / $strategy / ${if (branch) "branch" else "main"}"
      if (strategy == MoRDvs) t.refresh().setProperty("write.delete.vector.enabled", "true")
      else t.refresh().removeProperty("write.delete.vector.enabled")
      val b = if (branch) Some(s"b$n") else None
      b match {
        case Some(ref) => t.refresh().createBranch(ref, seed.id)
        case None => t.refresh().rollbackTo(seed.id)
      }
      val mainBefore = t.refresh().currentSnapshotId
      run(t.refresh(), strategy != CoW, b)
      val cur = t.refresh()
      val head = cur.metadata.snapshot(b.fold(cur.currentSnapshotId)(
        cur.refs(_).snapshotId)).get
      assert(head.id != seed.id, s"$where committed nothing")
      if (branch)
        assert(cur.currentSnapshotId == mainBefore, s"$where moved main")
      val live = b.fold(cur.newScan())(cur.scanRef(_)).toDF(spark).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toSeq
      assert(live.size == live.map(_._1).distinct.size, s"$where left duplicate ids")
      assert(live.toMap == expected, s"$where: wrong live rows")
      if (strategy == CoW || !honours)
        assert(deleteKeys(head) == seedDeletes, s"$where (copy-on-write) added a delete file")
      else {
        assert(seedData.subsetOf(head.files.map(_.path).toSet),
          s"$where (merge-on-read) removed a data file")
        assert(deleteKeys(head) != seedDeletes, s"$where (merge-on-read) added no delete file")
      }
    }
    assert(n == strategies.size * 2 * ops.size)
  }

  test("a table column named __match is refused, never overwritten by the row mark") {
    val cat = LakeCatalog.open(freshWarehouse())
    val s = StructType(Seq(StructField("id", LongType), StructField("__Match", StringType)))
    val t = cat.createTable("ns", "mark", s)
    t.appendData(spark.createDataFrame(new java.util.ArrayList[Row](
      Seq(Row(1L, "a"), Row(2L, "b")).asJava0), s))
    val before = t.refresh().currentSnapshotId
    val e = intercept[IllegalArgumentException](
      t.refresh().updateWhere(spark, LakePredicate.Eq("id", 1L), Map("id" -> lit(9L))))
    assert(e.getMessage.contains("__match"))
    assert(t.refresh().currentSnapshotId == before)
    assert(t.refresh().newScan().toDF(spark).collect().map(_.getString(1)).sorted.toSeq ==
      Seq("a", "b"))
  }
}
