package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hardening for the round-12 conditional-merge / flagged-rewrite
  * substrate: behavior the oracle corpus cannot see — serializable
  * validation under racing commits, live MoR tombstones feeding the
  * rewrite's read, and stale-handle retries. */
class ConditionalMergeHardeningSpec extends LakeSuite {

  private val schema2 = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  private def df2(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  private def upd(value: Column): Seq[MergeClauseSpec] =
    Seq(MergeClauseSpec(None, isDelete = false, Seq("v" -> value)))

  test("racing append inside the key bounds conflicts a conditional merge; retry lands") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "cmrace", schema2)
    t.appendData(df2((1L to 20L).map(i => (i, i))), numFiles = 2)
    val stale = cat.loadTable("ns", "cmrace")
    // another writer appends a row INSIDE the merge's key bounds after
    // the stale handle read its metadata
    t.refresh().appendData(df2(Seq((10L, 1000L))))
    // the stale conditional merge must CONFLICT with retries disabled:
    // committing it would miss the racing row with the same key
    val src = df2(Seq((5L, 500L), (15L, 1500L)))
    assertThrows[CommitConflictException](
      stale.mergeIntoConditional(spark, src, Seq("id"),
        matched = upd(col("__s_v")),
        notMatched = Seq(MergeClauseSpec(None, isDelete = false,
          Seq("id" -> col("__s_id"), "v" -> col("__s_v")))),
        conflictRetries = 0))
    // with retries (default) the merge re-reads fresh metadata and lands.
    // The handle is still stale, so the first attempt conflicts again;
    // the source (same rows, each evaluation counted) must be evaluated
    // ONCE across the attempts — it persists outside the retry loop
    assert(stale.currentSnapshotId != t.refresh().currentSnapshotId)
    val evals = spark.sparkContext.longAccumulator("merge-source-evals")
    val counted = udf((v: Long) => { evals.add(1L); v })
    val srcCounted = spark.range(2).select(
      when(col("id") === 0L, 5L).otherwise(15L).as("id"),
      counted(when(col("id") === 0L, 500L).otherwise(1500L)).as("v"))
    stale.mergeIntoConditional(spark, srcCounted, Seq("id"),
      matched = upd(col("__s_v")),
      notMatched = Seq(MergeClauseSpec(None, isDelete = false,
        Seq("id" -> col("__s_id"), "v" -> col("__s_v")))))
    assert(evals.value === 2L,
      s"source rows evaluated ${evals.value} times across a conflict retry, want 2")
    val got = cat.loadTable("ns", "cmrace").newScan().toDF(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(5L) === 500L && got(15L) === 1500L)
    // BOTH copies of key 10 got the matched update? No source key 10 —
    // the racing duplicate row simply survives untouched
    assert(got.size === 20) // 20 distinct ids (10 appears once in map)
  }

  test("conditional merge over LIVE MoR tombstones: deleted rows never resurrect") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "cmmor", schema2)
    t.appendData(df2((1L to 30L).map(i => (i, i))), numFiles = 2)
    // MoR delete leaves live positional tombstones (no rewrite)
    t.refresh().deleteWhereMoR(spark, LakePredicate.Ge("id", 21L))
    assert(t.refresh().metadata.currentSnapshot.get.deleteFiles.nonEmpty)
    // conditional merge touching the tombstoned files: the CoW read
    // must be MoR-subtracted, so ids 21..30 stay dead even though the
    // source's key bounds (1..40) cover their files
    t.refresh().mergeIntoConditional(spark, df2(Seq((1L, 100L), (40L, 400L))),
      Seq("id"),
      matched = upd(col("__s_v")),
      notMatched = Seq(MergeClauseSpec(None, isDelete = false,
        Seq("id" -> col("__s_id"), "v" -> col("__s_v")))))
    val ids = cat.loadTable("ns", "cmmor").newScan().toDF(spark)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === ((1L to 20L) :+ 40L))
    val got = cat.loadTable("ns", "cmmor").newScan().toDF(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1L) === 100L && got(40L) === 400L)
  }

  test("flagged delete over live DV tombstones keeps survivors' semantics") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "fdv", schema2)
    t.refresh().setProperty("write.delete.vector.enabled", "true")
    t.refresh().appendData(df2((1L to 30L).map(i => (i, i))), numFiles = 2)
    t.refresh().deleteWhereMoR(spark, LakePredicate.Ge("id", 25L)) // DV path
    assert(t.refresh().metadata.currentSnapshot.get.dvFiles.nonEmpty)
    // flagged delete (join-based matching) of the EVEN survivors
    import spark.implicits._
    val evenKeys = (2L to 30L by 2).toDF("k")
    t.refresh().deleteWhereFlagged(spark, LakePredicate.AlwaysTrue,
      flag = df => df.join(evenKeys.distinct().withColumn("__m", lit(true)),
        col("id") === col("k"), "left_outer")
        .withColumn("__match", col("__m").isNotNull)
        .drop("k", "__m"))
    val ids = cat.loadTable("ns", "fdv").newScan().toDF(spark)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (1L to 24L by 2).toSeq) // odds below the DV cut
  }

  test("small-source conditional merge broadcasts every join (target data never sort-merge shuffles)") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "cmplan", schema2)
    t.appendData(df2((1L to 50000L).map(i => (i, i))), numFiles = 4)
    @volatile var plans = List.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans ::= qe.executedPlan.toString
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      t.refresh().mergeIntoConditional(spark,
        df2(Seq((10L, 1000L), (99999L, 1L))), Seq("id"),
        matched = upd(col("__s_v")),
        notMatched = Seq(MergeClauseSpec(None, isDelete = false,
          Seq("id" -> col("__s_id"), "v" -> col("__s_v")))))
      // QueryExecutionListener delivery is async — poll briefly
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() < deadline &&
        !plans.exists(_.contains("Join"))) Thread.sleep(100)
    } finally spark.listenerManager.unregister(listener)
    val joinPlans = plans.filter(_.contains("Join"))
    assert(joinPlans.nonEmpty, "no join plan captured")
    assert(joinPlans.exists(_.contains("BroadcastHashJoin")),
      "expected the decomposed merge joins to broadcast")
    assert(!joinPlans.exists(_.contains("SortMergeJoin")),
      "a small-source conditional merge must not sort-merge shuffle " +
        "the touched-file read:\n" + joinPlans.mkString("\n---\n"))
    // and the result is right
    val got = cat.loadTable("ns", "cmplan").newScan().toDF(spark)
      .filter(col("id").isin(10L, 99999L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(10L -> 1000L, 99999L -> 1L))
  }

  test("MoR conditional merge: original files survive, only affected rows tombstone+rewrite") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "cmmorw", schema2)
    t.refresh().setProperty("write.merge.mode", "merge-on-read")
    t.refresh().appendData(df2((1L to 1000L).map(i => (i, i))), numFiles = 4)
    val filesBefore = t.refresh().metadata.currentFiles.map(_.path).toSet
    // matched delete (id 10), conditioned update (id 20), insert (2000),
    // and 997 KEEP rows that must cost nothing
    import spark.implicits._
    val src = Seq((10L, 0L, "D"), (20L, 222L, "U"), (2000L, 2L, "I"))
      .toDF("id", "nv", "op")
    t.refresh().mergeIntoConditionalMoR(spark, src, Seq("id"),
      matched = Seq(
        MergeClauseSpec(Some(col("__s_op") === "D"), isDelete = true, Nil),
        MergeClauseSpec(None, isDelete = false, Seq("v" -> col("__s_nv")))),
      notMatched = Seq(MergeClauseSpec(Some(col("__s_op") === "I"),
        isDelete = false, Seq("id" -> col("__s_id"), "v" -> col("__s_nv")))))
    val after = t.refresh()
    // every original data file is still live (no rewrite)...
    assert(filesBefore.subsetOf(after.metadata.currentFiles.map(_.path).toSet))
    // ...with positional tombstones for exactly the delete + update rows
    val snap = after.metadata.currentSnapshot.get
    assert(snap.deleteFiles.map(_.recordCount).sum === 2L)
    // and only 2 new rows written (the update's new version + the insert)
    val newFiles = after.metadata.currentFiles.map(_.path).toSet -- filesBefore
    assert(after.metadata.currentFiles.filter(f => newFiles(f.path))
      .map(_.recordCount).sum === 2L)
    // read-back semantics identical to the CoW shape
    val got = after.newScan().toDF(spark)
      .filter(col("id").isin(10L, 20L, 2000L, 30L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(20L -> 222L, 2000L -> 2L, 30L -> 30L))
    assert(after.newScan().toDF(spark).count() === 1000L) // -1 del +1 ins
  }

  test("NMBS file widening: an unconditional NOT MATCHED BY SOURCE clause rewrites files outside the key bounds") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "nmbsw", schema2)
    // two files with DISJOINT id ranges
    t.appendData(df2((1L to 10L).map(i => (i, i))), numFiles = 1)
    t.refresh().appendData(df2((100L to 110L).map(i => (i, i))), numFiles = 1)
    // source keys only overlap the first file; the NMBS clause has no
    // condition → EVERY file must be read (rows in the second file are
    // all not-matched-by-source)
    t.refresh().mergeIntoConditional(spark, df2(Seq((1L, 11L))), Seq("id"),
      matched = upd(col("__s_v")),
      notMatched = Nil,
      notMatchedBySource = Seq(MergeClauseSpec(None, isDelete = false,
        Seq("v" -> lit(-1L)))),
      nmbsPrune = LakePredicate.AlwaysTrue)
    val got = cat.loadTable("ns", "nmbsw").newScan().toDF(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1L) === 11L)
    assert((2L to 10L).forall(got(_) === -1L))
    assert((100L to 110L).forall(got(_) === -1L), "files outside the key " +
      "bounds must still take the unconditional NMBS update")
  }
}
