package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
import org.apache.spark.sql.functions._

/** Scale hardening of the merge-on-read READ path: tombstone anti-joins
  * broadcast only under an explicit byte budget (a heavy-churn table
  * whose compaction lags degrades to a shuffle join instead of OOMing
  * on a forced multi-GB broadcast), positional tombstone files narrow
  * to the scanned file set, and serializable validation sees concurrent
  * MoR delete commits (which add only delete manifests and would
  * otherwise slip past both the added-data and removed-file checks,
  * letting a racing CoW op resurrect tombstoned rows). */
class MoRGateSpec extends LakeSuite {

  /** Does any tombstone ANTI-join carry the broadcast hint? (The tiny
    * path→seq lookup joins are always-broadcast by design and are inner
    * joins — only the anti-joins are size-gated.) */
  private def broadcastHinted(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftAnti =>
        Seq(j.hint.leftHint, j.hint.rightHint).flatten
    }.flatten.exists(_.strategy.contains(BROADCAST))

  test("positional tombstone anti-join broadcasts under budget, shuffles above it") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "gate1", ordersDF.schema)
    t.appendData(ordersDF, numFiles = 4)
    t.refresh().deleteWhereMoR(spark, LakePredicate.Eq("o_orderstatus", "F"))
    val survivors = ordersDF.filter(col("o_orderstatus") =!= "F")

    // default budget (64 MiB): the tiny tombstone set broadcasts
    val under = t.refresh().newScan().toDF(spark)
    assert(broadcastHinted(under))
    assert(under.count() === survivors.count())

    // a 1-byte budget models the multi-GB tombstone set: the hint is
    // withheld (Spark plans a shuffle anti-join) and the result is
    // IDENTICAL — the gate is a planning decision, not a semantics one
    t.refresh().setProperty("read.delete.broadcast-bytes", "1")
    val over = t.refresh().newScan().toDF(spark)
    assert(!broadcastHinted(over))
    assert(over.count() === survivors.count())
    assert(over.exceptAll(under).isEmpty && under.exceptAll(over).isEmpty)
  }

  test("equality tombstone anti-join is size-gated too; single-read keeps plans flat") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "gate2", ordersDF.schema)
    t.appendData(ordersDF, numFiles = 4)
    // several MoR upserts = several eq-delete files on one key set
    (0 until 3).foreach { i =>
      val upd = ordersDF.filter(col("o_orderkey") % 10 === i)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      t.refresh().mergeIntoMoR(spark, upd, Seq("o_orderkey"))
    }
    val under = t.refresh().newScan().toDF(spark)
    assert(broadcastHinted(under))
    assert(under.count() === ordersDF.count())

    t.refresh().setProperty("read.delete.broadcast-bytes", "1")
    val over = t.refresh().newScan().toDF(spark)
    assert(!broadcastHinted(over))
    assert(over.count() === ordersDF.count())
    // replacements (not originals) survive in both plans
    val bumped = over.filter(col("o_orderkey") % 10 < 3)
      .agg(sum("o_totalprice")).head.getDouble(0)
    val original = ordersDF.filter(col("o_orderkey") % 10 < 3)
      .agg(sum("o_totalprice") + count(lit(1))).head.getDouble(0)
    assert(math.abs(bumped - original) <= 1e-6 * math.abs(original))
  }

  test("narrowPosDeletes targets tombstone files to the scanned path set") {
    def entry(lo: String, hi: String) = DataFileEntry(
      path = s"del-$lo-$hi", recordCount = 1L, sizeBytes = 10L,
      minValues = Map("1" -> lo), maxValues = Map("1" -> hi),
      nullCounts = Map.empty, partitionValues = Map.empty)
    val dels = Seq(entry("/w/a", "/w/c"), entry("/w/m", "/w/p"), entry("/w/x", "/w/z"))
    // scan of /w/n: only the middle tombstone file's range covers it
    assert(LakeTable.narrowPosDeletes(dels, Seq("/w/n")).map(_.path)
      === Seq("del-/w/m-/w/p"))
    // scan spanning the ends keeps both end files
    assert(LakeTable.narrowPosDeletes(dels, Seq("/w/b", "/w/y")).size === 2)
    // no overlap at all: everything narrows away
    assert(LakeTable.narrowPosDeletes(dels, Seq("/w/q", "/w/d")).isEmpty)
    // an entry without harvested path stats is kept (conservative)
    val statless = entry("/w/a", "/w/c").copy(minValues = Map.empty, maxValues = Map.empty)
    assert(LakeTable.narrowPosDeletes(Seq(statless), Seq("/q")).size === 1)
  }

  test("SQL reads over live tombstones keep manifest pruning via the enclosing filter") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.morprune", classOf[sql.LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.morprune.warehouse", wh)
    spark.sql("CREATE NAMESPACE morprune.ns")
    spark.sql(s"CREATE TABLE morprune.ns.t (${ordersDF.schema.toDDL}) " +
      "TBLPROPERTIES ('write.sort-order'='o_orderkey')")
    val t = LakeCatalog.open(wh).loadTable("ns", "t")
    t.appendData(ordersDF, numFiles = 4) // disjoint o_orderkey ranges
    t.refresh().deleteWhereMoR(spark, LakePredicate.Eq("o_orderstatus", "F"))
    val cutoff = ordersDF.selectExpr("percentile(o_orderkey, 0.2)").head.getDouble(0).toLong

    // the substituted MoR plan's DATA scan must carry a PRUNED file
    // list (the filter's lenient manifest form reached planFiles) —
    // before round 8 a live-tombstone SQL read always scanned all files
    val q = spark.sql(
      s"SELECT count(*) AS n FROM morprune.ns.t WHERE o_orderkey <= $cutoff")
    val scanFiles = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.count(_.endsWith(".parquet"))
          case _ => 0
        }
    }.filter(_ > 0)
    assert(scanFiles.nonEmpty && scanFiles.max < 4,
      s"data scan read $scanFiles files — the filter did not prune the manifest")
    // and the answer stays exact (residual filter + tombstones applied)
    assert(q.head.getLong(0) ===
      ordersDF.filter(col("o_orderkey") <= cutoff && col("o_orderstatus") =!= "F").count())
  }

  test("SQL reads keep manifest pruning when the filter sits ABOVE a join (round 15)") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.morjoin", classOf[sql.LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.morjoin.warehouse", wh)
    spark.sql("CREATE NAMESPACE morjoin.ns")
    spark.sql(s"CREATE TABLE morjoin.ns.fact (${ordersDF.schema.toDDL}) " +
      "TBLPROPERTIES ('write.sort-order'='o_orderkey')")
    val t = LakeCatalog.open(wh).loadTable("ns", "fact")
    t.appendData(ordersDF, numFiles = 4) // disjoint o_orderkey ranges
    t.refresh().deleteWhereMoR(spark, LakePredicate.Eq("o_orderstatus", "F"))
    val cutoff = ordersDF.selectExpr("percentile(o_orderkey, 0.2)").head().getDouble(0).toLong
    // a plain-parquet dim joined to the MoR fact, filter ONLY above the join
    ordersDF.select(col("o_custkey")).distinct().limit(200)
      .createOrReplaceTempView("morjoin_dim")

    def dataScanFiles(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.inputFiles.count(p =>
                p.endsWith(".parquet") && p.contains("/fact/"))
            case _ => 0
          }
      }.filter(_ > 0).max

    // before round 15 the substitution handed planFiles AlwaysTrue the
    // moment any operator separated the Filter from the relation — the
    // single most common BI shape read every fact file
    val q = spark.sql(
      s"""SELECT count(*) AS n FROM morjoin.ns.fact f
         |JOIN morjoin_dim d ON f.o_custkey = d.o_custkey
         |WHERE f.o_orderkey <= $cutoff""".stripMargin)
    assert(dataScanFiles(q) < 4,
      "filter-above-join did not prune the MoR fact scan")
    val expected = ordersDF
      .filter(col("o_orderkey") <= cutoff && col("o_orderstatus") =!= "F")
      .join(spark.table("morjoin_dim"), "o_custkey").count()
    assert(q.head().getLong(0) === expected)

    // projection (aliasing) between filter and join still remaps: the
    // context conjunct rewrites through the alias back onto o_orderkey
    val q2 = spark.sql(
      s"""SELECT count(*) AS n FROM (
         |  SELECT f.o_orderkey AS k, f.o_orderstatus AS st
         |  FROM morjoin.ns.fact f JOIN morjoin_dim d ON f.o_custkey = d.o_custkey
         |) WHERE k <= $cutoff""".stripMargin)
    assert(dataScanFiles(q2) < 4,
      "filter above a projected join did not remap through the alias")
    assert(q2.head().getLong(0) === expected)

    // LEFT OUTER with the lake table on the null-producing side must
    // NOT prune by the above-join filter (IS NULL would flip results);
    // correctness is the assertion — file count may legitimately be 4
    val q3 = spark.sql(
      s"""SELECT count(*) AS n FROM morjoin_dim d
         |LEFT JOIN morjoin.ns.fact f ON f.o_custkey = d.o_custkey
         |WHERE f.o_orderkey IS NULL OR f.o_orderkey <= $cutoff""".stripMargin)
    val live = ordersDF.filter(col("o_orderstatus") =!= "F")
    val expected3 = spark.table("morjoin_dim")
      .join(live, Seq("o_custkey"), "left")
      .filter(col("o_orderkey").isNull || col("o_orderkey") <= cutoff).count()
    assert(dataScanFiles(q3) === 4,
      "outer-join null side must not prune by the enclosing filter")
    assert(q3.head().getLong(0) === expected3)
  }

  test("serializable validation conflicts with a concurrent MoR delete (no resurrection)") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "gate3", ordersDF.schema)
    t.appendData(ordersDF, numFiles = 4)
    val pred = LakePredicate.Eq("o_orderstatus", "F")
    val base = t.refresh().currentSnapshotId

    // the MoR delete adds ONLY delete manifests and removes nothing —
    // before the delete-manifest check, a racing CoW op validating
    // against `base` sailed through and re-appended the tombstoned rows
    t.refresh().deleteWhereMoR(spark, pred)
    val e = intercept[CommitConflictException] {
      t.refresh().commitSnapshot(LakeTable.CommitRequest.RowDelta("overwrite",
        LakeTable.RowLevelWrite(), Some((base, pred))))
    }
    assert(e.getMessage.contains("delete files"))

    // equality tombstones narrow by key stats: a racing op whose
    // predicate is outside the upserted key range does NOT conflict
    val base2 = t.refresh().currentSnapshotId
    val upd = ordersDF.filter(col("o_orderkey") % 10 === 0 && col("o_orderstatus") =!= "F")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    t.refresh().mergeIntoMoR(spark, upd, Seq("o_orderkey"))
    t.refresh().commitSnapshot(LakeTable.CommitRequest.RowDelta("overwrite",
      LakeTable.RowLevelWrite(), Some((base2, LakePredicate.Eq("o_orderkey", Long.box(-5L))))))
    // ...while one inside the range does
    val base3 = t.refresh().currentSnapshotId
    val hitKey = upd.select("o_orderkey").head.getLong(0)
    t.refresh().mergeIntoMoR(spark,
      upd.limit(50).withColumn("o_totalprice", col("o_totalprice") + 1.0),
      Seq("o_orderkey"))
    intercept[CommitConflictException] {
      t.refresh().commitSnapshot(LakeTable.CommitRequest.RowDelta("overwrite",
        LakeTable.RowLevelWrite(), Some((base3, LakePredicate.Eq("o_orderkey", Long.box(hitKey))))))
    }
  }
}
