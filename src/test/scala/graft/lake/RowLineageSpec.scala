package graft.lake

import org.apache.spark.sql.functions._

/** Row lineage (Iceberg v3 first-row-id/next-row-id): stable per-row
  * identities assigned inside the commit CAS. What the oracle entry
  * (`lake_row_lineage`, which pins exact id VALUES) cannot see:
  * uniqueness/high-water invariants, stability of ids under appends and
  * DV deletes read back-to-back, and the loud-refusal contract once a
  * rewrite-shaped commit re-ids surviving rows. */
class RowLineageSpec extends LakeSuite {

  private def lineageIds(t: LakeTable): Map[Long, Long] =
    t.refresh().newScan().rowLineage(spark)
      .select(col("o_orderkey"), col("_row_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("ids are unique, dense per commit, and stable across appends + DV deletes") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "rl", ordersDF.schema)
    t.setProperty("write.delete.vector.enabled", "true")
    val half = ordersDF.filter(col("o_orderkey") % 2 === 0)
      .repartition(1).sortWithinPartitions(col("o_orderkey"))
    t.refresh().appendData(half)
    val ids1 = lineageIds(t)
    val n1 = ids1.size.toLong
    assert(ids1.values.toSeq.sorted == (0L until n1), "first commit: ids 0..n-1")
    assert(t.refresh().metadata.nextRowId == n1, "high-water mark advanced")

    // second append: fresh ids continue from the mark; old ids untouched
    val rest = ordersDF.filter(col("o_orderkey") % 2 === 1)
      .repartition(1).sortWithinPartitions(col("o_orderkey"))
    t.refresh().appendData(rest)
    val ids2 = lineageIds(t)
    assert(ids2.size > ids1.size)
    ids1.foreach { case (k, rid) =>
      assert(ids2(k) == rid, s"append moved id of key $k") }
    assert(ids2.values.toSet.size == ids2.size, "ids must stay unique")
    assert(ids2.values.max == t.refresh().metadata.nextRowId - 1)

    // DV delete: survivors keep their exact ids (files never rewritten)
    t.refresh().deleteWhereMoR(spark,
      LakePredicate.Ge("o_totalprice", Double.box(300000.0)))
    val ids3 = lineageIds(t)
    assert(ids3.size < ids2.size, "delete removed nothing — fixture drift")
    ids3.foreach { case (k, rid) =>
      assert(ids2(k) == rid, s"DV delete moved id of key $k") }
    // deletes assign no new ids
    assert(t.refresh().metadata.nextRowId == ids2.values.max + 1)
  }

  test("compaction carries ids: materialized _row_id survives the rewrite") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "rlc", ordersDF.schema)
    (0 until 4).foreach(i =>
      t.refresh().appendData(ordersDF.filter(col("o_orderkey") % 4 === i)))
    val before = lineageIds(t)
    assert(before.size == ordersDF.count())
    t.refresh().compact(spark, targetFiles = 1)
    val after = lineageIds(t)
    assert(after == before, "compaction must preserve every row's id")
    assert(t.refresh().metadata.properties
      .get(LakeTable.RowLineageBrokenProp).isEmpty,
      "a carrying rewrite must not set the broken flag")
    // ids keep flowing: a post-compaction append continues from the mark
    // (shifted keys — lineageIds keys the map by o_orderkey)
    t.refresh().appendData(ordersDF.limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    val withNew = lineageIds(t)
    assert(withNew.values.toSet.size == withNew.size, "ids must stay unique")
    before.foreach { case (k, rid) => assert(withNew(k) == rid) }
    // and a SECOND compaction re-carries the already-materialized ids
    t.refresh().compact(spark, targetFiles = 2)
    assert(lineageIds(t) == withNew, "second compaction moved ids")
  }

  /** Delete, update and merge under one strategy: survivors and
    * updated rows keep their ids, merge-inserted rows draw fresh ones.
    * Merge-on-read merges through the conditional MERGE — the canonical
    * merge-on-read upsert never reads the target, so it has no ids to
    * carry. */
  private def carriesIds(table: String, mor: Boolean, dvs: Boolean): Unit = {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", table, ordersDF.schema)
    if (dvs) t.setProperty("write.delete.vector.enabled", "true")
    t.refresh().appendData(ordersDF, numFiles = 3)
    val before = lineageIds(t)
    val kind = if (!mor) "CoW" else if (dvs) "MoR (DVs)" else "MoR (tombstones)"
    // delete: survivors keep ids even inside rewritten files
    val delPred = LakePredicate.Eq("o_orderstatus", "F")
    if (mor) t.refresh().deleteWhereMoR(spark, delPred)
    else t.refresh().deleteWhere(spark, delPred)
    val afterDel = lineageIds(t)
    assert(afterDel.size < before.size, "delete removed nothing — fixture drift")
    afterDel.foreach { case (k, rid) =>
      assert(before(k) == rid, s"$kind delete moved id of key $k") }
    // update: an updated row KEEPS its id (Iceberg v3 semantics)
    val updPred = LakePredicate.Eq("o_orderstatus", "O")
    val set = Map("o_orderpriority" -> lit("9-CARRIED"))
    if (mor) t.refresh().updateWhereMoR(spark, updPred, set)
    else t.refresh().updateWhere(spark, updPred, set)
    val afterUpd = lineageIds(t)
    val moved = afterDel.filter { case (k, rid) => !afterUpd.get(k).contains(rid) }
    assert(afterUpd.size == afterDel.size && moved.isEmpty,
      s"$kind update moved ${moved.size} ids, e.g. keys ${moved.keys.take(3).mkString(", ")}")
    assert(t.refresh().newScan().toDF(spark)
      .filter(col("o_orderpriority") === "9-CARRIED").count() > 0L,
      "update changed nothing — fixture drift")
    // merge upsert: matched rows continue the target id, inserted
    // rows draw fresh ids above the old high-water mark
    val mark = t.refresh().metadata.nextRowId
    val someKey = afterUpd.keysIterator.next()
    val src = t.refresh().newScan().toDF(spark)
      .filter(col("o_orderkey") === someKey)
      .withColumn("o_totalprice", lit(1.23))
      .unionByName(t.refresh().newScan().toDF(spark).limit(1)
        .withColumn("o_orderkey", lit(999999999L)))
    if (!mor) t.refresh().mergeInto(spark, src, Seq("o_orderkey"))
    else t.refresh().mergeIntoConditionalMoR(spark, src, Seq("o_orderkey"),
      matched = Seq(MergeClauseSpec(None, isDelete = false,
        Seq("o_totalprice" -> col("__s_o_totalprice")))),
      notMatched = Seq(MergeClauseSpec(None, isDelete = false,
        ordersDF.schema.fieldNames.toSeq.map(c => c -> col("__s_" + c)))))
    val afterMerge = lineageIds(t)
    assert(afterMerge(someKey) == afterUpd(someKey),
      s"$kind merge UPDATE must preserve the matched row's id")
    assert(afterMerge(999999999L) >= mark,
      s"$kind merge INSERT must draw a fresh id above the prior high-water mark")
    afterUpd.foreach { case (k, rid) =>
      assert(afterMerge(k) == rid, s"$kind merge moved id of untouched key $k") }
    assert(afterMerge.values.toSet.size == afterMerge.size, "ids must stay unique")
  }

  test("CoW delete/update/merge carry ids; inserts draw fresh ones") {
    carriesIds("rlm", mor = false, dvs = false)
  }

  test("MoR (tombstones) delete/update/merge carry ids; inserts draw fresh ones") {
    carriesIds("rlmt", mor = true, dvs = false)
  }

  test("MoR (DVs) delete/update/merge carry ids; inserts draw fresh ones") {
    carriesIds("rlmd", mor = true, dvs = true)
  }

  test("a flag transform that drops _row_id breaks lineage loudly and stays broken") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "rlb", ordersDF.schema)
    t.refresh().appendData(ordersDF)
    assert(lineageIds(t).nonEmpty)
    // a caller-provided flag that PROJECTS the read (dropping the
    // trailing _row_id) cannot carry — the rewrite must set the sticky
    // broken flag instead of silently re-idding rows
    t.refresh().deleteWhereFlagged(spark, LakePredicate.AlwaysTrue,
      df => df.select((df.columns.filterNot(_ == "_row_id").map(col) :+
        (col("o_orderkey") % 10 === 0).as("__match")).toSeq: _*))
    val e = intercept[IllegalArgumentException] {
      t.refresh().newScan().rowLineage(spark).collect()
    }
    assert(e.getMessage.contains("broken"))
    // sticky: later pure appends don't un-break identity
    t.refresh().appendData(ordersDF.limit(5))
    intercept[IllegalArgumentException] {
      t.refresh().newScan().rowLineage(spark).collect()
    }
    // plain reads are untouched by the broken flag
    assert(t.refresh().newScan().toDF(spark).count() ==
      ordersDF.filter(col("o_orderkey") % 10 =!= 0).count() + 5)
  }

  test("SQL surface: _row_id metadata column resolves, stays out of *, survives DELETE") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.rlc", classOf[sql.LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.rlc.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE rlc.ns")
      spark.sql("CREATE TABLE rlc.ns.t (k BIGINT, v STRING)")
      spark.sql("ALTER TABLE rlc.ns.t SET TBLPROPERTIES " +
        "('write.delete.vector.enabled'='true')")
      spark.sql("INSERT INTO rlc.ns.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      spark.sql("INSERT INTO rlc.ns.t VALUES (4, 'd')")
      val rows = spark.sql("SELECT k, _row_id FROM rlc.ns.t ORDER BY _row_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.map(_._2).toSeq == (0L to 3L), s"ids not dense: ${rows.toSeq}")
      assert(rows.find(_._1 == 4L).exists(_._2 == 3L),
        "second commit's row must carry the next id")
      // `*` never leaks the metadata column
      assert(spark.sql("SELECT * FROM rlc.ns.t").columns.toSeq == Seq("k", "v"))
      // a DV delete keeps survivors' ids stable through the SQL read
      spark.sql("DELETE FROM rlc.ns.t WHERE k = 2")
      val after = spark.sql("SELECT k, _row_id FROM rlc.ns.t ORDER BY _row_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(after.toSeq == rows.filterNot(_._1 == 2L).toSeq,
        "DV delete moved a surviving row's id")
      // ... and a COMPACTION keeps them too through the SQL metadata
      // column (round 14 carry-through: the substitution rule's
      // metaPlan reads the materialized cells from the rewritten file)
      spark.sql("CALL rlc.system.rewrite_data_files('ns.t', 1)")
      val compacted = spark.sql("SELECT k, _row_id FROM rlc.ns.t ORDER BY _row_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(compacted.toSeq == after.toSeq,
        "compaction moved a surviving row's id in the SQL read")
    } finally {
      spark.conf.unset("spark.sql.catalog.rlc")
      spark.conf.unset("spark.sql.catalog.rlc.warehouse")
    }
  }

  test("manifest round-trip preserves firstRowId; pre-lineage entries read back None") {
    val f = DataFileEntry("/w/d1.parquet", 10L, 100L,
      Map.empty, Map.empty, Map.empty, Map.empty, firstRowId = Some(42L))
    val json = MetadataJson.writeManifest(Seq(f))
    assert(json.contains("\"firstRowId\":42"))
    val back = MetadataJson.readManifest(json)
    assert(back.head.firstRowId.contains(42L))
    // a pre-lineage document (no field) defaults to None
    val legacy = MetadataJson.writeManifest(Seq(f.copy(firstRowId = None)))
    assert(!legacy.contains("firstRowId"))
    assert(MetadataJson.readManifest(legacy).head.firstRowId.isEmpty)
  }
}
