package graft.lake

import org.apache.spark.sql.functions._

/** The snapshots made outside `commitSnapshot` come from
  * [[SnapshotProducer]] too: a CTAS table gets row lineage like any
  * append, and `rewriteManifests` meters deletion vectors like every
  * other commit report. */
class SnapshotProducerSpec extends LakeSuite {

  test("CTAS stamps row lineage: dense ids that a CoW UPDATE keeps") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.ctl", classOf[sql.LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.ctl.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE ctl.ns")
      spark.sql("CREATE TABLE ctl.ns.t AS SELECT id AS k, id * 2 AS v FROM range(100)")
      val t = LakeCatalog.open(wh).loadTable("ns", "t")
      assert(t.metadata.currentFiles.forall(_.firstRowId.isDefined))
      assert(t.metadata.nextRowId === 100L)
      def ids() = spark.sql("SELECT k, _row_id FROM ctl.ns.t").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val before = ids()
      assert(before.values.toSet === (0L until 100L).toSet)
      spark.sql("UPDATE ctl.ns.t SET v = -1 WHERE k < 10")
      assert(spark.sql("SELECT count(*) FROM ctl.ns.t WHERE v = -1").head.getLong(0) === 10L)
      assert(ids() === before)
      assert(!t.refresh().metadata.properties.contains(LakeTable.RowLineageBrokenProp))
    } finally {
      spark.conf.unset("spark.sql.catalog.ctl")
      spark.conf.unset("spark.sql.catalog.ctl.warehouse")
    }
  }

  test("rewriteManifests counts deletion-vector cardinalities as positional deletes") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "dv", ordersDF.schema)
    t.appendData(ordersDF.limit(500), numFiles = 2)
    t.refresh().appendData(ordersDF.limit(500), numFiles = 2)
    t.refresh().setProperty("write.delete.vector.enabled", "true")
    val deleted = t.refresh().deleteWhereMoR(spark, LakePredicate.Eq("o_orderstatus", "F"))
    assert(t.metadata.currentSnapshot.get.dvFiles.nonEmpty)
    assert(deleted.totalPositionalDeletes === 304L)
    val rewritten = t.refresh().rewriteManifests(minManifests = 2).get
    assert(rewritten.totalPositionalDeletes === deleted.totalPositionalDeletes)
    assert(rewritten.totalDeleteFiles === deleted.totalDeleteFiles)
    val summary = t.metadata.currentSnapshot.get.summary
    assert(summary("manifests-replaced") === "2" && summary("manifests-added") === "1")
    assert(Seq("added-delete-files", "added-position-deletes", "added-equality-deletes")
      .map(summary) === Seq("0", "0", "0"))
    assert(t.refresh().newScan().toDF(spark).count() ===
      2 * ordersDF.limit(500).filter(col("o_orderstatus") =!= "F").count())
  }
}
