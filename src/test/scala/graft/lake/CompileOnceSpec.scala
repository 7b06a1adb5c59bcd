package graft.lake

import org.apache.spark.metrics.source.CodegenMetrics

import graft.lake.sql.LakeSqlCatalog

/** A lake statement that repeats — same text, same source — finds its
  * generated classes in Spark's codegen cache: the derived sessions the
  * lake reads and writes run on are reused, so their class loaders (the
  * cache's key, with the source) stay the same. A session cloned per
  * operation compiled every plan again. */
class CompileOnceSpec extends LakeSuite {

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated append, CoW UPDATE and CoW MERGE compile nothing the second time") {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.cmp", classOf[LakeSqlCatalog].getName)
    s.conf.set("spark.sql.catalog.cmp.warehouse", freshWarehouse())
    s.sql("CREATE NAMESPACE cmp.ns")
    s.sql("CREATE TABLE cmp.ns.t (id BIGINT, v BIGINT) TBLPROPERTIES (" +
      "'write.update.mode' = 'copy-on-write', 'write.merge.mode' = 'copy-on-write')")
    s.range(0, 400).selectExpr("id", "id * 7 AS v").createOrReplaceTempView("cmp_src")
    def pass(): Unit = {
      s.sql("INSERT INTO cmp.ns.t SELECT id, id * 10 FROM range(0, 200)")
      s.sql("UPDATE cmp.ns.t SET v = v + 1 WHERE id < 50")
      s.sql("MERGE INTO cmp.ns.t t USING cmp_src src ON t.id = src.id " +
        "WHEN MATCHED THEN UPDATE SET v = src.v WHEN NOT MATCHED THEN INSERT *")
    }
    val c0 = compilations
    pass()
    val c1 = compilations
    assert(c1 > c0, "the first pass compiled nothing: the counter does not count")
    pass()
    val c2 = compilations
    assert(c2 - c1 == 0,
      s"the repeated statements compiled ${c2 - c1} classes (first pass: ${c1 - c0})")
    // the statements did their work: 2 × 200 appended, then 400 source
    // rows merged (every appended id matches one source row)
    assert(s.sql("SELECT count(*), count(DISTINCT id) FROM cmp.ns.t").head.toSeq ==
      Seq(600L, 400L))
  }
}
