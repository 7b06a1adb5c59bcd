package graft.lake.sql

import org.apache.spark.sql.Row
import graft.lake.{LakeCatalog, LakeSuite}

/** UPDATE/DELETE with subquery conditions (round 12): [NOT] IN over
  * uncorrelated subqueries, [NOT] EXISTS with equality decorrelation,
  * scalar-subquery assignment values, three-valued NOT IN semantics,
  * and the loud refusal of genuinely uncorrelatable shapes. */
class SubqueryRowLevelSpec extends LakeSuite {

  private def freshCat(tag: String): (String, LakeCatalog) = {
    val wh = freshWarehouse()
    val name = s"sqrl$tag"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[LakeSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ns")
    (name, LakeCatalog.open(wh))
  }

  private def rows(sql: String): Seq[Row] = spark.sql(sql).collect().toSeq

  test("DELETE WHERE key IN (subquery) + residual conjunct") {
    val (c, _) = freshCat("din")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT, v INT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1,1),(2,2),(3,3),(4,4),(5,5)")
    spark.sql("SELECT * FROM VALUES (2L),(4L),(9L) AS s(k)")
      .createOrReplaceTempView("din_keys")
    // residual v > 2 keeps id=2 alive even though its key is in the set
    spark.sql(s"DELETE FROM $c.ns.t WHERE id IN (SELECT k FROM din_keys) AND v > 2")
    assert(rows(s"SELECT * FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L, 1), Row(2L, 2), Row(3L, 3), Row(5L, 5)))
  }

  test("NOT IN: three-valued semantics — NULL in subquery result means no row matches") {
    val (c, _) = freshCat("nin")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT, v INT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1,1),(2,2),(3,3)")
    spark.sql("SELECT * FROM VALUES (1L),(CAST(NULL AS BIGINT)) AS s(k)")
      .createOrReplaceTempView("nin_null")
    spark.sql(s"DELETE FROM $c.ns.t WHERE id NOT IN (SELECT k FROM nin_null)")
    // NULL in the set: NOT IN is never TRUE → nothing deleted
    assert(rows(s"SELECT count(*) FROM $c.ns.t") === Seq(Row(3L)))
    spark.sql("SELECT * FROM VALUES (1L) AS s(k)")
      .createOrReplaceTempView("nin_plain")
    spark.sql(s"DELETE FROM $c.ns.t WHERE id NOT IN (SELECT k FROM nin_plain)")
    assert(rows(s"SELECT * FROM $c.ns.t") === Seq(Row(1L, 1)))
  }

  test("UPDATE WHERE EXISTS (correlated equality) — the CDC day-one shape") {
    val (c, _) = freshCat("uex")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT, status STRING)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1,'a'),(2,'a'),(3,'a')")
    spark.sql("SELECT * FROM VALUES (1L,'D'),(3L,'U') AS s(k, op)")
      .createOrReplaceTempView("uex_src")
    spark.sql(
      s"""UPDATE $c.ns.t SET status = 'flagged'
         |WHERE EXISTS (SELECT 1 FROM uex_src s
         |              WHERE s.k = id AND s.op = 'D')""".stripMargin)
    assert(rows(s"SELECT * FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L, "flagged"), Row(2L, "a"), Row(3L, "a")))
    // NOT EXISTS flips the set
    spark.sql(
      s"""UPDATE $c.ns.t SET status = 'unmatched'
         |WHERE NOT EXISTS (SELECT 1 FROM uex_src s WHERE s.k = id)""".stripMargin)
    assert(rows(s"SELECT * FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L, "flagged"), Row(2L, "unmatched"), Row(3L, "a")))
  }

  test("UPDATE SET col = (uncorrelated scalar subquery)") {
    val (c, _) = freshCat("ssq")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1,10),(2,20),(3,30)")
    spark.sql(s"UPDATE $c.ns.t SET v = (SELECT max(id) FROM VALUES (7L),(9L) AS m(id)) WHERE id = 2")
    assert(rows(s"SELECT * FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L, 10L), Row(2L, 9L), Row(3L, 30L)))
  }

  test("DELETE WHERE IN over another LAKE table as the subquery source") {
    val (c, _) = freshCat("lks")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT, v INT)")
    spark.sql(s"CREATE TABLE $c.ns.dead (id BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1,1),(2,2),(3,3)")
    spark.sql(s"INSERT INTO $c.ns.dead VALUES (2),(3)")
    spark.sql(s"DELETE FROM $c.ns.t WHERE id IN (SELECT id FROM $c.ns.dead)")
    assert(rows(s"SELECT * FROM $c.ns.t") === Seq(Row(1L, 1)))
  }

  test("subquery DELETE/UPDATE on a merge-on-read table ships tombstones, not rewrites") {
    val (c, cat) = freshCat("mor")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT, v INT) TBLPROPERTIES(" +
      "'write.delete.mode'='merge-on-read','write.update.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1,1),(2,2),(3,3),(4,4),(5,5)")
    val filesBefore = cat.loadTable("ns", "t").metadata.currentFiles.map(_.path).toSet
    spark.sql("SELECT * FROM VALUES (2L),(4L) AS s(k)")
      .createOrReplaceTempView("mor_keys")
    spark.sql(s"DELETE FROM $c.ns.t WHERE id IN (SELECT k FROM mor_keys)")
    val t1 = cat.loadTable("ns", "t")
    // the original data files SURVIVE (no rewrite) and tombstones landed
    assert(filesBefore.subsetOf(t1.metadata.currentFiles.map(_.path).toSet))
    assert(t1.metadata.currentSnapshot.get.deleteFiles.nonEmpty)
    assert(rows(s"SELECT id FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L), Row(3L), Row(5L)))
    // MoR subquery UPDATE: O(matched) tombstone + updated rows
    spark.sql(
      s"""UPDATE $c.ns.t SET v = -1
         |WHERE EXISTS (SELECT 1 FROM mor_keys s WHERE s.k = id + 1)""".stripMargin)
    assert(rows(s"SELECT * FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L, -1), Row(3L, -1), Row(5L, 5)))
  }

  /** Runs `dml` on `ref` and asserts the table then holds `oracle`:
    * plain Spark's answer over `sqrl_pre`, a temp-view copy of the
    * pre-statement rows. */
  private def matchesSpark(ref: String, dml: String, oracle: String): Unit = {
    val pre = spark.sql(s"SELECT * FROM $ref")
    spark.createDataFrame(pre.collect().toSeq.asJava0, pre.schema)
      .createOrReplaceTempView("sqrl_pre")
    val expected = spark.sql(oracle).collect().map(_.toString).sorted.toSeq
    spark.sql(dml)
    assert(spark.sql(s"SELECT * FROM $ref").collect().map(_.toString).sorted.toSeq ==
      expected, dml)
  }

  test("once-refused correlation shapes match plain Spark") {
    val (c, _) = freshCat("ref")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT, v INT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1,1)")
    spark.sql("SELECT * FROM VALUES (1L, 5) AS s(k, w)")
      .createOrReplaceTempView("ref_src")
    // non-equality correlation
    matchesSpark(s"$c.ns.t",
      s"DELETE FROM $c.ns.t WHERE EXISTS (SELECT 1 FROM ref_src s WHERE s.k < id)",
      "SELECT * FROM sqrl_pre WHERE NOT coalesce(" +
        "EXISTS (SELECT 1 FROM ref_src s WHERE s.k < id), false)")
    // HAVING-level correlation sits ABOVE the aggregate — removing the
    // equality and semi-joining on the projected aggregate attribute is
    // sound, so this decorrelates (t row (1,1): max(w)=5 ≠ 1 → no match)
    spark.sql(
      s"""DELETE FROM $c.ns.t WHERE EXISTS (
         |  SELECT max(w) FROM ref_src s GROUP BY s.k HAVING max(w) = id)""".stripMargin)
    assert(rows(s"SELECT count(*) FROM $c.ns.t") === Seq(Row(1L)))
    // correlation UNDER the aggregate
    matchesSpark(s"$c.ns.t",
      s"""DELETE FROM $c.ns.t WHERE EXISTS (
         |  SELECT s.k FROM ref_src s WHERE s.w = id GROUP BY s.k)""".stripMargin,
      "SELECT * FROM sqrl_pre WHERE NOT coalesce(EXISTS (" +
        "SELECT s.k FROM ref_src s WHERE s.w = id GROUP BY s.k), false)")
    // a correlated SET value
    matchesSpark(s"$c.ns.t",
      s"UPDATE $c.ns.t SET v = (SELECT w FROM ref_src s WHERE s.k = id)",
      "SELECT id, (SELECT w FROM ref_src s WHERE s.k = id) AS v FROM sqrl_pre")
  }

  // ---- correlated scalar aggregates in WHERE (round 13) ----

  private def scalarFixture(tag: String): String = {
    val (c, _) = freshCat(tag)
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT, k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES " +
      "(1,1,10),(2,1,20),(3,2,5),(4,2,5),(5,3,7)")
    // inner domain covers k=1,2 only — k=3 is the EMPTY group
    spark.sql("SELECT * FROM VALUES (1L,10L),(1L,20L),(2L,5L),(2L,5L) AS s(k2, w)")
      .createOrReplaceTempView(s"sc_src_$tag")
    c
  }

  test("UPDATE WHERE v > (SELECT avg ... WHERE k2 = k) decorrelates; empty group is NULL") {
    val c = scalarFixture("sag")
    spark.sql(s"UPDATE $c.ns.t SET v = -1 " +
      s"WHERE v > (SELECT avg(w) FROM sc_src_sag WHERE k2 = k)")
    // k=1 avg 15 → only v=20 updates; k=2 avg 5 → none; k=3 empty
    // group → NULL comparison → row 5 untouched
    assert(rows(s"SELECT id, v FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L, 10L), Row(2L, -1L), Row(3L, 5L), Row(4L, 5L), Row(5L, 7L)))
  }

  test("count over an empty group reads 0, not NULL (the decorrelation count-bug)") {
    val c = scalarFixture("cb")
    spark.sql(s"DELETE FROM $c.ns.t " +
      s"WHERE (SELECT count(*) FROM sc_src_cb WHERE k2 = k) = 0")
    // exactly the empty-group row (k=3) dies — a naive groupBy+join
    // would read NULL there and delete nothing
    assert(rows(s"SELECT id FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L), Row(2L), Row(3L), Row(4L)))
  }

  test("uncorrelated scalar comparison in WHERE is statement-constant") {
    val c = scalarFixture("usc")
    // global avg(w) = 10 → deletes v < 10 rows
    spark.sql(s"DELETE FROM $c.ns.t WHERE v < (SELECT avg(w) FROM sc_src_usc)")
    assert(rows(s"SELECT id FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L), Row(2L)))
  }

  test("scalar conjunct composes with IN flags and residuals in one WHERE") {
    val c = scalarFixture("mix")
    spark.sql("SELECT * FROM VALUES (1L),(2L),(5L) AS s(i)")
      .createOrReplaceTempView("sc_mix_ids")
    spark.sql(s"UPDATE $c.ns.t SET v = 99 " +
      s"WHERE id IN (SELECT i FROM sc_mix_ids) " +
      s"AND v >= (SELECT min(w) FROM sc_src_mix WHERE k2 = k) AND id > 1")
    // id∈{2,5}∧id>1; id=2: v=20 ≥ min(k=1)=10 ✓; id=5: empty group → NULL ✗
    assert(rows(s"SELECT id, v FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L, 10L), Row(2L, 99L), Row(3L, 5L), Row(4L, 5L), Row(5L, 7L)))
  }

  test("correlation in or above a JOIN condition matches Spark") {
    val c = scalarFixture("ref2")
    // outer reference INSIDE the join condition
    matchesSpark(s"$c.ns.t",
      s"""DELETE FROM $c.ns.t WHERE v > (
         |  SELECT avg(a.w) FROM sc_src_ref2 a JOIN sc_src_ref2 b ON a.k2 = k)""".stripMargin,
      "SELECT * FROM sqrl_pre WHERE NOT coalesce(v > (" +
        "SELECT avg(a.w) FROM sc_src_ref2 a JOIN sc_src_ref2 b ON a.k2 = k), false)")
    spark.sql(s"DELETE FROM $c.ns.t")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1,1,10),(2,1,20),(3,2,5),(4,2,5),(5,3,7)")
    // the same equality in a FILTER above the join pulls up soundly:
    // per k=1, the self-join doubles each side (2×2 rows, avg 15) —
    // deletes v>15 ⇒ only id=2
    spark.sql(
      s"""DELETE FROM $c.ns.t WHERE v > (
         |  SELECT avg(a.w) FROM sc_src_ref2 a JOIN sc_src_ref2 b ON a.w = b.w
         |  WHERE a.k2 = k)""".stripMargin)
    assert(rows(s"SELECT id FROM $c.ns.t ORDER BY id") ===
      Seq(Row(1L), Row(3L), Row(4L), Row(5L)))
  }

  test("a __match column refuses; a __sq-named column is data") {
    val (c, _) = freshCat("clash")
    // case-VARIANT names: Spark resolution is case-insensitive, so
    // `__Match` would be silently replaced by the flag column if the
    // guard compared exactly
    spark.sql(s"CREATE TABLE $c.ns.tm (id BIGINT, `__Match` INT)")
    spark.sql(s"INSERT INTO $c.ns.tm VALUES (1, 1)")
    spark.sql("SELECT * FROM VALUES (1L) AS s(k)").createOrReplaceTempView("clash_keys")
    val e = intercept[Exception](spark.sql(
      s"DELETE FROM $c.ns.tm WHERE id IN (SELECT k FROM clash_keys)"))
    assert(e.getMessage.contains("__match collides with the row mark"),
      s"__Match must refuse, got: ${e.getMessage}")
    // the mark joins no columns on, so no other name is reserved
    spark.sql(s"CREATE TABLE $c.ns.ts (id BIGINT, `__SQ0_k` INT)")
    spark.sql(s"INSERT INTO $c.ns.ts VALUES (1, 1), (2, 2)")
    matchesSpark(s"$c.ns.ts",
      s"DELETE FROM $c.ns.ts WHERE id IN (SELECT k FROM clash_keys)",
      "SELECT * FROM sqrl_pre WHERE NOT coalesce(id IN (SELECT k FROM clash_keys), false)")
  }
}
