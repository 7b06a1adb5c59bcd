package graft.lake.sql

import org.apache.spark.sql.{AnalysisException, DataFrame}
import graft.lake.{LakeCatalog, LakeSuite}

/** Subquery DELETE / UPDATE conditions checked against plain Spark. Each
  * condition runs as `DELETE … WHERE cond` and as `UPDATE … SET v = -1
  * WHERE cond` on one seeded lake table per write mode (copy-on-write,
  * merge-on-read tombstones, merge-on-read deletion vectors), rolled back
  * to the seed before every statement. The expected table is Spark's own
  * answer over a temp-view copy of the pre-statement rows: `WHERE NOT
  * coalesce(cond, false)` for DELETE, a `CASE WHEN coalesce(cond, false)`
  * rewrite for UPDATE. The fixture holds NULL ids, keys and values, so
  * three-valued logic is on every path. `{t}` in a condition names the
  * target table itself (the pre-statement copy in the oracle), `{dead}`
  * a second lake table. Spark plans every shape, so the lake does too:
  * non-equality EXISTS, correlated IN, correlation under GROUP BY or in
  * a join condition, and correlated aggregate SET values included. */
class SubqueryDmlOracleSpec extends LakeSuite {

  private val C = "sqdo"

  private val modes: Seq[(String, Map[String, String])] = Seq(
    "cow" -> Map.empty,
    "mor" -> Map("write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read"),
    "dv" -> Map("write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.delete.vector.enabled" -> "true"))

  private val conditions: Seq[(String, String)] = Seq(
    "IN with a residual" -> "t.id IN (SELECT x FROM sqdo_keys) AND t.v > 6",
    "NOT IN" -> "t.id NOT IN (SELECT x FROM sqdo_keys)",
    "NOT IN over a NULL" -> "t.id NOT IN (SELECT x FROM sqdo_keys_null)",
    "EXISTS by equality" ->
      "EXISTS (SELECT 1 FROM sqdo_src s WHERE s.k2 = t.k AND s.w > 5)",
    "NOT EXISTS by equality" ->
      "NOT EXISTS (SELECT 1 FROM sqdo_src s WHERE s.k2 = t.k)",
    "correlated avg" -> "t.v > (SELECT avg(w) FROM sqdo_src s WHERE s.k2 = t.k)",
    "correlated count(*) = 0" ->
      "(SELECT count(*) FROM sqdo_src s WHERE s.k2 = t.k) = 0",
    "uncorrelated scalar" -> "t.v < (SELECT avg(w) FROM sqdo_src)",
    "IN over another lake table" -> "t.id IN (SELECT id FROM {dead})",
    "self-referencing IN" -> "t.id IN (SELECT id FROM {t} WHERE v > 15)",
    "aliased self-referencing IN" -> "t.id IN (SELECT s2.id FROM {t} s2 WHERE s2.v > 15)",
    "id % 2 = 0" -> "t.id % 2 = 0",
    "non-equality EXISTS" ->
      "EXISTS (SELECT 1 FROM sqdo_src s WHERE s.k2 > t.k AND s.w > 10)",
    "correlated IN" -> "t.v IN (SELECT s.w FROM sqdo_src s WHERE s.k2 = t.k)",
    "correlation under GROUP BY" ->
      "EXISTS (SELECT s.k2 FROM sqdo_src s WHERE s.w = t.v GROUP BY s.k2)",
    "correlation in a join condition" ->
      "t.v > (SELECT avg(a.w) FROM sqdo_src a JOIN sqdo_src b ON a.k2 = t.k)",
    "NOT (IN OR …)" -> "NOT (t.id IN (SELECT x FROM sqdo_keys) OR t.v > 15)")

  private lazy val warehouse: String = {
    val wh = freshWarehouse()
    spark.conf.set(s"spark.sql.catalog.$C", classOf[LakeSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$C.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $C.ns")
    spark.sql(s"CREATE TABLE $C.ns.dead (id BIGINT)")
    spark.sql(s"INSERT INTO $C.ns.dead VALUES (2), (3), (NULL)")
    spark.sql("SELECT * FROM VALUES (1L, 10L), (1L, 20L), (2L, 5L), (2L, 5L), " +
      "(CAST(NULL AS BIGINT), 3L), (5L, CAST(NULL AS BIGINT)), (4L, 40L) AS s(k2, w)")
      .createOrReplaceTempView("sqdo_src")
    spark.sql("SELECT * FROM VALUES (2L), (4L), (12L) AS s(x)")
      .createOrReplaceTempView("sqdo_keys")
    spark.sql("SELECT * FROM VALUES (1L), (CAST(NULL AS BIGINT)) AS s(x)")
      .createOrReplaceTempView("sqdo_keys_null")
    wh
  }

  /** One table per write mode: two data files, then a strict-predicate
    * DELETE, so the merge-on-read seeds carry a live delete file. */
  private lazy val seeds: Map[String, Long] = modes.map { case (mode, props) =>
    val ref = s"$C.ns.tgt_$mode"
    val wh = warehouse
    spark.sql(s"CREATE TABLE $ref (id BIGINT, k BIGINT, v BIGINT)")
    props.foreach { case (k, v) =>
      spark.sql(s"ALTER TABLE $ref SET TBLPROPERTIES ('$k'='$v')") }
    spark.sql(s"INSERT INTO $ref VALUES (1, 1, 10), (2, 1, 20), (3, 2, 5), " +
      "(4, 2, NULL), (5, 3, 7), (6, NULL, 8)")
    spark.sql(s"INSERT INTO $ref VALUES (7, NULL, NULL), (NULL, 1, 9), " +
      "(8, 4, 30), (9, 5, 12), (10, 4, 3)")
    spark.sql(s"DELETE FROM $ref WHERE id = 9")
    mode -> LakeCatalog.open(wh).loadTable("ns", s"tgt_$mode").currentSnapshotId
  }.toMap

  private def rollback(mode: String): Unit = {
    val seed = seeds(mode)
    LakeCatalog.open(warehouse).loadTable("ns", s"tgt_$mode").rollbackTo(seed)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("(", ",", ")")).sorted

  /** (_row_id, id, k) of every live row: an UPDATE of `v` keeps them all. */
  private def lineage(ref: String): Seq[String] =
    canon(spark.sql(s"SELECT _row_id, id, k FROM $ref"))

  /** Runs `statement` on the seeded `mode` table and compares the table
    * with `oracle`, Spark's answer over the `sqdo_pre` copy of the seed. */
  private def check(mode: String, statement: String => String,
      oracle: String, keepsLineage: Boolean): Unit = {
    val ref = s"$C.ns.tgt_$mode"
    rollback(mode)
    val pre = spark.sql(s"SELECT id, k, v FROM $ref")
    spark.createDataFrame(pre.collect().toSeq.asJava0, pre.schema)
      .createOrReplaceTempView("sqdo_pre")
    val expected = canon(spark.sql(oracle))
    val ids = lineage(ref)
    spark.sql(statement(ref))
    assert(canon(spark.sql(s"SELECT id, k, v FROM $ref")) == expected)
    if (keepsLineage) assert(lineage(ref) == ids, "UPDATE moved a row's _row_id")
  }

  private def bind(cond: String, ref: String): String =
    cond.replace("{t}", ref).replace("{dead}", s"$C.ns.dead")

  for ((mode, _) <- modes; (name, cond) <- conditions) {
    test(s"$mode DELETE: $name") {
      check(mode, ref => s"DELETE FROM $ref AS t WHERE ${bind(cond, ref)}",
        s"SELECT id, k, v FROM sqdo_pre AS t " +
          s"WHERE NOT coalesce(${bind(cond, "sqdo_pre")}, false)",
        keepsLineage = false)
    }
    test(s"$mode UPDATE: $name") {
      check(mode, ref => s"UPDATE $ref AS t SET v = -1 WHERE ${bind(cond, ref)}",
        s"SELECT id, k, CASE WHEN coalesce(${bind(cond, "sqdo_pre")}, false) " +
          "THEN -1 ELSE v END AS v FROM sqdo_pre AS t",
        keepsLineage = true)
    }
  }

  for ((mode, _) <- modes) test(s"$mode UPDATE: a correlated aggregate SET value") {
    val value = "(SELECT sum(w) FROM sqdo_src s WHERE s.k2 = t.k)"
    check(mode, ref => s"UPDATE $ref AS t SET v = $value WHERE t.id > 2",
      s"SELECT id, k, CASE WHEN coalesce(t.id > 2, false) THEN $value " +
        "ELSE v END AS v FROM sqdo_pre AS t",
      keepsLineage = true)
  }

  test("a condition Spark's analysis rejects refuses before any read, with or without rows") {
    val wh = warehouse
    spark.sql(s"CREATE TABLE $C.ns.refused (id BIGINT, k BIGINT, v BIGINT)")
    // the second is rejected only by Spark's final analysis checks, which
    // the statement's own analysis skips once the rule has re-planned it
    val refused = Seq(
      "t.v > (SELECT sum(w + t.v) FROM sqdo_src)" ->
        "AGGREGATE_FUNCTION_MIXED_OUTER_LOCAL_REFERENCES",
      "t.v + (SELECT max(w) FROM sqdo_src)" -> "DATATYPE_MISMATCH")
    for (rowsIn <- Seq(false, true)) {
      if (rowsIn) spark.sql(s"INSERT INTO $C.ns.refused VALUES (1, 1, 10), (2, 2, 20)")
      val before = LakeCatalog.open(wh).loadTable("ns", "refused").currentSnapshotId
      for ((cond, error) <- refused; dml <- Seq(s"DELETE FROM $C.ns.refused AS t",
          s"UPDATE $C.ns.refused AS t SET v = -1")) {
        var e: Throwable = null
        val jobs = jobsStartedBy {
          e = intercept[AnalysisException](spark.sql(s"$dml WHERE $cond"))
        }
        assert(e.getMessage.contains(error), e.getMessage)
        assert(jobs == 0, s"$dml WHERE $cond ran $jobs job(s) before refusing")
        assert(LakeCatalog.open(wh).loadTable("ns", "refused").currentSnapshotId == before)
      }
    }
  }

  test("the fixture exercises every condition: each matches some rows but not all") {
    val ref = s"$C.ns.tgt_cow"
    rollback("cow")
    val total = spark.sql(s"SELECT * FROM $ref").count()
    conditions.foreach { case (name, cond) =>
      val n = spark.sql(s"SELECT * FROM $ref AS t WHERE ${bind(cond, ref)}").count()
      // a NULL in the NOT IN list holds the predicate from being TRUE
      val least = if (name == "NOT IN over a NULL") 0L else 1L
      assert(n >= least && n < total, s"$name matches $n of $total rows")
    }
  }
}
