package graft.lake.sql

import org.apache.spark.sql.Row
import graft.lake.{LakeCatalog, LakeSuite}

/** Nested struct-field assignments in UPDATE and MERGE (round 12 —
  * previously a loud refusal; Iceberg supports them). The extension
  * layer canonicalizes `SET s.a.x = v` onto the root column as an
  * UpdateFields struct-rebuild, so every rewrite path (strict CoW,
  * flagged, MoR, conditional merge) applies them with zero nested-path
  * awareness. */
class NestedFieldUpdateSpec extends LakeSuite {

  private def freshCat(tag: String): String = {
    val wh = freshWarehouse()
    val name = s"nest$tag"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[LakeSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ns")
    name
  }

  private def mkTable(c: String): Unit = {
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT, " +
      "s STRUCT<x: BIGINT, y: STRING, d: STRUCT<u: INT, w: STRING>>)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES " +
      "(1, named_struct('x', 10L, 'y', 'a', 'd', named_struct('u', 1, 'w', 'p'))), " +
      "(2, named_struct('x', 20L, 'y', 'b', 'd', named_struct('u', 2, 'w', 'q'))), " +
      "(3, CAST(NULL AS STRUCT<x: BIGINT, y: STRING, d: STRUCT<u: INT, w: STRING>>))")
  }

  private def fetch(c: String): Map[Long, Row] =
    spark.sql(s"SELECT id, s FROM $c.ns.t").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getStruct(1)))
      .toMap

  test("UPDATE SET s.x: siblings survive, other rows untouched, NULL struct stays NULL") {
    val c = freshCat("u1")
    mkTable(c)
    spark.sql(s"UPDATE $c.ns.t SET s.x = s.x + 100 WHERE id <= 2")
    val m = fetch(c)
    assert(m(1L).getLong(0) == 110L && m(1L).getString(1) == "a")
    assert(m(1L).getStruct(2).getInt(0) == 1, "deep sibling survives")
    assert(m(2L).getLong(0) == 120L && m(2L).getString(1) == "b")
    assert(m(3L) == null, "NULL struct cannot grow a field from nothing")

    // deep path + two distinct paths under one root in one statement
    spark.sql(s"UPDATE $c.ns.t SET s.d.w = 'Z', s.y = 'YY' WHERE id = 1")
    val m2 = fetch(c)
    assert(m2(1L).getStruct(2).getString(1) == "Z")
    assert(m2(1L).getString(1) == "YY")
    assert(m2(1L).getLong(0) == 110L, "untouched leaf survives the rebuild")
    assert(m2(1L).getStruct(2).getInt(0) == 1)
  }

  test("flagged paths: nested SET under a subquery and an inexpressible condition") {
    val c = freshCat("u2")
    mkTable(c)
    // subquery condition → LakeFlaggedRowLevelCommand
    spark.sql(s"UPDATE $c.ns.t SET s.d.u = 99 WHERE id IN " +
      s"(SELECT id FROM $c.ns.t WHERE s.y = 'a')")
    assert(fetch(c)(1L).getStruct(2).getInt(0) == 99)
    // join-free but manifest-inexpressible condition → flagged rewrite
    spark.sql(s"UPDATE $c.ns.t SET s.y = concat(s.y, '!') WHERE id % 2 = 0")
    assert(fetch(c)(2L).getString(1) == "b!")
    assert(fetch(c)(1L).getString(1) == "a")
  }

  test("merge-on-read UPDATE applies nested SET through tombstones") {
    val c = freshCat("u3")
    mkTable(c)
    spark.sql(s"ALTER TABLE $c.ns.t SET TBLPROPERTIES ('write.update.mode'='merge-on-read')")
    spark.sql(s"UPDATE $c.ns.t SET s.x = 0 WHERE id = 2")
    val m = fetch(c)
    assert(m(2L).getLong(0) == 0L && m(2L).getString(1) == "b")
    assert(m(1L).getLong(0) == 10L)
  }

  test("MERGE clauses accept nested assignments (conditional CoW path)") {
    val c = freshCat("m1")
    mkTable(c)
    spark.sql("SELECT * FROM VALUES (1L, 7L), (9L, 90L) AS src(id, nx)")
      .createOrReplaceTempView("nested_src")
    spark.sql(
      s"""MERGE INTO $c.ns.t AS t USING nested_src AS s ON t.id = s.id
         |WHEN MATCHED AND s.nx < 50 THEN UPDATE SET t.s.x = s.nx, t.s.d.w = 'M'
         |WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)""".stripMargin)
    val m = fetch(c)
    assert(m(1L).getLong(0) == 7L && m(1L).getString(1) == "a")
    assert(m(1L).getStruct(2).getString(1) == "M")
    assert(m(1L).getStruct(2).getInt(0) == 1, "deep sibling survives")
    assert(m(2L).getLong(0) == 20L, "unmatched clause leaves the row")
    assert(m.contains(9L) && m(9L) == null, "partial insert NULLs the struct")
  }

  test("nested assignments evaluate against the OLD row (swap semantics)") {
    val c = freshCat("sw")
    mkTable(c)
    // s.x := old s.d.u, s.d.u := old s.x — composition of two paths
    // under one root must NOT feed the second the first's output
    spark.sql(s"UPDATE $c.ns.t SET s.x = s.d.u, s.d.u = s.x WHERE id = 1")
    val m = fetch(c)
    assert(m(1L).getLong(0) == 1L, s"s.x takes OLD s.d.u: ${m(1L)}")
    assert(m(1L).getStruct(2).getInt(0) == 10, s"s.d.u takes OLD s.x: ${m(1L)}")
  }

  test("MERGE INSERT with a nested column key refuses loudly") {
    val c = freshCat("mi")
    mkTable(c)
    spark.sql("SELECT * FROM VALUES (7L, 70L) AS s(id, nx)")
      .createOrReplaceTempView("nest_mi_src")
    val e = intercept[UnsupportedOperationException] {
      spark.sql(
        s"""MERGE INTO $c.ns.t AS t USING nest_mi_src AS src
           |ON t.id = src.id
           |WHEN NOT MATCHED THEN INSERT (id, s.x) VALUES (src.id, src.nx)
           |""".stripMargin)
    }
    assert(e.getMessage.contains("top-level column"),
      s"nested INSERT key must refuse, got: ${e.getMessage}")
  }

  test("prefix-conflicting assignments refuse loudly") {
    val c = freshCat("r1")
    mkTable(c)
    val e1 = intercept[UnsupportedOperationException] {
      spark.sql(s"UPDATE $c.ns.t SET s.d = named_struct('u', 1, 'w', 'x'), s.d.u = 2 WHERE id = 1")
    }
    assert(e1.getMessage.contains("conflicting assignments"))
    // whole column + nested path is the empty-prefix case of the same rule
    val e2 = intercept[UnsupportedOperationException] {
      spark.sql(s"UPDATE $c.ns.t SET s = NULL, s.x = 2 WHERE id = 1")
    }
    assert(e2.getMessage.contains("conflicting assignments"))
  }

  // ---- array/map ELEMENT paths (round 13 — previously a loud refusal) ----

  private def mkElemTable(c: String): Unit = {
    spark.sql(s"CREATE TABLE $c.ns.e (id BIGINT, tags ARRAY<STRING>, " +
      "m MAP<STRING, BIGINT>, recs ARRAY<STRUCT<k: BIGINT, w: STRING>>)")
    spark.sql(s"INSERT INTO $c.ns.e VALUES " +
      "(1, array('a','b','c'), map('p', 1L, 'q', 2L), " +
      "    array(named_struct('k', 10L, 'w', 'x'), named_struct('k', 20L, 'w', 'y'))), " +
      "(2, array('d'), map('q', 5L), array(named_struct('k', 30L, 'w', 'z'))), " +
      "(3, CAST(NULL AS ARRAY<STRING>), CAST(NULL AS MAP<STRING, BIGINT>), " +
      "    CAST(NULL AS ARRAY<STRUCT<k: BIGINT, w: STRING>>))")
  }

  private def fetchElem(c: String): Map[Long, Row] =
    spark.sql(s"SELECT id, tags, m, recs FROM $c.ns.e").collect()
      .map(r => r.getLong(0) -> r).toMap

  test("UPDATE SET tags[i]: in-bounds replaces, out-of-bounds is a no-op, NULL stays NULL") {
    val c = freshCat("e1")
    mkElemTable(c)
    spark.sql(s"UPDATE $c.ns.e SET tags[1] = 'X' WHERE id <= 2")
    val m = fetch_e(c, "tags")
    assert(m(1L) == Seq("a", "X", "c"), s"index 1 replaced: ${m(1L)}")
    assert(m(2L) == Seq("d"), "out-of-bounds index leaves the array")
    assert(m(3L) == null, "NULL array stays NULL")
    // siblings of the root survive
    val r1 = fetchElem(c)(1L)
    assert(r1.getMap[String, Long](2) == Map("p" -> 1L, "q" -> 2L))
  }

  private def fetch_e(c: String, col: String): Map[Long, Seq[String]] =
    spark.sql(s"SELECT id, $col FROM $c.ns.e").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap

  test("UPDATE SET m['k']: present key updates in place, absent key appends, NULL stays NULL") {
    val c = freshCat("e2")
    mkElemTable(c)
    spark.sql(s"UPDATE $c.ns.e SET m['q'] = m['q'] * 100")
    spark.sql(s"UPDATE $c.ns.e SET m['new'] = id WHERE id = 2")
    val rows = spark.sql(
      s"SELECT id, map_entries(m) FROM $c.ns.e ORDER BY id").collect()
    val e1 = rows(0).getSeq[Row](1)
    assert(e1.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("p", 1L), ("q", 200L)), "in-place update preserves entry order")
    val e2 = rows(1).getSeq[Row](1)
    assert(e2.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("q", 500L), ("new", 2L)), "absent key appends at the end")
    assert(rows(2).isNullAt(1), "NULL map stays NULL")
  }

  test("deep element paths: recs[i].f replaces one field; m['k'] deep path is update-only") {
    val c = freshCat("e3")
    mkElemTable(c)
    spark.sql(s"UPDATE $c.ns.e SET recs[1].w = 'W' WHERE id = 1")
    val r1 = fetchElem(c)(1L).getSeq[Row](3)
    assert(r1.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((10L, "x"), (20L, "W")), s"only recs[1].w changes: $r1")
    // nested map-value struct: build a map<string,struct> column first
    spark.sql(s"ALTER TABLE $c.ns.e ADD COLUMN ms MAP<STRING, STRUCT<a: BIGINT>>")
    spark.sql(s"UPDATE $c.ns.e SET ms = map('h', named_struct('a', 1L)) WHERE id = 1")
    spark.sql(s"UPDATE $c.ns.e SET ms['h'].a = 9 WHERE id = 1")
    spark.sql(s"UPDATE $c.ns.e SET ms['absent'].a = 7 WHERE id = 1")
    val ms = spark.sql(s"SELECT ms FROM $c.ns.e WHERE id = 1").collect()(0)
      .getMap[String, Row](0)
    assert(ms("h").getLong(0) == 9L)
    assert(!ms.contains("absent"), "deep path under an absent key is update-only")
  }

  test("MERGE clauses accept element assignments") {
    val c = freshCat("e4")
    mkElemTable(c)
    spark.sql("SELECT * FROM VALUES (1L, 'M'), (9L, 'N') AS src(id, tag)")
      .createOrReplaceTempView("elem_src")
    spark.sql(
      s"""MERGE INTO $c.ns.e AS t USING elem_src AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET t.tags[0] = s.tag, t.m['merged'] = 1
         |WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)""".stripMargin)
    val m = fetch_e(c, "tags")
    assert(m(1L) == Seq("M", "b", "c"))
    assert(m(2L) == Seq("d"), "unmatched row untouched")
    val mm = fetchElem(c)(1L).getMap[String, Long](2)
    assert(mm == Map("p" -> 1L, "q" -> 2L, "merged" -> 1L))
  }

  test("MoR UPDATE applies element SET through tombstones") {
    val c = freshCat("e5")
    mkElemTable(c)
    spark.sql(s"ALTER TABLE $c.ns.e SET TBLPROPERTIES ('write.update.mode'='merge-on-read')")
    spark.sql(s"UPDATE $c.ns.e SET tags[0] = 'MOR' WHERE id = 2")
    val m = fetch_e(c, "tags")
    assert(m(2L) == Seq("MOR"))
    assert(m(1L) == Seq("a", "b", "c"))
  }

  test("element-path refusals: non-constant index, negative index, conflicts") {
    val c = freshCat("e6")
    mkElemTable(c)
    // a data-dependent index has no static lowering — the sugar's
    // certainty gate leaves the text alone, so the grammar refuses
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"UPDATE $c.ns.e SET tags[id] = 'X' WHERE id = 1")
    }
    // negative index = out of bounds = row-preserving no-op (the same
    // rule as a past-the-end index)
    spark.sql(s"UPDATE $c.ns.e SET tags[-1] = 'X' WHERE id = 1")
    assert(fetch_e(c, "tags")(1L) == Seq("a", "b", "c"))
    val e3 = intercept[UnsupportedOperationException] {
      spark.sql(s"UPDATE $c.ns.e SET tags = array('z'), tags[0] = 'X' WHERE id = 1")
    }
    assert(e3.getMessage.contains("conflicting assignments"))
    val e4 = intercept[UnsupportedOperationException] {
      spark.sql(s"UPDATE $c.ns.e SET recs[0] = recs[0], recs[0].w = 'X' WHERE id = 1")
    }
    assert(e4.getMessage.contains("conflicting assignments"))
  }
}
