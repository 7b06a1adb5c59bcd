package graft.lake.sql

import org.apache.spark.sql.functions._
import graft.lake.{LakeCatalog, LakeSuite, PartitionField}

/** The SQL surface over the lake: DDL (namespace/table with partition
  * transforms), SELECT through the V2 catalog with correct results,
  * INSERT INTO / INSERT OVERWRITE landing as manifest commits,
  * read-only historical (AS OF) handles, fresh-snapshot resolution on
  * re-query, and interop — tables created via SQL are the same tables
  * the Scala API commits to. */
class LakeSqlCatalogSpec extends LakeSuite {

  test("SQL DDL + SELECT round-trip against the lake catalog") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake.warehouse", wh)

    spark.sql("CREATE NAMESPACE sqllake.ns1")
    spark.sql(
      """CREATE TABLE sqllake.ns1.orders_lake (
        |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        |PARTITIONED BY (bucket(4, o_custkey))""".stripMargin)

    // the SQL-created table IS a lake table: same metadata, same spec
    val cat = LakeCatalog.open(wh)
    val t = cat.loadTable("ns1", "orders_lake")
    assert(t.spec === Seq(PartitionField("o_custkey", "bucket[4]")))

    // mutations go through the transactional Scala API...
    val df = ordersDF.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    t.appendData(df)

    // ...and SQL reads see them, with correct filtered results
    assert(spark.sql("SELECT count(*) FROM sqllake.ns1.orders_lake")
      .head.getLong(0) === df.count())
    assert(spark.sql(
      "SELECT count(*) FROM sqllake.ns1.orders_lake WHERE o_totalprice > 100000")
      .head.getLong(0) === df.filter(col("o_totalprice") > 100000).count())

    assert(spark.sql("SHOW TABLES IN sqllake.ns1")
      .collect().map(_.getString(1)).contains("orders_lake"))
    assert(spark.sql("SHOW NAMESPACES IN sqllake")
      .collect().map(_.getString(0)).contains("ns1"))

    // SQL INSERT goes through the MANIFEST COMMIT PROTOCOL: a snapshot
    // lands, not a bare parquet write
    val snapsBefore = t.refresh().snapshots.size
    spark.sql("INSERT INTO sqllake.ns1.orders_lake VALUES (900000001, 7, 42.5)")
    assert(t.refresh().snapshots.size === snapsBefore + 1)
    assert(spark.sql(
      "SELECT count(*) FROM sqllake.ns1.orders_lake WHERE o_orderkey = 900000001")
      .head.getLong(0) === 1L)

    // each SQL query resolves the CURRENT snapshot
    t.refresh().appendData(df.limit(5))
    assert(spark.sql("SELECT count(*) FROM sqllake.ns1.orders_lake")
      .head.getLong(0) === df.count() + 6)

    // INSERT OVERWRITE = one atomic full replace
    spark.sql("INSERT OVERWRITE sqllake.ns1.orders_lake VALUES (1, 1, 1.0), (2, 1, 2.0)")
    assert(spark.sql("SELECT count(*) FROM sqllake.ns1.orders_lake")
      .head.getLong(0) === 2L)
    assert(t.refresh().metadata.currentSnapshot.get.operation === "overwrite")

    spark.sql("DROP TABLE sqllake.ns1.orders_lake")
    assert(!cat.tableExists("ns1", "orders_lake"))
    spark.sql("DROP NAMESPACE sqllake.ns1")
    // the namespace is actually GONE, not just emptied
    assert(!spark.sql("SHOW NAMESPACES IN sqllake")
      .collect().map(_.getString(0)).contains("ns1"))
  }

  test("SQL reads resolve renamed columns by field ID in pre-rename files") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake5", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake5.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake5.ns")
    spark.sql("CREATE TABLE sqllake5.ns.t (o_orderkey BIGINT, o_custkey BIGINT)")
    val t = LakeCatalog.open(wh).loadTable("ns", "t")
    val df = ordersDF.select(col("o_orderkey"), col("o_custkey"))
    t.appendData(df) // files carry the OLD physical column name
    t.refresh().renameColumn("o_custkey", "buyer_id")
    // name matching would return NULL for every pre-rename row here
    assert(spark.sql(
      "SELECT count(*) FROM sqllake5.ns.t WHERE buyer_id IS NOT NULL")
      .head.getLong(0) === df.count())
    assert(spark.sql("SELECT sum(buyer_id) FROM sqllake5.ns.t").head.getLong(0)
      === df.agg(sum(col("o_custkey"))).head.getLong(0))
  }

  test("historical snapshots are read-only for SQL writes") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake4", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake4.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake4.ns")
    spark.sql("CREATE TABLE sqllake4.ns.t (id BIGINT)")
    val t = LakeCatalog.open(wh).loadTable("ns", "t")
    spark.sql("INSERT INTO sqllake4.ns.t VALUES (1)")
    val v1 = t.refresh().currentSnapshotId
    spark.sql("INSERT INTO sqllake4.ns.t VALUES (2)")
    assert(spark.sql(s"SELECT count(*) FROM sqllake4.ns.t VERSION AS OF $v1")
      .head.getLong(0) === 1L)
    intercept[Exception](new LakeSqlTable(t.refresh(), Some(v1))
      .newWriteBuilder(null))
  }

  test("SQL WHERE prunes manifest files; VERSION/TIMESTAMP AS OF time-travel") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake3", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake3.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake3.ns")
    spark.sql(
      """CREATE TABLE sqllake3.ns.orders_pruned (
        |  o_orderkey BIGINT, o_totalprice DOUBLE)
        |PARTITIONED BY (o_orderkey)""".stripMargin)
    val t = LakeCatalog.open(wh).loadTable("ns", "orders_pruned")
    val df = ordersDF.select(col("o_orderkey"), col("o_totalprice"))
    val r1 = t.appendData(df, numFiles = 8) // range-clustered on o_orderkey
    val nFiles = t.refresh().metadata.currentFiles.size
    assert(nFiles >= 4)

    // a selective SQL WHERE must skip manifest files, observable via
    // the ScanReport the SQL path fires
    val tbl = "ns.orders_pruned"
    val before = LakeSqlCatalog.metrics.counterValue("lake.scanReport.resultDataFiles", tbl)
    val maxKey = df.agg(max(col("o_orderkey"))).head.getLong(0)
    val narrow = spark.sql(
      s"SELECT count(*) FROM sqllake3.ns.orders_pruned WHERE o_orderkey > ${maxKey - 5}")
      .head.getLong(0)
    assert(narrow === df.filter(col("o_orderkey") > maxKey - 5).count())
    val scanned = LakeSqlCatalog.metrics
      .counterValue("lake.scanReport.resultDataFiles", tbl) - before
    assert(scanned > 0 && scanned < nFiles,
      s"expected manifest pruning for SQL WHERE: scanned $scanned of $nFiles files")

    // second snapshot, then travel back to the first
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(5)
    t.refresh().appendData(df.limit(10))
    assert(spark.sql("SELECT count(*) FROM sqllake3.ns.orders_pruned")
      .head.getLong(0) === df.count() + 10)
    assert(spark.sql(
      s"SELECT count(*) FROM sqllake3.ns.orders_pruned VERSION AS OF ${r1.snapshotId}")
      .head.getLong(0) === df.count())
    val tsLit = java.time.Instant.ofEpochMilli(betweenMs).toString
    assert(spark.sql(
      s"SELECT count(*) FROM sqllake3.ns.orders_pruned TIMESTAMP AS OF '$tsLit'")
      .head.getLong(0) === df.count())
  }

  test("SQL ALTER TABLE: add, rename (old files readable), drop") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake6", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake6.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake6.ns")
    spark.sql("CREATE TABLE sqllake6.ns.t (o_orderkey BIGINT, o_custkey BIGINT)")
    val t = LakeCatalog.open(wh).loadTable("ns", "t")
    val df = ordersDF.select(col("o_orderkey"), col("o_custkey"))
    t.appendData(df) // files predate every ALTER below

    // ADD: existing rows read the new column as NULL
    spark.sql("ALTER TABLE sqllake6.ns.t ADD COLUMN note STRING")
    assert(spark.sql("SELECT count(*) FROM sqllake6.ns.t WHERE note IS NULL")
      .head.getLong(0) === df.count())

    // RENAME: pre-rename files resolve the column by field ID — name
    // matching would read NULL for every pre-rename row
    spark.sql("ALTER TABLE sqllake6.ns.t RENAME COLUMN o_custkey TO buyer_id")
    assert(spark.sql("SELECT sum(buyer_id) FROM sqllake6.ns.t").head.getLong(0)
      === df.agg(sum(col("o_custkey"))).head.getLong(0))

    // DROP: the column disappears from SQL reads; data files are untouched
    spark.sql("ALTER TABLE sqllake6.ns.t DROP COLUMN note")
    assert(!spark.table("sqllake6.ns.t").columns.contains("note"))
    // all three ALTERs were transactional metadata commits on ONE table
    assert(t.refresh().schema.fieldNames === Array("o_orderkey", "buyer_id"))

    // unsupported changes fail loudly rather than corrupting the schema
    intercept[Exception](
      spark.sql("ALTER TABLE sqllake6.ns.t ALTER COLUMN o_orderkey TYPE INT"))
    intercept[Exception](
      spark.sql("ALTER TABLE sqllake6.ns.t ADD COLUMN pos BIGINT FIRST"))

    // multi-change statements are ATOMIC: both columns in one commit...
    spark.sql("ALTER TABLE sqllake6.ns.t ADD COLUMNS (c1 STRING, c2 BIGINT)")
    assert(t.refresh().schema.fieldNames.takeRight(2) === Array("c1", "c2"))
    // ...and a statement whose SECOND change is invalid applies NOTHING
    // (a per-change loop would leave ok1 durably added)
    intercept[Exception](
      spark.sql("ALTER TABLE sqllake6.ns.t ADD COLUMNS (ok1 STRING, c1 STRING)"))
    assert(!t.refresh().schema.fieldNames.contains("ok1"))
  }

  test("unsupported surfaces fail loudly, missing tables raise analysis errors") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake2", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake2.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake2.ns")
    spark.sql("CREATE TABLE sqllake2.ns.t (id BIGINT)")
    intercept[Exception](spark.sql("SELECT * FROM sqllake2.ns.missing").collect())
    intercept[Exception](
      spark.sql("ALTER TABLE sqllake2.ns.missing RENAME TO sqllake2.ns.t2"))
    // empty table (no snapshot yet) still answers SQL
    assert(spark.sql("SELECT count(*) FROM sqllake2.ns.t").head.getLong(0) === 0L)
  }

  test("RENAME TABLE is a pure metadata pointer swap; time travel survives") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake8", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake8.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake8.ns")
    spark.sql("CREATE TABLE sqllake8.ns.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
    val cat = LakeCatalog.open(wh)
    val t = cat.loadTable("ns", "t")
    val df = ordersDF.select(col("o_orderkey"), col("o_totalprice"))
    t.appendData(df.limit(50))
    val snap1 = t.refresh().metadata.currentSnapshot.get.id
    t.refresh().appendData(df.limit(80)) // second snapshot for time travel

    spark.sql("ALTER TABLE sqllake8.ns.t RENAME TO sqllake8.ns.t_renamed")

    // the old name is gone from every surface...
    assert(!cat.tableExists("ns", "t"))
    assert(cat.listTables("ns") === Seq("t_renamed"))
    intercept[Exception](spark.sql("SELECT * FROM sqllake8.ns.t").collect())
    // ...and the old name cannot be re-created while its directory hosts
    // the renamed table's files, nor rebound by a second rename
    intercept[Exception](spark.sql("CREATE TABLE sqllake8.ns.t (id BIGINT)"))
    intercept[Exception](spark.sql(
      "ALTER TABLE sqllake8.ns.t_renamed RENAME TO sqllake8.ns.t_renamed"))

    // the new name reads the same data — current AND historical
    assert(spark.sql("SELECT count(*) FROM sqllake8.ns.t_renamed")
      .head.getLong(0) === 130L)
    assert(spark.sql(
      s"SELECT count(*) FROM sqllake8.ns.t_renamed VERSION AS OF $snap1")
      .head.getLong(0) === 50L)

    // still a transactional lake table after the rename: commits land
    val t2 = cat.loadTable("ns", "t_renamed")
    t2.appendData(df.limit(3))
    assert(spark.sql("SELECT count(*) FROM sqllake8.ns.t_renamed")
      .head.getLong(0) === 133L)
    // a STALE handle opened under the old name keeps committing to the
    // same physical metadata the new name resolves (both views agree)
    t.refresh().appendData(df.limit(2))
    assert(spark.sql("SELECT count(*) FROM sqllake8.ns.t_renamed")
      .head.getLong(0) === 135L)

    // rename CHAIN: t_renamed -> t3 re-points without moving storage,
    // and renaming back onto the hosting directory revives the name
    spark.sql("ALTER TABLE sqllake8.ns.t_renamed RENAME TO sqllake8.ns.t3")
    assert(cat.listTables("ns") === Seq("t3"))
    assert(spark.sql("SELECT count(*) FROM sqllake8.ns.t3").head.getLong(0) === 135L)
    spark.sql("ALTER TABLE sqllake8.ns.t3 RENAME TO sqllake8.ns.t")
    assert(cat.listTables("ns") === Seq("t"))
    assert(spark.sql(s"SELECT count(*) FROM sqllake8.ns.t VERSION AS OF $snap1")
      .head.getLong(0) === 50L)

    // drop through the (revived) name removes the physical table
    spark.sql("DROP TABLE sqllake8.ns.t")
    assert(cat.listTables("ns").isEmpty)
  }

  test("SQL DELETE FROM routes through the copy-on-write commit protocol") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake7", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake7.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake7.ns")
    spark.sql("CREATE TABLE sqllake7.ns.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
    val t = LakeCatalog.open(wh).loadTable("ns", "t")
    val df = ordersDF.select(col("o_orderkey"), col("o_totalprice"))
    t.appendData(df, numFiles = 4)
    val snapsBefore = t.refresh().snapshots.size

    spark.sql("DELETE FROM sqllake7.ns.t WHERE o_orderkey <= 100")
    // a delete SNAPSHOT landed (not a bare file rewrite)...
    assert(t.refresh().snapshots.size === snapsBefore + 1)
    assert(t.metadata.currentSnapshot.get.operation === "delete")
    // ...with exact row-level semantics
    assert(spark.sql("SELECT count(*) FROM sqllake7.ns.t").head.getLong(0)
      === df.filter(col("o_orderkey") > 100).count())

    // compound conditions work when fully expressible
    spark.sql("DELETE FROM sqllake7.ns.t WHERE o_orderkey > 5000 AND o_totalprice < 50000")
    assert(spark.sql("SELECT count(*) FROM sqllake7.ns.t").head.getLong(0)
      === df.filter(col("o_orderkey") > 100)
        .filter(!(col("o_orderkey") > 5000 && col("o_totalprice") < 50000)).count())

    // a condition with no exact manifest-predicate form routes through
    // the FLAGGED copy-on-write rewrite (round 12; previously refused):
    // the whole condition evaluates per row exactly
    val before = spark.sql("SELECT count(*) FROM sqllake7.ns.t").head.getLong(0)
    val evens = spark.sql(
      "SELECT count(*) FROM sqllake7.ns.t WHERE o_orderkey % 2 = 0").head.getLong(0)
    spark.sql("DELETE FROM sqllake7.ns.t WHERE o_orderkey % 2 = 0")
    assert(spark.sql("SELECT count(*) FROM sqllake7.ns.t").head.getLong(0)
      === before - evens)
    assert(spark.sql(
      "SELECT count(*) FROM sqllake7.ns.t WHERE o_orderkey % 2 = 0")
      .head.getLong(0) === 0L)

    // unconditional DELETE arrives as one AlwaysTrue filter and empties
    // the table through the same commit protocol
    spark.sql("DELETE FROM sqllake7.ns.t")
    assert(spark.sql("SELECT count(*) FROM sqllake7.ns.t").head.getLong(0) === 0L)
  }

  test("SQL UPDATE routes through the transactional copy-on-write update") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake9", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake9.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake9.ns")
    spark.sql("CREATE TABLE sqllake9.ns.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
    val t = LakeCatalog.open(wh).loadTable("ns", "t")
    val df = ordersDF.select(col("o_orderkey"), col("o_totalprice"))
    t.appendData(df, numFiles = 4)
    val snapsBefore = t.refresh().snapshots.size

    spark.sql("UPDATE sqllake9.ns.t SET o_totalprice = o_totalprice * 2 " +
      "WHERE o_orderkey <= 100")
    assert(t.refresh().snapshots.size === snapsBefore + 1)
    val expected = df.withColumn("o_totalprice",
      org.apache.spark.sql.functions.when(col("o_orderkey") <= 100,
        col("o_totalprice") * 2).otherwise(col("o_totalprice")))
    assert(spark.sql(
      "SELECT round(sum(o_totalprice), 2) FROM sqllake9.ns.t").head.getDouble(0)
      === math.round(expected.agg(sum("o_totalprice")).head.getDouble(0) * 100) / 100.0)

    // only stats-overlapping files are rewritten (copy-on-write pruning)
    val filesBefore = t.refresh().metadata.currentFiles.map(_.path).toSet
    spark.sql("UPDATE sqllake9.ns.t SET o_totalprice = 0.0 WHERE o_orderkey < 0")
    val filesAfter = t.refresh().metadata.currentFiles.map(_.path).toSet
    assert(filesAfter === filesBefore) // predicate matches nothing: no rewrite

    // a condition with no exact manifest-predicate form routes through
    // the FLAGGED rewrite (round 12; previously refused)
    spark.sql("UPDATE sqllake9.ns.t SET o_totalprice = 0.0 WHERE o_orderkey % 2 = 0")
    assert(spark.sql(
      "SELECT round(sum(o_totalprice), 2) FROM sqllake9.ns.t").head.getDouble(0)
      === {
        val exp2 = expected.withColumn("o_totalprice",
          org.apache.spark.sql.functions.when(col("o_orderkey") % 2 === 0,
            org.apache.spark.sql.functions.lit(0.0)).otherwise(col("o_totalprice")))
        math.round(exp2.agg(sum("o_totalprice")).head.getDouble(0) * 100) / 100.0
      })

    // SQL UPDATE semantics: ALL SET expressions evaluate against the
    // OLD row — `SET a = b, b = a` must SWAP, on CoW and MoR alike (a
    // sequential withColumn application left both columns equal)
    for ((mode, tbl) <- Seq("copy-on-write" -> "swapc", "merge-on-read" -> "swapm")) {
      spark.sql(s"CREATE TABLE sqllake9.ns.$tbl (k BIGINT, a BIGINT, b BIGINT) " +
        s"TBLPROPERTIES('write.update.mode'='$mode')")
      spark.sql(s"INSERT INTO sqllake9.ns.$tbl VALUES (1, 10, 20), (2, 30, 40)")
      spark.sql(s"UPDATE sqllake9.ns.$tbl SET a = b, b = a WHERE k = 1")
      assert(spark.sql(s"SELECT a, b FROM sqllake9.ns.$tbl WHERE k = 1").head.toSeq
        === Seq(20L, 10L), s"$mode UPDATE must swap against the old row")
      assert(spark.sql(s"SELECT a, b FROM sqllake9.ns.$tbl WHERE k = 2").head.toSeq
        === Seq(30L, 40L))
    }
  }

  test("SQL MERGE INTO routes through the transactional keyed merge") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake10", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake10.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake10.ns")
    spark.sql("CREATE TABLE sqllake10.ns.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
    val t = LakeCatalog.open(wh).loadTable("ns", "t")
    val df = ordersDF.select(col("o_orderkey"), col("o_totalprice"))
    t.appendData(df.filter(col("o_orderkey") <= 3000), numFiles = 2)

    df.filter(col("o_orderkey") > 2000)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .createOrReplaceTempView("merge_src")
    spark.sql("""MERGE INTO sqllake10.ns.t AS tg USING merge_src AS s
      ON tg.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val expected = df.filter(col("o_orderkey") <= 2000).count() +
      df.filter(col("o_orderkey") > 2000).count()
    assert(spark.sql("SELECT count(*) FROM sqllake10.ns.t").head.getLong(0) === expected)
    // matched rows took the source value (+1), unmatched kept the original
    val bumped = spark.sql(
      "SELECT count(*) FROM sqllake10.ns.t WHERE o_totalprice <> round(o_totalprice, 1)")
    assert(spark.sql(
      """SELECT round(sum(o_totalprice), 2) FROM sqllake10.ns.t""").head.getDouble(0)
      === {
        val base = df.filter(col("o_orderkey") <= 2000)
          .unionByName(df.filter(col("o_orderkey") > 2000)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0))
        math.round(base.agg(sum("o_totalprice")).head.getDouble(0) * 100) / 100.0
      })
    assert(bumped.head.getLong(0) >= 0) // smoke: query planable post-merge

    // non-canonical merges (here: MATCHED DELETE) route through the
    // conditional copy-on-write path since round 12
    val before = spark.sql("SELECT count(*) FROM sqllake10.ns.t").head.getLong(0)
    val matchedCnt = spark.sql(
      """SELECT count(*) FROM sqllake10.ns.t tg
        |WHERE EXISTS (SELECT 1 FROM merge_src s
        |              WHERE s.o_orderkey = tg.o_orderkey)""".stripMargin)
      .head.getLong(0)
    spark.sql(
      """MERGE INTO sqllake10.ns.t AS tg USING merge_src AS s
        ON tg.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT count(*) FROM sqllake10.ns.t").head.getLong(0)
      === before - matchedCnt)

    // a non-equi ON condition still refuses loudly (no keyed prune shape)
    val e = intercept[Exception](spark.sql(
      """MERGE INTO sqllake10.ns.t AS tg USING merge_src AS s
        ON tg.o_orderkey < s.o_orderkey
        WHEN MATCHED THEN DELETE"""))
    assert(e.getMessage.contains("not a target.k = source.k equality"))
  }

  test("canonical-upsert MERGE survives analyzer cast/not-null wrappers; UPDATE subquery refuses cleanly") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqlmw", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqlmw.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqlmw.ns")
    // BIGINT non-nullable-ish target, INT source: the analyzer wraps the
    // star-expanded assignment values in Cast (and AssertNotNull where
    // applicable) — the canonical-shape check must strip them
    spark.sql("CREATE TABLE sqlmw.ns.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO sqlmw.ns.t VALUES (1, 10), (2, 20)")
    spark.range(0).selectExpr("CAST(id AS INT) AS id", "CAST(id AS INT) AS v")
      .createOrReplaceTempView("sqlmw_src0")
    spark.sql("SELECT CAST(2 AS INT) AS id, CAST(99 AS INT) AS v " +
      "UNION ALL SELECT CAST(3 AS INT), CAST(30 AS INT)")
      .createOrReplaceTempView("sqlmw_src")
    spark.sql("""MERGE INTO sqlmw.ns.t AS t USING sqlmw_src AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT id, v FROM sqlmw.ns.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 10L), (2L, 99L), (3L, 30L)))
    // UPDATE with an UNCORRELATED scalar-subquery value evaluates it
    // once against the pre-statement snapshot (round 12; previously a
    // loud analysis refusal): max(v) = 99 from the state above
    spark.sql(
      "UPDATE sqlmw.ns.t SET v = (SELECT max(v) FROM sqlmw.ns.t) WHERE id = 1")
    assert(spark.sql("SELECT v FROM sqlmw.ns.t WHERE id = 1").head.getLong(0) === 99L)
    // a CORRELATED subquery value runs on Catalyst's subquery rewrite:
    // the table matches plain Spark over a copy of the pre-statement rows
    val pre = spark.sql("SELECT * FROM sqlmw.ns.t")
    spark.createDataFrame(pre.collect().toSeq.asJava0, pre.schema)
      .createOrReplaceTempView("sqlmw_pre")
    val expected = spark.sql("SELECT id, CASE WHEN id = 1 THEN (SELECT max(s.v) " +
      "FROM sqlmw_pre AS s WHERE s.id = t.id) ELSE v END AS v " +
      "FROM sqlmw_pre AS t ORDER BY id").collect().toSeq
    spark.sql(
      "UPDATE sqlmw.ns.t AS t SET v = (SELECT max(s.v) FROM sqlmw.ns.t AS s " +
        "WHERE s.id = t.id) WHERE id = 1")
    assert(spark.sql("SELECT id, v FROM sqlmw.ns.t ORDER BY id").collect().toSeq === expected)
  }

  test("DELETE WHERE false never rewrites a data file") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake11", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake11.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake11.ns")
    spark.sql("CREATE TABLE sqllake11.ns.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
    val t = LakeCatalog.open(wh).loadTable("ns", "t")
    t.appendData(ordersDF.select(col("o_orderkey"), col("o_totalprice")), numFiles = 4)
    val filesBefore = t.refresh().metadata.currentFiles.map(_.path).sorted
    // AlwaysFalse encoded as Not(AlwaysTrue) pruned nothing, so this
    // statement copy-on-wrote the ENTIRE table to delete zero rows
    spark.sql("DELETE FROM sqllake11.ns.t WHERE 1 = 2")
    val after = t.refresh()
    assert(after.metadata.currentFiles.map(_.path).sorted === filesBefore)
    assert(spark.sql("SELECT count(*) FROM sqllake11.ns.t").head.getLong(0)
      === ordersDF.count())
  }

  test("DROP NAMESPACE CASCADE works after an in-namespace rename; cross-catalog rename fails loudly") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake12", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake12.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake12.ns")
    spark.sql("CREATE TABLE sqllake12.ns.a (o_orderkey BIGINT, o_totalprice DOUBLE)")
    LakeCatalog.open(wh).loadTable("ns", "a")
      .appendData(ordersDF.select(col("o_orderkey"), col("o_totalprice")).limit(10))
    spark.sql("ALTER TABLE sqllake12.ns.a RENAME TO sqllake12.ns.b")
    // a genuinely cross-catalog rename names the foreign catalog in the
    // error instead of a misleading missing-namespace message
    val e = intercept[UnsupportedOperationException](
      spark.sql("ALTER TABLE sqllake12.ns.b RENAME TO othercat.ns.c"))
    assert(e.getMessage.contains("cross-catalog"))
    // a's tombstoned dir hosts b's storage, but b is in this namespace:
    // the cascade legitimately drops both
    spark.sql("DROP NAMESPACE sqllake12.ns CASCADE")
    assert(LakeCatalog.open(wh).listNamespaces().isEmpty)
  }

  test("SQL scans report manifest statistics: a small lake dim auto-broadcasts in a join") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.sqllake13", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqllake13.warehouse", wh)
    spark.sql("CREATE NAMESPACE sqllake13.ns")
    spark.sql("CREATE TABLE sqllake13.ns.facts (o_orderkey BIGINT, o_custkey BIGINT)")
    spark.sql("CREATE TABLE sqllake13.ns.dim (o_custkey BIGINT, o_orderstatus STRING)")
    val cat = LakeCatalog.open(wh)
    cat.loadTable("ns", "facts")
      .appendData(ordersDF.select(col("o_orderkey"), col("o_custkey")))
    cat.loadTable("ns", "dim")
      .appendData(ordersDF.select(col("o_custkey"), col("o_orderstatus"))
        .dropDuplicates("o_custkey").limit(50))

    val joined = spark.sql(
      """SELECT f.o_orderkey, d.o_orderstatus
        |FROM sqllake13.ns.facts f JOIN sqllake13.ns.dim d
        |ON f.o_custkey = d.o_custkey""".stripMargin)
    // the logical stats come from MANIFEST sums (the lazy stream
    // wrapper must surface them — without SupportsReportStatistics the
    // V2 relation defaults to "unknown = huge" and this join shuffles)
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"),
      s"small lake dim did not broadcast:\n$planStr")
    assert(joined.count() > 0)
  }

  test("namespace properties: WITH PROPERTIES, ALTER SET/UNSET, DESCRIBE, reopen") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.nsp", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.nsp.warehouse", wh)
    spark.sql("CREATE NAMESPACE nsp.ns WITH PROPERTIES ('team'='data', 'tier'='gold')")
    def props() = spark.sql("DESCRIBE NAMESPACE EXTENDED nsp.ns").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .getOrElse("Properties", "")
    assert(props().contains("team") && props().contains("gold"))
    spark.sql("ALTER NAMESPACE nsp.ns SET PROPERTIES ('tier'='silver', 'pii'='false')")
    assert(props().contains("silver") && props().contains("pii") &&
      !props().contains("gold"))
    spark.sql("ALTER NAMESPACE nsp.ns UNSET PROPERTIES ('team')")
    assert(!props().contains("team"))
    // durable across a cold catalog reopen
    // Spark injects reserved keys (owner) at CREATE — they persist too
    assert(LakeCatalog.open(wh).namespaceProperties("ns") -- Set("owner")
      === Map("tier" -> "silver", "pii" -> "false"))
    // the property doc is invisible to namespace/table listings
    assert(spark.sql("SHOW TABLES IN nsp.ns").collect().isEmpty)
    // missing namespace refuses
    val e = intercept[Exception](spark.sql(
      "ALTER NAMESPACE nsp.ghost SET PROPERTIES ('x'='1')"))
    assert(e.getMessage.toLowerCase.contains("namespace") ||
      e.getMessage.toLowerCase.contains("schema"))
  }

  test("unaliased SQL aggregates analyze (substitution rule half-plan guard)") {
    // regression: LakeMoRScanSubstitution probed missingInput on
    // half-analyzed nodes, so `SELECT count(*)` (UnresolvedAlias until
    // alias resolution) over ANY lake table crashed analysis with an
    // UnresolvedAlias internal error — the oracle corpus aliases every
    // aggregate, so only ad-hoc SQL saw it
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.unal", classOf[LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.unal.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE unal.ns")
      spark.sql(s"CREATE TABLE unal.ns.t (${ordersDF.schema.toDDL})")
      LakeCatalog.open(wh).loadTable("ns", "t").appendData(ordersDF)
      assert(spark.sql("SELECT count(*) FROM unal.ns.t").head.getLong(0)
        === ordersDF.count())
      assert(spark.sql("SELECT max(o_totalprice), min(o_orderkey) " +
        "FROM unal.ns.t").head.getLong(1) === 0L)
      assert(spark.sql("SELECT o_orderstatus, count(*) FROM unal.ns.t " +
        "GROUP BY o_orderstatus").count() === 3)
      // and on a MoR-substituted (live-tombstone) read too
      val t = LakeCatalog.open(wh).loadTable("ns", "t")
      t.refresh().deleteWhereMoR(spark,
        graft.lake.LakePredicate.Ge("o_totalprice", Double.box(400000.0)))
      assert(spark.sql("SELECT count(*) FROM unal.ns.t").head.getLong(0)
        === ordersDF.filter(col("o_totalprice") < 400000.0).count())
    } finally {
      spark.conf.unset("spark.sql.catalog.unal")
      spark.conf.unset("spark.sql.catalog.unal.warehouse")
    }
  }
}
