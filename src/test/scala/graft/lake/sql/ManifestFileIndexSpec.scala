package graft.lake.sql

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.types._

import graft.lake.{DataFileEntry, LakeCatalog, LakePredicate => P, LakeSuite, LakeTable, PartitionField}

/** Lake reads resolve their files from the manifests alone (the
  * graftbridge ManifestFileIndex): planning a read lists nothing and
  * starts no Spark job, one SQL read plans its files once, merge-on-read
  * still matches tombstones to rows by the reader's path render, and
  * what the index trusts — the recorded sizes, the files' existence —
  * is pinned here. */
class ManifestFileIndexSpec extends LakeSuite {

  private val schema3 = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType),
    StructField("s", StringType)))

  private def rows(ids: Seq[Long], v: Long => Long = identity): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](
      ids.map(i => Row(i, v(i), s"s$i")).asJava), schema3)

  private def sqlCatalog(name: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[LakeSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" | ")

  private def scanReports(t: LakeTable): Long =
    LakeSqlCatalog.metrics.timerCount("lake.scanReport.totalPlanningDuration", t.name)

  test("one SQL read plans its files once and emits exactly one ScanReport") {
    val wh = freshWarehouse()
    sqlCatalog("mfi_once", wh)
    // partitioned, so the scan also groups its files for storage-
    // partitioned joins — from the same plan
    val t = LakeCatalog.open(wh).createTable("ns", "mfi_once_t", schema3,
      spec = Seq(PartitionField("id", "bucket[4]")))
    t.appendData(rows(1L to 200L))
    for (q <- Seq(
      "SELECT * FROM mfi_once.ns.mfi_once_t WHERE id = 7",
      "SELECT v FROM mfi_once.ns.mfi_once_t WHERE id BETWEEN 10 AND 60",
      "SELECT s, sum(v) FROM mfi_once.ns.mfi_once_t GROUP BY s",
      "SELECT * FROM mfi_once.ns.mfi_once_t")) {
      val before = scanReports(t)
      val n = spark.sql(q).collect().length
      assert(n > 0, q)
      assert(scanReports(t) - before === 1L, q)
    }
  }

  test("planning a read of 40 files starts no Spark job; a self-join still reuses its exchange") {
    val wh = freshWarehouse()
    sqlCatalog("mfi_nojob", wh)
    val t = LakeCatalog.open(wh).createTable("ns", "t", schema3)
    t.appendData(rows(1L to 400L), numFiles = 40)
    // the point read keeps more files than Spark's 32-path
    // parallel-listing threshold (round-robin files all span id 200)
    assert(t.refresh().newScan(P.Eq("id", 200L)).planFiles.size > 32)

    var sqlDf: DataFrame = null
    assert(jobsStartedBy {
      sqlDf = spark.sql("SELECT id, v FROM mfi_nojob.ns.t WHERE id = 200")
      sqlDf.queryExecution.executedPlan
    } === 0)
    assert(sqlDf.collect().toSeq === Seq(Row(200L, 200L)))

    var apiDf: DataFrame = null
    assert(jobsStartedBy {
      apiDf = t.refresh().newScan(P.Eq("id", 200L)).toDF(spark)
      apiDf.queryExecution.executedPlan
    } === 0)
    assert(apiDf.collect().toSeq === Seq(Row(200L, 200L, "s200")))

    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val selfJoin = spark.sql(
        "SELECT count(*) FROM mfi_nojob.ns.t a JOIN mfi_nojob.ns.t b ON a.id = b.id")
      assert(selfJoin.queryExecution.executedPlan
        .collectFirst { case r: ReusedExchangeExec => r }.nonEmpty,
        selfJoin.queryExecution.executedPlan.treeString)
      assert(selfJoin.head().getLong(0) === 400L)
      // two engine reads of the same files scan the same relation
      def ids = t.refresh().newScan().toDF(spark).select("id")
      val apiJoin = ids.join(ids, Seq("id"))
      assert(apiJoin.queryExecution.executedPlan
        .collectFirst { case r: ReusedExchangeExec => r }.nonEmpty,
        apiJoin.queryExecution.executedPlan.treeString)
      assert(apiJoin.count() === 400L)
    }
  }

  test("merge-on-read on a location with a space: SQL and API reads match copy-on-write") {
    val wh = Files.createTempDirectory("graft mfi wh ").toString
    sqlCatalog("mfi_space", wh)
    val cat = LakeCatalog.open(wh)
    val merge = rows((25L to 29L) ++ Seq(100L, 101L), i => -i)
    val del = P.And(P.Ge("id", 10L), P.Le("id", 20L))
    def seeded(name: String): LakeTable = {
      val t = cat.createTable("ns", name, schema3)
      t.appendData(rows(1L to 60L), numFiles = 3)
      t.refresh()
    }
    val cow = seeded("cow")
    cow.deleteWhere(spark, del)
    cow.refresh().mergeInto(spark, merge, Seq("id"))
    // positional tombstones then equality deletes; DVs then equality deletes
    val pos = seeded("pos")
    val dv = seeded("dv")
    dv.setProperty("write.delete.vector.enabled", "true")
    for (t <- Seq(pos, dv)) {
      t.refresh().deleteWhereMoR(spark, del)
      t.refresh().mergeIntoMoR(spark, merge, Seq("id"))
    }
    val posSnap = pos.refresh().metadata.currentSnapshot.get
    val dvSnap = dv.refresh().metadata.currentSnapshot.get
    assert(posSnap.deleteFiles.nonEmpty && posSnap.eqDeleteFiles.nonEmpty)
    assert(dvSnap.dvFiles.nonEmpty && dvSnap.eqDeleteFiles.nonEmpty)
    assert(posSnap.files.forall(_.path.contains(" ")))

    val expected = cow.refresh().newScan().toDF(spark).collect().toSet
    assert(expected.size === 60 - 11 + 2)
    for (name <- Seq("cow", "pos", "dv")) {
      val t = cat.loadTable("ns", name)
      assert(t.newScan().toDF(spark).collect().toSet === expected, name)
      assert(spark.sql(s"SELECT * FROM mfi_space.ns.$name").collect().toSet === expected, name)
      assert(spark.sql(s"SELECT * FROM mfi_space.ns.$name WHERE id = 15").isEmpty, name)
      assert(spark.sql(s"SELECT v FROM mfi_space.ns.$name WHERE id = 27")
        .collect().toSeq === Seq(Row(-27L)), name)
      // `_file` is the reader's render of the manifest path, on every row
      val readerPaths = t.metadata.currentFiles.map(f => LakeTable.readerPath(f.path)).toSet
      assert(readerPaths.forall(_.contains("%20")))
      val files = spark.sql(s"SELECT _file FROM mfi_space.ns.$name")
        .collect().map(_.getString(0)).toSet
      assert(files.nonEmpty && files.subsetOf(readerPaths), s"$name: $files vs $readerPaths")
      val apiFiles = t.newScan().toDFWithPositions(spark)
        .select("_file").collect().map(_.getString(0)).toSet
      assert(apiFiles === files, name)
    }
  }

  test("every entry kind the index serves records its exact on-disk length") {
    val wh = freshWarehouse()
    val cat = LakeCatalog.open(wh)
    val conf = spark.sessionState.newHadoopConf()
    def onDisk(e: DataFileEntry): Long = {
      val p = new Path(e.path)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }
    def current(t: LakeTable) = t.refresh().metadata.currentSnapshot.get
    /** Entries the latest commit added, data and delete files alike. */
    def added(t: LakeTable): Seq[DataFileEntry] = {
      val m = t.refresh().metadata
      val s = m.currentSnapshot.get
      def all(x: graft.lake.Snapshot) = x.files ++ x.deleteFiles ++ x.eqDeleteFiles
      val before = s.parentId.flatMap(m.snapshot).map(all(_).map(_.path).toSet)
        .getOrElse(Set.empty[String])
      all(s).filterNot(e => before(e.path))
    }
    def check(kind: String, es: Seq[DataFileEntry]): Unit = {
      assert(es.nonEmpty, s"$kind added no entry")
      es.foreach(e => assert(e.sizeBytes === onDisk(e), s"$kind: ${e.path}"))
    }
    val t = cat.createTable("ns", "sizes", schema3)
    t.appendData(rows(1L to 90L), numFiles = 3)
    check("append", added(t))
    t.refresh().deleteWhere(spark, P.Le("id", 5L))
    check("copy-on-write rewrite", added(t))
    t.refresh().deleteWhereMoR(spark, P.Ge("id", 80L))
    check("positional tombstone", added(t).filter(current(t).deleteFiles.contains))
    t.refresh().mergeIntoMoR(spark, rows(Seq(40L, 41L), i => -i), Seq("id"))
    check("equality delete", added(t).filter(current(t).eqDeleteFiles.contains))
    t.refresh().compact(spark, 1)
    check("compaction", added(t))

    val src = Files.createTempDirectory("graft-mfi-import").toString
    rows(1000L to 1100L).write.mode("overwrite").parquet(src)
    val imp = cat.createTable("ns", "imported", schema3)
    imp.addFiles(spark, src)
    check("addFiles import", added(imp))
    assert(added(imp).forall(_.nameMapped))
  }

  test("a live data file missing on disk fails SQL and API reads, naming the file") {
    val wh = freshWarehouse()
    sqlCatalog("mfi_gone", wh)
    val t = LakeCatalog.open(wh).createTable("ns", "t", schema3)
    t.appendData(rows(1L to 90L), numFiles = 3)
    val victim = new Path(t.refresh().metadata.currentFiles.head.path)
    assert(victim.getFileSystem(spark.sessionState.newHadoopConf()).delete(victim, false))
    val sqlErr = intercept[Exception](spark.sql("SELECT * FROM mfi_gone.ns.t").collect())
    assert(messages(sqlErr).contains(victim.getName), messages(sqlErr))
    val apiErr = intercept[Exception](t.refresh().newScan().toDF(spark).collect())
    assert(messages(apiErr).contains(victim.getName), messages(apiErr))
  }
}
