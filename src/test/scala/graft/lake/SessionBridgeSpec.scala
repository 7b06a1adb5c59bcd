package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Derived sessions (`SessionBridge`): one per (caller, overlay),
  * reused across lake operations, yet a conf or a listener the caller
  * gains reaches the next lake operation, and the overlay never leaks
  * into the caller. Each test works on its own `newSession()` so the
  * shared session's conf and listeners stay untouched. */
class SessionBridgeSpec extends LakeSuite {

  private val schema2 = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  private def rows(s: SparkSession, ids: Seq[Long]) =
    s.createDataFrame(new java.util.ArrayList[Row](
      ids.map(i => Row(i, i * 10)).asJava), schema2)

  private def liveFiles(t: LakeTable): Set[String] =
    t.refresh().metadata.currentSnapshot.toSeq.flatMap(_.files.map(_.path)).toSet

  /** The parquet codec of the first column chunk of `path`. */
  private def codec(path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.name
    finally reader.close()
  }

  test("the same caller and overlay get the same derived session") {
    val caller = spark.newSession()
    val overlay = Map("spark.sql.parquet.fieldId.read.enabled" -> "true")
    val a = SessionBridge.sessionWithConfs(caller, overlay)
    val b = SessionBridge.sessionWithConfs(caller, overlay)
    assert(a eq b)
    assert(!(a eq caller))
    assert(a.conf.get("spark.sql.parquet.fieldId.read.enabled") == "true")
    // another overlay or another caller derives its own
    val c = SessionBridge.sessionWithConfs(caller,
      overlay + ("spark.sql.shuffle.partitions" -> "3"))
    assert(!(c eq a))
    assert(!(SessionBridge.sessionWithConfs(spark.newSession(), overlay) eq a))
    // a write rebound through withConfs runs on that same session
    assert(SessionBridge.withConfs(rows(caller, Seq(1L)), overlay).sparkSession eq a)
  }

  test("a conf set on the caller reaches the next lake write") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.parquet.compression.codec", "snappy")
    val t = LakeCatalog.open(freshWarehouse()).createTable("ns", "codec", schema2)
    t.appendData(rows(caller, 1L to 20L), numFiles = 1)
    val first = liveFiles(t)
    assert(first.nonEmpty && first.forall(codec(_) == "SNAPPY"))
    caller.conf.set("spark.sql.parquet.compression.codec", "gzip")
    t.appendData(rows(caller, 21L to 40L), numFiles = 1)
    val added = liveFiles(t) -- first
    assert(added.nonEmpty)
    assert(added.forall(codec(_) == "GZIP"), added.map(p => p -> codec(p)))
  }

  test("a listener registered on the caller after a lake op sees the next lake write") {
    val caller = spark.newSession()
    val t = LakeCatalog.open(freshWarehouse()).createTable("ns", "listened", schema2)
    t.appendData(rows(caller, 1L to 20L), numFiles = 1)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.analyzed.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    caller.listenerManager.register(listener)
    try {
      t.appendData(rows(caller, 21L to 40L), numFiles = 1)
      def sawWrite = plans.asScala.exists(p =>
        p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(t.location))
      // QueryExecutionListener delivery is async — poll briefly
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() < deadline && !sawWrite) Thread.sleep(50)
      assert(sawWrite, plans.asScala.mkString("\n---\n"))
    } finally caller.listenerManager.unregister(listener)
  }

  test("the overlay never appears in the caller's conf") {
    val caller = spark.newSession()
    val before = caller.conf.getAll
    val overlay = Map(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.parquet.fieldId.write.enabled" -> "true")
    val derived = SessionBridge.sessionWithConfs(caller, overlay)
    assert(overlay.forall { case (k, v) => derived.conf.get(k) == v })
    // a lake write pins the same overlay on its own derived session
    val t = LakeCatalog.open(freshWarehouse()).createTable("ns", "overlay", schema2)
    t.appendData(rows(caller, 1L to 20L), numFiles = 1)
    assert(caller.conf.getAll == before)
    assert(overlay.keys.forall(k => !before.contains(k) || before(k) != overlay(k)),
      "pick overlay values the caller does not already hold")
  }
}
