package graft.lake

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + fixtures for lake-layer suites. */
trait LakeSuite extends AnyFunSuite {
  lazy val spark: SparkSession = LakeSuite.spark

  /** The reference's canonical 4-column schema (FIXTURES.md §1;
    * reference: IntegrationTest.java:59-64). */
  val canonicalSchema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("count", IntegerType, nullable = false),
    StructField("amazing", BooleanType, nullable = false),
    StructField("event_timestamp", TimestampType, nullable = false)))

  /** The reference's canonical rows: +05:00 offsets stored as UTC
    * instants (reference: IntegrationTest.java:39-41). */
  def canonicalRows: Seq[Row] = Seq(
    Row("Hello world", 22, true,
      java.sql.Timestamp.from(java.time.OffsetDateTime.parse("2005-12-01T00:00+05:00").toInstant)),
    Row("Hello moon", 33, false,
      java.sql.Timestamp.from(java.time.OffsetDateTime.parse("2005-12-24T00:00+05:00").toInstant)))

  def canonicalDF = spark.createDataFrame(
    new java.util.ArrayList[Row](canonicalRows.asJava0), canonicalSchema)

  implicit class SeqOps[T](s: Seq[T]) {
    def asJava0: java.util.List[T] = {
      val l = new java.util.ArrayList[T]()
      s.foreach(l.add)
      l
    }
  }

  /** Spark jobs started while `body` runs. Listener events arrive in
    * posting order, so once a fence job's start has been seen, every
    * job started before it has been seen too. */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def fence(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(tag) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.contains(tag), s"fence job $tag never reached the listener")
    }
    sc.addSparkListener(listener)
    try {
      fence("fence-before")
      seen.clear()
      body
      fence("fence-after")
      seen.asScala.count(_ != "fence-after")
    } finally sc.removeSparkListener(listener)
  }

  def freshWarehouse(): String =
    Files.createTempDirectory("graft_test_wh_").toString

  def ordersDF = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
  def lineitemDF = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
}

object LakeSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.lake.sql.LakeSqlExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
