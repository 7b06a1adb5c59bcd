package graft.lake

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.Trigger

/** The lake writer ([[LakeWriter]]): tasks write final files and return
  * their manifest entries, the driver commits exactly those, and the
  * files match what Spark's own parquet write makes of the same rows. */
class LakeWriterSpec extends LakeSuite {

  private def conf = spark.sessionState.newHadoopConf()

  private def footer(path: String): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try reader.getFooter finally reader.close()
  }

  /** Every file name under `dir`, recursively, relative to it. */
  private def namesUnder(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(new Path(dir).toUri.getPath)
    Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSet
  }

  private def parquetUnder(dir: String): Set[String] =
    namesUnder(dir).filter(_.endsWith(".parquet")).map(n => s"$dir/$n")

  private def norm(p: String): String = new Path(p).toUri.getPath

  test("an append's directory holds exactly its manifest files and their .crc files") {
    val t = LakeCatalog.open(freshWarehouse()).createTable("ns", "exact",
      ordersDF.schema)
    t.appendData(ordersDF, numFiles = 3)
    val files = t.refresh().metadata.currentFiles.map(_.path)
    assert(files.size === 3)
    val dirs = files.map(p => p.substring(0, p.lastIndexOf('/'))).distinct
    assert(dirs.size === 1, s"one write, one directory: $dirs")
    val names = files.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(namesUnder(dirs.head) === names ++ names.map(n => s".$n.crc"),
      "no _SUCCESS, no _temporary, nothing unreferenced")
  }

  test("a write whose task throws leaves the snapshot unchanged; the orphan sweep reclaims its files") {
    val t = LakeCatalog.open(freshWarehouse()).createTable("ns", "failed",
      ordersDF.schema)
    t.appendData(ordersDF.limit(100))
    val before = t.refresh().currentSnapshotId
    val live = t.metadata.currentFiles.map(f => norm(f.path)).toSet
    // partition 0 throws after passing rows to its writer, once the
    // other partitions have had time to commit their files
    val failing = udf { (k: Long) =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0 && k % 8 == 7) {
        Thread.sleep(2000)
        throw new IllegalStateException("write task failure")
      }
      k
    }
    val rows = ordersDF.repartition(4)
      .withColumn("o_orderkey", failing(col("o_orderkey")))
    val e = intercept[Exception](t.refresh().appendData(rows))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("write task failure")))
    assert(t.refresh().currentSnapshotId === before)
    assert(t.metadata.currentFiles.map(f => norm(f.path)).toSet === live)
    val data = s"${t.location}/data"
    val left = parquetUnder(data).map(norm) -- live
    // the failed attempt deleted its own file; committed tasks' files stay
    assert(!left.exists(_.contains("/part-00000-")), left)
    val removed = t.removeOrphanFiles().map(norm).toSet
    assert(removed === left)
    assert(parquetUnder(data).map(norm) === live)
    assert(t.refresh().newScan().toDF(spark).count() === 100L)
  }

  test("task-built entries and files match Spark's parquet write of the same rows") {
    val t = LakeCatalog.open(freshWarehouse()).createTable("ns", "parity",
      spark.range(0, 1).select(
        col("id").as("k"),
        timestamp_seconds(col("id")).as("ts"),
        col("id").cast("decimal(12,2)").as("amount"),
        struct(col("id").as("a"), col("id").cast("string").as("b")).as("s"),
        parse_json(lit("{\"x\": 1}")).as("doc"),
        concat(lit("key-"), col("id").cast("string")).as("ukey")).schema)
    t.setProperty("write.parquet.bloom-filter-enabled.column.ukey", "true")
    // a size basis first, then a target that rolls ~700 rows a file
    val rows = spark.range(0, 6000, 1, 3).select(
      col("id").as("k"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      (col("id") / 7).cast("decimal(12,2)").as("amount"),
      struct((col("id") % 13).as("a"), col("id").cast("string").as("b")).as("s"),
      parse_json(format_string("{\"x\": %d}", col("id"))).as("doc"),
      concat(lit("key-"), (col("id") * 2654435761L % 100000).cast("string")).as("ukey"))
    t.refresh().appendData(rows.limit(500), numFiles = 1)
    val seed = t.refresh().metadata.currentFiles.head
    t.setProperty("write.target-file-size-bytes",
      (seed.sizeBytes / seed.recordCount * 700).toString)
    val tbl = t.refresh()
    val options = tbl.writeOptions
    assert(options.contains("maxRecordsPerFile") &&
      options.contains("parquet.bloom.filter.enabled#ukey"), options)
    // range bounds come from a sample seeded by RDD id: both writes
    // read one cached clustering, so they see the same partitions
    val clustered = rows.repartitionByRange(4, col("k")).sortWithinPartitions("k").persist()
    val schema = LakeTable.writeSchema(clustered.schema, tbl.metadata.schemaWithFieldIds)
    val wh = freshWarehouse()

    val entries = try {
      clustered.count()
      // the reference: Spark's batch parquet write under the same confs
      SessionBridge.withConfs(SessionBridge.withSchema(clustered, schema), LakeWriter.Overlay)
        .write.options(options).parquet(s"$wh/spark")
      LakeWriter.write(clustered, s"$wh/lake", schema, options,
        EntryStats(tbl.schema, tbl.spec, tbl.metadata.fieldIds))
    } finally clustered.unpersist()
    val sparkFiles = parquetUnder(s"$wh/spark").toSeq.sortBy(p => new Path(p).getName)

    assert(entries.map(_.recordCount) === sparkFiles.map(p =>
      footer(p).getBlocks.asScala.map(_.getRowCount).sum))
    assert(entries.size > 4, "the row cap rolled files")
    val lakeFooters = entries.map(e => footer(e.path))
    val sparkFooters = sparkFiles.map(footer)
    (lakeFooters zip sparkFooters).foreach { case (l, s) =>
      assert(l.getFileMetaData.getSchema.toString === s.getFileMetaData.getSchema.toString)
      val codecs = (m: ParquetMetadata) =>
        m.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
      assert(codecs(l) === codecs(s))
      val blooms = (m: ParquetMetadata) => m.getBlocks.asScala.flatMap(_.getColumns.asScala
        .filter(_.getBloomFilterOffset >= 0).map(_.getPath.toDotString)).toSet
      assert(blooms(l) === Set("ukey"))
      assert(blooms(l) === blooms(s))
    }
    assert(lakeFooters.head.getFileMetaData.getSchema.toString.contains("= "),
      "field ids written")

    val statuses: Seq[FileStatus] = entries.map { e =>
      val p = new Path(e.path)
      p.getFileSystem(conf).getFileStatus(p)
    }
    assert(entries.map(_.sizeBytes) === statuses.map(_.getLen))
    assert(entries === StatsHarvester.harvestFiles(spark, statuses, tbl.schema, tbl.spec,
      tbl.metadata.fieldIds))
  }

  test("a streaming append writes the session's codec and the table's bloom filters") {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.compression.codec", "gzip")
    val wh = freshWarehouse()
    s.conf.set("spark.sql.catalog.wcat", classOf[sql.LakeSqlCatalog].getName)
    s.conf.set("spark.sql.catalog.wcat.warehouse", wh)
    s.sql("CREATE NAMESPACE wcat.ns")
    s.sql("CREATE TABLE wcat.ns.src (id BIGINT, ukey STRING)")
    s.sql("CREATE TABLE wcat.ns.dst (id BIGINT, ukey STRING)")
    val cat = LakeCatalog.open(wh)
    // BloomFilterSpec's high-cardinality keys
    cat.loadTable("ns", "src").appendData(spark.range(0, 5000).select(col("id"),
      concat(lit("key-"), (col("id") * 2654435761L % 100000).cast("string")).as("ukey")))
    cat.loadTable("ns", "dst")
      .setProperty("write.parquet.bloom-filter-enabled.column.ukey", "true")
    val ckpt = Files.createTempDirectory("graft_writer_ck_").toString
    s.readStream.option("stream-from", "beginning").table("wcat.ns.src")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("wcat.ns.dst")
      .awaitTermination()
    val files = cat.loadTable("ns", "dst").metadata.currentFiles.map(_.path)
    assert(files.nonEmpty)
    files.foreach { p =>
      val chunks = footer(p).getBlocks.asScala.flatMap(_.getColumns.asScala)
      assert(chunks.map(_.getCodec.name).toSet === Set("GZIP"), p)
      assert(chunks.filter(_.getBloomFilterOffset >= 0).map(_.getPath.toDotString).toSet ===
        Set("ukey"), p)
    }
  }
}
