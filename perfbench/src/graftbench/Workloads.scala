package graftbench

import scala.collection.mutable
import scala.util.Random
import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{LakePredicate, LakeTable, PartitionField, ScanReport, SimpleMetrics}

object Util {
  def localPath(uri: String): java.nio.file.Path =
    java.nio.file.Paths.get(if (uri.contains(":")) new java.net.URI(uri).getPath else uri)

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.exists(dir)) return 0L
    val s = java.nio.file.Files.walk(dir)
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** Bytes under a table's directory over the bytes of its live data
    * and delete files. */
  def spaceAmp(tables: Seq[LakeTable]): Double = {
    val live = tables.map { t =>
      t.refresh().metadata.currentSnapshot.map(s =>
        (s.files ++ s.deleteFiles ++ s.eqDeleteFiles ++ s.dvFiles).map(_.sizeBytes).sum)
        .getOrElse(0L)
    }.sum
    tables.map(t => dirBytes(localPath(t.location))).sum.toDouble / math.max(1L, live)
  }

  /** Row multisets equal, doubles to a relative 1e-9 (aggregation order
    * differs between the lake read and the raw read). */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.6e"
      case x => String.valueOf(x)
    }.mkString("|")
    def close(x: Any, y: Any): Boolean = (x, y) match {
      case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(p))
      case _ => x == y
    }
    a.size == b.size && a.sortBy(key).zip(b.sortBy(key)).forall { case (r, s) =>
      r.size == s.size && (0 until r.size).forall(i => close(r.get(i), s.get(i)))
    }
  }

  /** Reads the SQL catalog's report meters for one table. */
  final case class Meters(plans: Long, planMs: Long, files: Long, deletes: Long,
      addedBytes: Long)
  def meters(table: String): Meters = {
    val m: SimpleMetrics = graft.lake.sql.LakeSqlCatalog.metrics
    Meters(m.timerCount("lake.scanReport.totalPlanningDuration", table),
      m.timerTotalMs("lake.scanReport.totalPlanningDuration", table),
      m.counterValue("lake.scanReport.resultDataFiles", table),
      m.counterValue("lake.scanReport.resultDeleteFiles", table),
      m.counterValue("lake.commitReport.addedFilesSizeInBytes", table))
  }
}

/** Seeded SELECTs through the SQL catalog over a table of many files in
  * many manifests. */
final class SqlRead(ctx: Ctx) extends Workload {
  import ctx._
  def cycle: Int = Pattern.size
  val Rows = 60000L
  val Files = 64
  private val orders = Rows / 4
  private var ns = ""
  /** Every read's (op index, result), checked after the loop. */
  private val results = mutable.ArrayBuffer.empty[(Int, Seq[Row])]

  /** Writes the raw parquet, then the table: one write job and one
    * commit per file, so a manifest per file. */
  override def stage(): Unit = {
    val raw = s"$work/raw_lineitem.parquet"
    Gen.lineitem(spark, seed, 0L, Rows, orders, 20000L, 1000L).write.parquet(raw)
    val df = spark.read.parquet(raw)
    df.createOrReplaceTempView("raw_lineitem")
    ns = "read"
    lake.createNamespace(ns)
    val t = lake.createTable(ns, "lineitem", df.schema, Seq(PartitionField("l_shipdate", "month")))
    t.writeDataFiles(df, numFiles = Files).foreach(f => t.newAppend().appendFile(f).commit())
  }

  def setup(rep: Int): Unit = ()

  /** A fixed pattern, so every run times the same mix (6 point lookups,
    * 3 one-month aggregates, 1 full aggregate); the seed picks the keys
    * and months. */
  private val Pattern = Vector("point", "range", "point", "point", "range", "point", "full",
    "point", "range", "point")
  private def kind(i: Int): String = Pattern(i % cycle)

  private def month(i: Int): LocalDateTime =
    LocalDateTime.of(1995, 1, 1, 0, 0).plusMonths(new Random(seed * 31 + i).nextInt(82))
  private def key(i: Int): Long = (new Random(seed * 31 + i).nextDouble() * orders).toLong

  private def text(i: Int, t: String): String = kind(i) match {
    case "point" =>
      s"SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, l_shipdate " +
        s"FROM $t WHERE l_orderkey = ${key(i)}"
    case "range" =>
      val m = month(i)
      s"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, " +
        s"sum(l_extendedprice) AS px FROM $t WHERE l_shipdate >= TIMESTAMP_NTZ '$m:00' " +
        s"AND l_shipdate < TIMESTAMP_NTZ '${m.plusMonths(1)}:00' " +
        "GROUP BY l_returnflag, l_linestatus"
    case _ =>
      s"SELECT l_returnflag, count(*) AS n, sum(l_extendedprice * (1 - l_discount)) AS rev, " +
        s"avg(l_quantity) AS aq FROM $t GROUP BY l_returnflag"
  }

  private def pred(i: Int): LakePredicate = kind(i) match {
    case "point" => LakePredicate.Eq("l_orderkey", key(i))
    case "range" => LakePredicate.And(LakePredicate.Ge("l_shipdate", month(i)),
      LakePredicate.Lt("l_shipdate", month(i).plusMonths(1)))
    case _ => LakePredicate.AlwaysTrue
  }

  def op(i: Int): Op = Op("query", kind(i), () => {
    val tname = s"$ns.lineitem"
    var m0 = if (tracing) Util.meters(tname) else null
    // the lake plans its files inside one of Catalyst's phases; the
    // report meters read between phases say which one, and how long
    def phase[T](name: String)(body: => T): T = {
      val r = span(name)(body)
      if (tracing) {
        val m1 = Util.meters(tname)
        if (m1.plans > m0.plans) {
          val p = tracer.spans.reverseIterator.find(s => s != null && s.name == name).get
          tracer.add(p.op, p.id, "lake.scan", p.endNs - (m1.planMs - m0.planMs) * 1000000L, p.endNs)
          put("lake.scan.plans", (m1.plans - m0.plans).toDouble)
          put("lake.scan.files", (m1.files - m0.files).toDouble)
          put("lake.scan.delete_files", (m1.deletes - m0.deletes).toDouble)
        }
        m0 = m1
      }
      r
    }
    val df = phase("sql.analysis")(spark.sql(text(i, s"lake.$tname")))
    val qe = df.queryExecution
    phase("sql.optimization")(qe.optimizedPlan)
    phase("sql.planning")(qe.executedPlan)
    results += i -> phase("sql.exec")(df.collect()).toSeq
  }, explicitPhases = true)

  /** Plans the query's predicate through the API, where the report
    * carries the manifest skip counts and the planning time is timed to
    * the microsecond (the SQL path's meters keep whole milliseconds). */
  override def afterOp(i: Int): Unit = {
    val n = ctx.reports.size
    val scan = lake.loadTable(ns, "lineitem").newScan(pred(i))
    val t0 = System.nanoTime()
    scan.planFiles
    put("lake.scan.plan_ms", (System.nanoTime() - t0) / 1e6)
    ctx.reports.drop(n).collectFirst { case r: ScanReport => r }.foreach { r =>
      put("lake.scan.manifests_skipped", r.skippedDataManifests.toDouble)
      put("lake.scan.manifests", (r.skippedDataManifests + r.scannedDataManifests).toDouble)
    }
  }

  def verify(): Seq[String] = {
    val missing = Seq("point", "range", "full").filterNot(k => results.exists(r => kind(r._1) == k))
      .map(k => s"lake: no $k query ran")
    val raw = mutable.Map.empty[String, Seq[Row]]
    missing ++ results.flatMap { case (i, rows) =>
      val sql = text(i, "raw_lineitem")
      val want = raw.getOrElseUpdate(sql, spark.sql(sql).collect().toSeq)
      if (Util.sameRows(rows, want)) None
      else Some(s"lake: query $i (${kind(i)}) returned ${rows.size} rows, raw parquet ${want.size}")
    }
  }

  override def describe(): String =
    s"""{"rows":$Rows,"files":$Files,"manifests":${
      lake.loadTable(ns, "lineitem").metadata.currentSnapshot.get.dataManifests.size}}"""
}

/** Appends, SQL DELETE / UPDATE / MERGE and maintenance on a
  * copy-on-write and a merge-on-read table of orders. Each statement is
  * followed by a re-read of the keys it touched; the cycle ends with
  * compaction, snapshot expiry and the orphan sweep on the merge-on-read
  * table, whose delete files compaction retires. */
final class IngestMutate(ctx: Ctx) extends Workload {
  import ctx._
  val Rows = 20000
  private val Tables = Seq("cow", "mor")
  /** (kind, verb, table) of each op of one cycle; MERGE runs on both
    * tables, where copy-on-write and merge-on-read differ most. */
  private val Schedule: Vector[(String, String, String)] =
    Vector(("write", "append", "cow"), ("write", "append", "mor")) ++
      Seq("delete" -> "cow", "update" -> "mor", "merge" -> "cow", "merge" -> "mor").flatMap {
        case (v, t) => Seq(("write", v, t), ("reread", v, t))
      } :+ ("maint", "maint", "mor")
  val cycle: Int = Schedule.size
  /** Rows per append to the copy-on-write and the merge-on-read table;
    * the same in every cycle, so later cycles differ from earlier ones
    * only by what the earlier ones left behind. */
  private val Sizes = Vector(20000, 5000)
  private var ns = ""
  private var init = ""
  /** Live keys of each table after the statements run so far. */
  private val live = Tables.map(_ -> mutable.BitSet.empty).toMap
  private val log = mutable.ArrayBuffer.empty[String]
  private val sources = mutable.Map.empty[Int, Seq[Row]]
  private var before: (Long, Long) = null
  /** Re-reads that saw another row count than the key model. */
  private val wrong = mutable.ArrayBuffer.empty[String]

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType)))

  /** Parquet directory of append `a`'s slice: its own key range, far
    * above the initial keys and the keys MERGE inserts. */
  private def slicePath(a: Int) = s"$work/mutate_slices/slice=$a"
  /** Staged slices: the two cycles an untraced run times. */
  private val Staged = 4
  private def slices(as: Seq[Int]): DataFrame =
    as.map(a => Gen.orders(spark, seed, 10000000L + 100000L * a, Sizes(a % 2), 1500L)
      .withColumn("slice", lit(a))).reduce(_ union _)

  override def stage(): Unit = {
    init = s"$work/mutate_init.parquet"
    Gen.orders(spark, seed, 0L, Rows, 1500L).coalesce(1).write.parquet(init)
    slices(0 until Staged).write.partitionBy("slice").parquet(s"$work/mutate_slices")
  }

  /** Creates both tables and writes the initial rows into each: a sorted
    * write job, the footer harvest and a commit per table. */
  def setup(rep: Int): Unit = {
    ns = s"im$rep"
    val df = spark.read.parquet(init)
    lake.createNamespace(ns)
    Tables.foreach { name =>
      val t = lake.createTable(ns, name, df.schema).setWriteOrder("o_orderkey")
      if (name == "mor") Seq("delete", "update", "merge")
        .foreach(op => t.setProperty(s"write.$op.mode", "merge-on-read"))
      t.refresh().appendData(df, numFiles = 8)
      live(name).clear()
      live(name) ++= (0 until Rows)
    }
  }

  /** Statement s (the s-th DML) touches keys [lo, hi). */
  private def range(s: Int, verb: String): (Long, Long) = {
    val a = new Random(seed * 131 + s).nextInt(Rows - 300).toLong
    (a, a + (if (verb == "delete") 100 else 200))
  }

  private def source(s: Int): Seq[Row] = {
    val (a, _) = range(s, "merge")
    val r = new Random(seed * 137 + s)
    val keys = (a until a + 150) ++ (0 until 50).map(j => Rows.toLong + 50L * s + j)
    keys.map(k => Row(k, r.nextInt(1500).toLong, "O", math.round(r.nextDouble() * 4e7) / 100.0,
      LocalDateTime.of(1998, 1, 1, 0, 0).plusDays(r.nextInt(900)), "2-HIGH"))
  }

  def op(i: Int): Op = {
    val (kind, verb, t) = Schedule(i % cycle)
    val c = i / cycle
    val name = s"lake.$ns.$t"
    // DML ops sit at positions 2, 4, 6 and 8 of a cycle
    val s = c * 4 + (i % cycle - 2) / 2
    val (lo, hi) = range(s, verb)
    kind match {
      case "write" if verb == "append" => append(c * 2 + Tables.indexOf(t), t)
      case "write" => dml(s, verb, t, name, lo, hi)
      case "reread" => Op("reread", s"reread_$t", () => {
        val m0 = if (tracing) Util.meters(s"$ns.$t") else null
        val r = span("sql.query")(spark.sql(
          s"SELECT count(*), sum(o_totalprice) FROM $name " +
            s"WHERE o_orderkey >= $lo AND o_orderkey < $hi").collect())
        val want = live(t).range(lo.toInt, hi.toInt).size
        if (r.head.getLong(0) != want)
          wrong += s"lake: re-read of $t [$lo, $hi) after $verb in cycle $c saw ${r.head.getLong(0)} rows, want $want"
        if (tracing) {
          val m1 = Util.meters(s"$ns.$t")
          put("lake.scan.plans", (m1.plans - m0.plans).toDouble)
          put("lake.scan.files", (m1.files - m0.files).toDouble)
          put("lake.scan.delete_files", (m1.deletes - m0.deletes).toDouble)
        }
      })
      case _ => maint(t)
    }
  }

  private def append(a: Int, t: String): Op = {
    // a later slice is written here, before the op's timing starts
    if (a >= Staged)
      slices(Seq(a)).write.mode("append").partitionBy("slice").parquet(s"$work/mutate_slices")
    Op("write", s"append_$t", () => appendSlice(a, t))
  }

  private def appendSlice(a: Int, t: String): Unit = {
    val df = spark.read.parquet(slicePath(a))
    before = if (tracing) (System.currentTimeMillis(), 0L) else null
    val tbl = span("lake.catalog")(lake.loadTable(ns, t))
    val op = tbl.newAppend()
    span("lake.write")(op.appendData(df))
    val r = span("lake.commit")(op.commit())
    live(t) ++= (10000000 + 100000 * a until 10000000 + 100000 * a + r.addedRecords.toInt)
    log += s"""{"table":"$t","verb":"append","source":${Main.q(slicePath(a))}}"""
    put("lake.write.files", r.addedDataFiles.toDouble)
    put("lake.write.bytes", r.addedFilesSizeInBytes.toDouble)
    put("lake.write.rows", r.addedRecords.toDouble)
    put("lake.commit.report_ms", r.totalDurationMs.toDouble)
    put("lake.commit.attempts", r.attempts.toDouble)
    put("lake.commit.count", 1)
  }

  private def dml(s: Int, verb: String, t: String, name: String, lo: Long, hi: Long): Op =
    Op("write", s"${verb}_$t", () => {
      val sql = verb match {
        case "delete" => s"DELETE FROM $name WHERE o_orderkey >= $lo AND o_orderkey < $hi"
        case "update" => s"UPDATE $name SET o_totalprice = o_totalprice + 1.5, " +
          s"o_orderpriority = '1-URGENT' WHERE o_orderkey >= $lo AND o_orderkey < $hi"
        case _ =>
          s"MERGE INTO $name AS t USING src_$s AS s ON t.o_orderkey = s.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
      }
      val src = if (verb == "merge") sources.getOrElseUpdate(s, source(s)) else Nil
      if (src.nonEmpty) spark.createDataFrame(java.util.Arrays.asList(src: _*), schema)
        .createOrReplaceTempView(s"src_$s")
      val changed = if (verb == "merge") src.size else live(t).range(lo.toInt, hi.toInt).size
      before = if (tracing) (System.currentTimeMillis(), Util.meters(s"$ns.$t").addedBytes) else null
      span("lake.dml")(spark.sql(sql))
      verb match {
        case "delete" => live(t) --= (lo.toInt until hi.toInt)
        case "merge" => live(t) ++= src.map(_.getLong(0).toInt)
        case _ =>
      }
      log += s"""{"table":"$t","verb":"$verb","lo":$lo,"hi":$hi,"source":${
        if (src.nonEmpty) Main.q(s"$work/mutate_sources/stmt=$s") else "null"}}"""
      put("lake.dml.rows_changed", changed.toDouble)
    })

  private def maint(t: String): Op = Op("maint", s"maint_$t", () => {
    val tbl = span("lake.catalog")(lake.loadTable(ns, t))
    val deletes0 = tbl.metadata.currentSnapshot.map(s =>
      s.deleteFiles.size + s.eqDeleteFiles.size + s.dvFiles.size).getOrElse(0)
    val r = span("lake.maint.compact")(tbl.compact(spark, targetFiles = 8))
    span("lake.maint.expire")(tbl.refresh().expireSnapshots(keepLast = 2))
    val orphans = span("lake.maint.orphans")(tbl.refresh().removeOrphanFiles())
    put("lake.maint.bytes_rewritten", r.addedFilesSizeInBytes.toDouble)
    put("lake.maint.delete_files_retired", (deletes0 - r.totalDeleteFiles).toDouble)
    put("lake.maint.orphans_removed", orphans.size.toDouble)
  })

  override def afterOp(i: Int): Unit = {
    val (kind, verb, t) = Schedule(i % cycle)
    if (verb == "append" && before != null) {
      val md = Util.localPath(lake.loadTable(ns, t).location).resolve("metadata").toFile
      put("lake.commit.metadata_bytes", md.listFiles().filter(_.lastModified >= before._1)
        .map(_.length).sum.toDouble)
      before = null
    }
    if (kind == "write" && verb != "append" && before != null) {
      val (t0, bytes0) = before
      val added = lake.loadTable(ns, t).snapshots.filter(_.timestampMs >= t0)
      def sum(k: String) = added.map(_.summary.getOrElse(k, "0").toLong).sum.toDouble
      put("lake.dml.files_removed", sum("removed-data-files"))
      put("lake.dml.delete_files_added", sum("added-delete-files"))
      put("lake.dml.bytes_added", (Util.meters(s"$ns.$t").addedBytes - bytes0).toDouble)
      before = null
    }
  }

  def verify(): Seq[String] = {
    // the MERGE sources, for the DuckDB replay
    if (sources.nonEmpty) spark.createDataFrame(java.util.Arrays.asList(
      sources.toSeq.flatMap { case (s, rows) => rows.map(r => Row.fromSeq(r.toSeq :+ s)) }: _*),
      schema.add("stmt", IntegerType)).write.partitionBy("stmt").parquet(s"$work/mutate_sources")
    wrong.toSeq ++ Tables.flatMap { t =>
      spark.sql(s"SELECT * FROM lake.$ns.$t").coalesce(1).write.mode("overwrite")
        .parquet(s"$work/mutate_final_$t.parquet")
      val n = spark.sql(s"SELECT count(*) FROM lake.$ns.$t").head.getLong(0)
      if (n == live(t).size) None else Some(s"lake: $t has $n rows, want ${live(t).size}")
    }
  }

  override def finalValues(): Map[String, Double] =
    Map("lake.space_amp" -> Util.spaceAmp(Tables.map(lake.loadTable(ns, _))))

  override def describe(): String =
    s"""{"init":${Main.q(init)},"final":{${Tables.map(t =>
      s""""$t":${Main.q(s"$work/mutate_final_$t.parquet")}""").mkString(",")}},""" +
      s""""statements":${log.mkString("[", ",", "]")}}"""
}

/** Corpus queries that read no lake table, in a fixed rotation. */
final class CorpusRun(ctx: Ctx) extends Workload {
  import ctx._
  import CorpusRun.Queries
  val cycle = Queries.size
  /** The queries' second runs still cost up to twice their fourth. */
  override val timedCycles = 4
  val Scale = 0.01
  private var dir = ""
  /** Each query's first result; later runs must return the same rows. */
  private val first = mutable.Map.empty[String, (Seq[Row], StructType)]
  private val wrong = mutable.ArrayBuffer.empty[String]

  /** Generates the tables, then builds the bucketed copies of orders
    * and lineitem, the step of `Corpus.prepare` that needs only tables
    * generated here. */
  def setup(rep: Int): Unit = {
    dir = s"$work/corpus$rep"
    Gen.corpus(spark, seed, Scale, dir, CorpusRun.Tables)
    graft.queries.JoinExtraQueries.prepareBucketed(spark, dir)
  }

  def op(i: Int): Op = {
    val name = Queries(i % Queries.size)
    Op("query", name, () => {
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val rows = df.collect().toSeq
        first.get(name) match {
          case None => first(name) = (rows, df.schema)
          case Some((want, _)) => if (!Util.sameRows(rows, want))
            wrong += s"corpus: op $i $name returned ${rows.size} rows, its first run ${want.size}"
        }
      } finally graft.queries.QueryCaches.clear()
    })
  }

  def verify(): Seq[String] = {
    val missing = Queries.filterNot(first.contains).map(q => s"corpus: $q never completed")
    first.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/corpus_out/$name")
    }
    missing ++ wrong
  }

  override def describe(): String = {
    val oracle = graft.SparkEntry.oracleSql
    s"""{"data":${Main.q(dir)},"out":${Main.q(s"$work/corpus_out")},"oracle":{${
      Queries.map(q => s"${Main.q(q)}:${Main.q(oracle(q))}").mkString(",")}}}"""
  }
}

object CorpusRun {
  val Queries: Vector[String] = Vector("q_multi_supplier_orders", "dedup_simhash")
  /** The tables those queries read. */
  val Tables: Set[String] = Set("lineitem", "orders", "supplier", "documents")
}

/** The lake loop: each cycle is a block of SQL reads on a many-file
  * table followed by a cycle of appends, DML, re-reads and maintenance
  * on two small tables. */
final class Lake(ctx: Ctx) extends Workload {
  private val read = new SqlRead(ctx)
  private val write = new IngestMutate(ctx)
  val cycle: Int = read.cycle + write.cycle
  /** (part, index within that part's own schedule) of op i. */
  private def route(i: Int): (Workload, Int) = {
    val (c, p) = (i / cycle, i % cycle)
    if (p < read.cycle) (read, c * read.cycle + p)
    else (write, c * write.cycle + p - read.cycle)
  }
  override def stage(): Unit = { read.stage(); write.stage() }
  def setup(rep: Int): Unit = write.setup(rep)
  def op(i: Int): Op = { val (w, j) = route(i); w.op(j) }
  override def afterOp(i: Int): Unit = { val (w, j) = route(i); w.afterOp(j) }
  def verify(): Seq[String] = read.verify() ++ write.verify()
  override def finalValues(): Map[String, Double] = write.finalValues()
  override def describe(): String = s"""{"read":${read.describe()},"write":${write.describe()}}"""
}
