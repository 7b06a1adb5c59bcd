package graft.lake

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Task retries during lake writes. The shared test session runs
  * `local[4]`, which never retries a task, so this spec starts ONE child
  * JVM on the test classpath with master `local[2,2]` (two attempts per
  * task) and runs every write path there ([[TaskRetryWriteMain]]). In
  * each scenario the first attempt of partition 0 of every write stage
  * throws after it has passed rows to the writer; the retry then
  * succeeds. The table must hold exactly the expected rows (no row lost,
  * none duplicated), every file the manifest names must exist, and a
  * later `removeOrphanFiles` must delete no live file. */
class TaskRetryWriteSpec extends AnyFunSuite {

  private lazy val results: Map[String, String] = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = Seq("java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
      "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar").flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (javaBin +: opens) ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
      TaskRetryWriteMain.getClass.getName.stripSuffix("$"))
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val log = Files.createTempFile("graft_task_retry_", ".log").toFile
    pb.redirectOutput(log)
    val proc = pb.start()
    val finished = proc.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly()
    val lines = scala.io.Source.fromFile(log).getLines().toVector
    val found = lines.collect {
      case l if l.startsWith("RESULT ") =>
        val parts = l.stripPrefix("RESULT ").split(" ", 2)
        parts(0) -> (if (parts.length > 1) parts(1) else "")
    }.toMap
    if (found.isEmpty) Map("_crash" -> lines.takeRight(40).mkString("\n"))
    else found
  }

  private def scenario(name: String): Unit = {
    val r = results.getOrElse(name,
      fail(s"no result for $name; child output tail:\n${results.getOrElse("_crash", "")}"))
    assert(r == "PASS", s"$name: $r")
  }

  test("append survives a retried write task") { scenario("append") }
  test("copy-on-write DELETE survives a retried write task") { scenario("cow_delete") }
  test("merge-on-read UPDATE (positional deletes) survives a retried write task") {
    scenario("mor_update")
  }
  test("merge-on-read MERGE (equality deletes) survives a retried write task") {
    scenario("mor_merge")
  }
  test("compact survives a retried write task") { scenario("compact") }
  test("a streaming micro-batch survives a retried write task") { scenario("stream") }
}

/** Child-JVM body of [[TaskRetryWriteSpec]]: prints one
  * `RESULT <scenario> PASS|<reason>` line per scenario. */
object TaskRetryWriteMain {

  /** Rows a first attempt passes on before it throws. */
  private val RowsBeforeFailure = 5
  private val armed = new AtomicBoolean(false)
  private val injected = new AtomicInteger(0)
  private val seen = new ConcurrentHashMap[java.lang.Long, Integer]()

  /** Passes its child through; on attempt 0 of partition 0 it throws
    * once the task has evaluated [[RowsBeforeFailure]] rows. */
  final case class FailFirstAttempt(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: org.apache.spark.sql.types.DataType = child.dataType
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0 &&
          seen.merge(tc.taskAttemptId(), 1, (a: Integer, b: Integer) => a + b) >
            RowsBeforeFailure) {
        injected.incrementAndGet()
        throw new IllegalStateException("injected first-attempt write failure")
      }
      child.eval(input)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** While armed, wraps the input of every batch write (the V1 file
    * write's `WriteFiles` and the DSv2 batch write) in a projection that
    * routes its first column through [[FailFirstAttempt]] — so the
    * failure happens inside the write task, after rows reached the
    * writer. Runs in the last optimizer batch. A streaming micro-batch's
    * executed plan does not take the rewrite, so the stream scenario
    * puts the expression into its query instead. */
  private object InjectAtWrite extends Rule[LogicalPlan] {
    private val writes = Set("WriteFiles", "WriteToDataSourceV2")
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (!armed.get) plan
      else plan.transformDown {
        case w if writes(w.nodeName) && w.children.size == 1 &&
            !isInjected(w.children.head) =>
          val c = w.children.head
          val first = c.output.head
          w.withNewChildren(Seq(Project(
            Alias(FailFirstAttempt(first), first.name)(
              explicitMetadata = Some(first.metadata)) +: c.output.tail, c)))
      }
    private def isInjected(p: LogicalPlan): Boolean = p match {
      case Project(Alias(_: FailFirstAttempt, _) +: _, _) => true
      case _ => false
    }
  }

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("v", LongType, nullable = false)))

  def main(args: Array[String]): Unit = {
    val wh = Files.createTempDirectory("graft_retry_wh_").toString
    val spark = graft.SessionTuning(SparkSession.builder())
      .master("local[2,2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.lake.sql.LakeSqlExtensions")
      .config("spark.sql.catalog.retry", classOf[sql.LakeSqlCatalog].getName)
      .config("spark.sql.catalog.retry.warehouse", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.experimental.extraOptimizations = Seq(InjectAtWrite)
    spark.sparkContext.setLogLevel("ERROR")
    val cat = LakeCatalog.open(wh)
    cat.createNamespace("ns")
    var n = 0

    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi, 1, 2).select(col("id").as("k"), col("id").as("v"))

    /** A fresh table holding keys [0, 400) with v = k, written unarmed. */
    def table(props: (String, String)*): LakeTable = {
      n += 1
      val t = cat.createTable("ns", s"t$n", schema)
      props.foreach { case (k, v) => t.setProperty(k, v) }
      t.refresh().appendData(rows(0, 400), numFiles = 4)
      t.refresh()
    }

    def run(name: String, t: LakeTable, expected: Seq[(Long, Long)])(op: => Unit): Unit = {
      val msg = try {
        val before = injected.get
        armed.set(true)
        try op finally armed.set(false)
        verify(spark, t.refresh(), expected, injected.get - before)
      } catch { case e: Throwable => s"threw ${e.toString.replace('\n', ' ')}" }
      println(s"RESULT $name $msg")
    }

    val base = (0L until 400L).map(k => k -> k)

    run("append", table(), base ++ (1000L until 1200L).map(k => k -> k)) {
      cat.loadTable("ns", s"t$n").appendData(rows(1000, 1200))
    }

    run("cow_delete", table(), base.filter(_._1 >= 100)) {
      cat.loadTable("ns", s"t$n").deleteWhere(spark, LakePredicate.Lt("k", Long.box(100L)))
    }

    run("mor_update", table("write.update.mode" -> "merge-on-read"),
        base.map { case (k, v) => if (k >= 200 && k < 260) k -> (v + 1) else k -> v }) {
      cat.loadTable("ns", s"t$n").updateWhereMoR(spark,
        LakePredicate.And(LakePredicate.Ge("k", Long.box(200L)),
          LakePredicate.Lt("k", Long.box(260L))),
        Map("v" -> (col("v") + 1L)))
    }

    val mergeKeys = (300L until 340L) ++ (2000L until 2020L)
    run("mor_merge", table("write.merge.mode" -> "merge-on-read"),
        base.filter(_._1 < 300) ++ base.filter(_._1 >= 340) ++ mergeKeys.map(k => k -> -k)) {
      val src = spark.createDataFrame(
        mergeKeys.map(k => Row(k, -k)).asJava, schema).repartition(2)
      cat.loadTable("ns", s"t$n").mergeIntoMoR(spark, src, Seq("k"))
    }

    run("compact", table(), base) {
      cat.loadTable("ns", s"t$n").compact(spark, 2)
    }

    table() // the stream's source
    n += 1
    val dst = cat.createTable("ns", s"t$n", schema)
    run("stream", dst, base) {
      val ckpt = Files.createTempDirectory("graft_retry_ck_").toString
      val in = spark.readStream.option("stream-from", "beginning").table(s"retry.ns.t${n - 1}")
      // the source scan feeds the write with no exchange between them:
      // the expression runs in the write task
      in.select(column(FailFirstAttempt(expression(col("k")))).as("k"), col("v"))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"retry.ns.t$n")
        .awaitTermination()
    }
    spark.stop()
  }

  /** PASS, or what is wrong with the table after the retried op. */
  private def verify(spark: SparkSession, t: LakeTable, expected: Seq[(Long, Long)],
      failures: Int): String = {
    def read(): Seq[(Long, Long)] = t.refresh().newScan().toDF(spark)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val snap = t.metadata.currentSnapshot.get
    val live = (snap.files ++ snap.deleteFiles ++ snap.eqDeleteFiles ++ snap.dvFiles)
      .map(_.path)
    val conf = spark.sessionState.newHadoopConf()
    def missing(): Seq[String] = live.filterNot { p =>
      val h = new org.apache.hadoop.fs.Path(p)
      h.getFileSystem(conf).exists(h)
    }
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val got = read()
    val want = expected.sorted
    if (failures == 0) "no task failure was injected"
    else if (got != want)
      s"rows differ: ${got.size} read, ${want.size} expected, " +
        s"${got.diff(want).take(5)} extra, ${want.diff(got).take(5)} missing"
    else if (missing().nonEmpty) s"manifest names missing files ${missing()}"
    else {
      val removed = t.removeOrphanFiles().map(norm).toSet
      val liveRemoved = live.map(norm).filter(removed)
      if (liveRemoved.nonEmpty) s"removeOrphanFiles deleted live files $liveRemoved"
      else if (read() != want) "rows differ after removeOrphanFiles"
      else "PASS"
    }
  }
}
