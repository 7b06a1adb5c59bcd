package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.lake.{LakeCatalog, MetricsReport, MetricsReporter}

/** Everything an op may touch. `values` collects the current traced op's
  * per-layer figures; it is null for an untraced op. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val tracer: Tracer) {
  /** Lake API catalog over the same warehouse the SQL catalog uses; its
    * commit and scan reports land in `reports`. */
  val reports = mutable.ArrayBuffer.empty[MetricsReport]
  val lake: LakeCatalog = LakeCatalog.open(s"$work/lake",
    new MetricsReporter { def report(r: MetricsReport): Unit = reports.synchronized(reports += r) })
  var values: mutable.Map[String, Double] = null
  def tracing: Boolean = values != null
  def put(k: String, v: Double): Unit = if (values != null) values(k) = values.getOrElse(k, 0.0) + v
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One op of a closed loop. `kind` groups ops for per-kind figures;
  * `explicitPhases` marks an op that times Catalyst's phases itself. */
final case class Op(kind: String, name: String, run: () => Unit,
    explicitPhases: Boolean = false)

/** A closed loop; every op of it counts toward the end-to-end figures. */
trait Workload {
  /** Generates inputs once, before the timed set-ups. */
  def stage(): Unit = ()
  /** Builds the loop's state for set-up repetition `rep`; the loop runs
    * against the last repetition's state. */
  def setup(rep: Int): Unit
  /** Ops of one cycle. The schedule repeats with this period and the
    * loop stops only after whole cycles, so every run times the same
    * mix of ops whatever its length. */
  def cycle: Int
  /** Cycles an untraced run times; each cycle position keeps its
    * cheapest run, so the count must outlast the JIT's warm-up. */
  def timedCycles: Int = 2
  def op(i: Int): Op
  /** Runs after a traced op, outside its timing, with its values open. */
  def afterOp(i: Int): Unit = ()
  /** Failed correctness checks, after the loop. */
  def verify(): Seq[String]
  /** Figures of the final state, for the traced run. */
  def finalValues(): Map[String, Double] = Map.empty
  /** Files the python side checks (mutate and corpus). */
  def describe(): String = "{}"
}

/** One timed op; `pos` is its position in the cycle, `cpuMs` the CPU
  * time the JVM's Java threads spent while it ran (`CpuClock`). */
final case class Rec(kind: String, name: String, pos: Int, ms: Double, cpuMs: Double,
    ok: Boolean, traced: Boolean)

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cpus = a("cpus").toInt
    log("start")
    val spark = session(work, cpus)
    log("session ready")
    val tracer = new Tracer
    val ctx = new Ctx(spark, work, seed, tracer)
    val wl: Workload = workload match {
      case "lake" => new Lake(ctx)
      case "corpus" => new CorpusRun(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val probe = if (trace) SparkProbe.install(spark) else null

    val stage0 = System.nanoTime()
    wl.stage()
    val stageS = (System.nanoTime() - stage0) / 1e9
    log(f"stage: $stageS%.3f s")
    // (CPU s, wall s) of each set-up
    val setupS = (0 until SetupReps).map { r =>
      val (cpu, t0) = (new CpuClock, System.nanoTime())
      wl.setup(r)
      val s = (cpu.ns / 1e9, (System.nanoTime() - t0) / 1e9)
      log(f"setup $r: ${s._1}%.3f cpu-s, ${s._2}%.3f s")
      s
    }
    // the traced run warms one cycle: its first timed cycle is traced
    val warmOps = if (trace) wl.cycle else 0
    val warm0 = System.nanoTime()
    (0 until warmOps).foreach { i =>
      val op = wl.op(i)
      val t = System.nanoTime()
      op.run()
      log(f"warm ${op.name}: ${(System.nanoTime() - t) / 1e6}%.1f ms")
    }
    val warmS = (System.nanoTime() - warm0) / 1e9

    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = { var s = 0L; gc.forEach(b => s += math.max(0L, b.getCollectionTime)); s }
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    pools.forEach(_.resetPeakUsage())
    val gc0 = gcMs
    val recs = mutable.ArrayBuffer.empty[Rec]
    val opValues = mutable.ArrayBuffer.empty[(Rec, Map[String, Double])]
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = warmOps
    var loopNs = 0L
    // the untraced run times the workload's cycles and keeps each
    // position's cheapest run. The traced run times three, the middle one
    // untraced: the difference of the traced and untraced medians is the
    // tracing overhead, and a steady drift across the cycles cancels out
    // of it.
    val minCycles = if (trace) 3 else wl.timedCycles
    def cycles = (i - warmOps) / wl.cycle
    while (loopNs < seconds * 1e9 || (i - warmOps) % wl.cycle != 0 || cycles < minCycles) {
      val op = wl.op(i)
      val traced = trace && cycles % 2 == 0
      val counts = if (traced) new SparkCounts else null
      if (traced) {
        // jobs that building the op ran are not the op's
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        ctx.values = mutable.Map.empty
        probe.current = counts
      }
      val (cpu, s0) = (new CpuClock, System.nanoTime())
      val ok = try {
        if (traced) tracer.root(i, op.kind)(op.run()) else op.run()
        true
      } catch {
        case e: Throwable =>
          if (errors.size < 5) errors += s"${op.name}: ${e.toString.take(300)}"
          false
      }
      val ms = (System.nanoTime() - s0) / 1e6
      val rec = Rec(op.kind, op.name, i % wl.cycle, ms, cpu.ns / 1e6, ok, traced)
      log(f"op $i ${op.name}: $ms%.1f ms, ${rec.cpuMs}%.1f cpu-ms${if (ok) "" else " FAILED"}")
      recs += rec
      if (trace) {
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        if (traced) {
          probe.current = null
          attribute(i, ms, counts, ctx, op.explicitPhases)
          wl.afterOp(i)
          opValues += rec -> ctx.values.toMap
          ctx.values = null
        }
      }
      i += 1
      loopNs = System.nanoTime() - t0
    }
    val gcLoop = gcMs - gc0
    var heapPeak = 0L
    pools.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) heapPeak += p.getPeakUsage.getUsed
    }

    log("loop done")
    val failedChecks = try wl.verify() catch {
      case e: Throwable => Seq(s"verify threw ${e.toString.take(300)}")
    }
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      // the CPU the Java threads spend (CpuClock), not wall time: on a
      // shared host the hypervisor's steal swings wall time by up to 2x
      // between runs, and a stolen CPU accrues no thread time. Each cycle
      // position keeps its cheapest run over the timed cycles: the first
      // cycles run interpreted code the JIT has not compiled yet. Any
      // failed op makes both figures infinite.
      val pos = recs.groupBy(_.pos).values.map(_.map(_.cpuMs).min).toSeq
      val failed = recs.exists(!_.ok)
      metrics("cycle_cpu_s") = (if (failed) Double.PositiveInfinity else pos.sum / 1000, "s")
      metrics("op_cpu_ms_geomean") = (if (failed) Double.PositiveInfinity
        else math.exp(pos.map(math.log).sum / pos.size), "ms")
      metrics("setup_s") = (median(setupS.map(_._1)), "s")
    } else {
      LayerMetrics.compute(opValues.toSeq, recs.toSeq, tracer, wl, metrics)
      metrics("jvm.heap_peak_mb") = (heapPeak / 1048576.0, "MB")
      metrics("jvm.gc_ms") = (gcLoop.toDouble, "ms")
      tracer.writeJson(java.nio.file.Paths.get(s"$work/spans.json"), opValues.toSeq)
    }
    val info = mutable.LinkedHashMap[String, String](
      "workload" -> q(workload), "seed" -> seed.toString, "cpus" -> cpus.toString,
      "ops" -> recs.size.toString,
      "loop_s" -> (loopNs / 1e9).toString, "warm_s" -> warmS.toString,
      "stage_s" -> stageS.toString,
      "setup_reps_cpu_s" -> setupS.map(_._1).mkString("[", ",", "]"),
      "setup_reps_s" -> setupS.map(_._2).mkString("[", ",", "]"),
      "cycle_wall_s" -> (recs.groupBy(_.pos).values.map(_.map(_.ms).min).sum / 1000).toString,
      "op_kinds" -> recs.groupBy(_.kind).map { case (k, v) => s"${q(k)}:${v.size}" }
        .mkString("{", ",", "}"),
      "errors" -> errors.map(q).mkString("[", ",", "]"),
      "failed_checks" -> failedChecks.map(q).mkString("[", ",", "]"),
      "describe" -> wl.describe())
    val m = metrics.map { case (k, (v, u)) => s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }
      .mkString("{", ",", "}")
    println(s"""{"correct":${failedChecks.isEmpty},"attempted":${recs.size},""" +
      s""""failed":${recs.count(!_.ok)},"metrics":$m,""" +
      info.map { case (k, v) => s"${q(k)}:$v" }.mkString(",") + "}")
    spark.stop()
  }

  /** Folds the Spark listener's jobs and phases into the op's span tree
    * and adds the op's per-layer values to `ctx.values`. */
  private def attribute(op: Int, ms: Double, c: SparkCounts, ctx: Ctx,
      explicitPhases: Boolean): Unit = {
    val tr = ctx.tracer
    val mine = tr.spans.filter(s => s != null && s.op == op).toVector
    val root = mine.find(_.parent == -1).get
    def innermost(t: Long) = mine.filter(s => s.startNs <= t && t <= s.endNs)
      .sortBy(_.ns).headOption.getOrElse(root)
    val jobs = c.jobSpans.map { case (s, e) => (tr.fromEpochMs(s), tr.fromEpochMs(e)) }
    jobs.foreach { case (s, e) => tr.add(op, innermost(s).id, "spark.job", s, e) }
    if (!explicitPhases) c.phases.foreach { case (name, s, e) =>
      val s1 = tr.fromEpochMs(s)
      tr.add(op, innermost(s1).id, s"sql.$name", s1, tr.fromEpochMs(e))
    }
    val v = ctx.values
    val all = tr.spans.filter(s => s.op == op).toVector
    all.filter(s => s.parent != -1 && s.name != "spark.job").foreach { s =>
      v(s"${s.name}.ms") = v.getOrElse(s"${s.name}.ms", 0.0) + s.ns / 1e6
      val inside = jobs.map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
      v(s"${s.name}.job_ms") = v.getOrElse(s"${s.name}.job_ms", 0.0) + tr.union(inside.toSeq) / 1e6
    }
    val self = tr.selfNs
    all.foreach { s =>
      val layer = if (s.id == root.id) "unattributed" else LayerMetrics.layerOf(s.name)
      v(s"self.${layer}_ms") = v.getOrElse(s"self.${layer}_ms", 0.0) + self(s.id) / 1e6
    }
    val jobUnion = tr.union(jobs.toSeq) / 1e6
    v("op.ms") = ms
    v("spark.jobs_per_op") = c.jobs.toDouble
    v("spark.tasks_per_op") = c.tasks.toDouble
    v("spark.job_ms") = jobUnion
    v("spark.driver_gap_ms") = ms - jobUnion
    v("spark.exec_cpu_ms") = c.cpuNs / 1e6
    v("spark.gc_ms") = c.gcMs.toDouble
    v("spark.shuffle_bytes") = c.shuffleBytes.toDouble
    v("spark.spill_bytes") = c.spillBytes.toDouble
    v("trace.unattributed_frac") = self(root.id) / 1e6 / ms
    if (v.contains("lake.write.ms"))
      v("lake.write.harvest_ms") = v("lake.write.ms") - v("lake.write.job_ms")
    if (v.contains("lake.dml.ms")) v("lake.dml.jobs") = c.jobs.toDouble
  }

  def session(work: String, cpus: Int): SparkSession = {
    val spark = graft.SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.lake.sql.LakeSqlExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.lake", "graft.lake.sql.LakeSqlCatalog")
      .config("spark.sql.catalog.lake.warehouse", s"$work/lake")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val start = System.nanoTime()
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU time of each live Java thread, by thread id (ids are never reused). */
  private def threadCpu: Map[Long, Long] = threads.getAllThreadIds.iterator
    .map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** CPU time the JVM's Java threads spend from its creation on: the
    * client thread, Spark's task threads and its services. The JIT
    * compiler and GC threads are not Java threads and stay out; the JIT
    * still spends more CPU than the work itself after four corpus
    * cycles, and its share swings from run to run far more than the
    * work does. A thread that ends before `ns` is read loses its time. */
  final class CpuClock {
    private val t0 = threadCpu
    def ns: Long = threadCpu.iterator.map { case (id, c) => c - t0.getOrElse(id, 0L) }.sum
  }
  /** Progress on stderr, which the runner keeps as the run's log. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - start) / 1e9}%7.2f] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON has no infinity: a figure a failed op makes infinite is
    * written as 1e12, far above any time a run can measure. */
  def num(v: Double): String =
    if (v.isNaN) "0" else if (v.isInfinite) "1e12" else v.toString
}
