package graft.tools

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.ListenerBridge
import graft.{Bench, SessionTuning, SparkEntry}

/** Dev probe for named corpus queries on the harness session
  * (`SessionTuning.local`). Each rep times a query with the action Bench
  * times (`Bench.timed`: build, count, drop the query caches) and prints
  * one `PROBE` line with the rep's seconds, Spark jobs and stages.
  *
  *   - `--explain` prints the formatted physical plan, once per query
  *     before its reps.
  *   - `--jobs` prints every job of a rep: start, wall time, stage count,
  *     call site and the DRIVER GAP since the previous job ended — the
  *     cost a scenario of many small sequential actions hides between
  *     jobs (planning, commit IO), which no stage view shows.
  *   - `--stages` prints the rep's stages by executor run time: tasks,
  *     run, CPU, GC, shuffle, spill and input. A high run−CPU gap with
  *     spill is disk bound, high GC is memory churn, wall ≫ Σrun/cores is
  *     driver or scheduler bound (many tiny stages), none of these is
  *     genuinely CPU.
  *
  * Unlike Bench, the probe does not prepare the corpus's ingest
  * artifacts (bucketed tables, ANN index) first: a query that reads one
  * builds it inside its first rep.
  *
  * Usage: runMain graft.tools.Probe <q1,q2,…> [--sf DIR] [--reps N]
  *          [--explain] [--jobs] [--stages]
  * `--sf` defaults to `SPARK_GRAFT_SF_DIR`, `--reps` to 1.
  */
object Probe {
  private val usage = "usage: graft.tools.Probe <q1,q2,…> [--sf DIR] [--reps N] " +
    "[--explain] [--jobs] [--stages]"

  private final case class Job(id: Int, t0: Long, site: String, stages: Int) {
    var t1 = 0L
  }
  private final case class Stage(id: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long, shufReadMb: Double,
      shufWriteMb: Double, spillMb: Double, inputMb: Double)

  /** The jobs and stages of one rep. Written on the listener thread;
    * read only after [[ListenerBridge.drain]]. */
  private final class Recorder extends SparkListener {
    val jobs = ArrayBuffer.empty[Job]
    val stages = ArrayBuffer.empty[Stage]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties).flatMap(p =>
          Option(p.getProperty("callSite.short"))
            .orElse(Option(p.getProperty("spark.job.description"))))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
        .getOrElse("?")
      jobs += Job(e.jobId, System.nanoTime(), site, e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.find(_.id == e.jobId).foreach(_.t1 = System.nanoTime())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages += Stage(i.stageId, i.name.takeWhile(_ != '\n'), i.numTasks,
        m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
        m.inputMetrics.bytesRead / 1e6)
    }
  }

  def main(args: Array[String]): Unit = {
    val known = Set("--sf", "--reps", "--explain", "--jobs", "--stages")
    args.drop(1).filter(_.startsWith("--")).find(!known(_))
      .foreach(f => sys.error(s"unknown flag $f; $usage"))
    def value(flag: String): Option[String] =
      args.indexOf(flag) match { case -1 => None; case i => args.lift(i + 1) }
    val names = args.headOption.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val sfDir = value("--sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(s"no --sf and no SPARK_GRAFT_SF_DIR; $usage"))
    val reps = value("--reps").fold(1)(_.toInt)
    val explain = args.contains("--explain")
    val jobs = args.contains("--jobs")
    val stages = args.contains("--stages")
    require(names.nonEmpty, usage)
    val cpus = SessionTuning.cpus
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect() // warmup
    val sc = spark.sparkContext
    names.foreach { name =>
      if (explain) {
        println(s"========== $name ==========")
        try println(SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(FormattedMode))
        finally graft.queries.QueryCaches.clear() // query-builder persists
      }
      for (rep <- 1 to reps) {
        val rec = new Recorder
        sc.addSparkListener(rec)
        val t0 = System.nanoTime()
        val result = Bench.timed(spark, sfDir, name)
        val t2 = System.nanoTime()
        ListenerBridge.drain(sc)
        sc.removeSparkListener(rec)
        val outcome = result.fold(e => s"FAILED ${e.getMessage}", s => f"sec=$s%.3f")
        println(s"PROBE $name rep=$rep $outcome jobs=${rec.jobs.size} stages=${rec.stages.size}")
        if (jobs) printJobs(rec.jobs.toVector, t0, t2)
        if (stages) printStages(rec.stages.toVector, (t2 - t0) / 1e9, cpus)
      }
    }
    spark.stop()
  }

  private def printJobs(jobs: Vector[Job], t0: Long, t2: Long): Unit = {
    println(f"${"job"}%5s ${"start_s"}%8s ${"dur_s"}%7s ${"gap_s"}%7s ${"stg"}%4s  site")
    var lastEnd = t0
    var gapTotal = 0.0
    var runTotal = 0.0
    jobs.sortBy(_.t0).foreach { j =>
      val gap = math.max(0.0, (j.t0 - lastEnd) / 1e9)
      val dur = if (j.t1 == 0) -1.0 else (j.t1 - j.t0) / 1e9
      gapTotal += gap; if (dur > 0) runTotal += dur
      println(f"${j.id}%5d ${(j.t0 - t0) / 1e9}%8.2f $dur%7.2f $gap%7.2f ${j.stages}%4d  ${j.site.take(55)}")
      if (j.t1 > lastEnd) lastEnd = j.t1
    }
    println(f"JOBS jobs=${jobs.size} job_run=$runTotal%.2f s gaps=$gapTotal%.2f s " +
      f"tail=${(t2 - lastEnd) / 1e9}%.2f s wall=${(t2 - t0) / 1e9}%.2f s")
  }

  private def printStages(stages: Vector[Stage], wall: Double, cpus: Int): Unit = {
    println(f"${"stage"}%6s ${"tasks"}%6s ${"run_s"}%8s ${"cpu_s"}%8s " +
      f"${"gc_s"}%7s ${"sh_rd_MB"}%9s ${"sh_wr_MB"}%9s ${"spill_MB"}%9s " +
      f"${"in_MB"}%8s  name")
    stages.sortBy(-_.runMs).take(25).foreach { r =>
      println(f"${r.id}%6d ${r.tasks}%6d ${r.runMs / 1e3}%8.2f " +
        f"${r.cpuMs / 1e3}%8.2f ${r.gcMs / 1e3}%7.2f ${r.shufReadMb}%9.1f " +
        f"${r.shufWriteMb}%9.1f ${r.spillMb}%9.1f ${r.inputMb}%8.1f  " +
        r.name.take(60))
    }
    val totRun = stages.map(_.runMs).sum / 1e3
    println(f"STAGES stages=${stages.size} run=$totRun%.1f s " +
      f"cpu=${stages.map(_.cpuMs).sum / 1e3}%.1f s gc=${stages.map(_.gcMs).sum / 1e3}%.1f s " +
      f"spill=${stages.map(_.spillMb).sum}%.0f MB wall_x_cores=${wall * cpus}%.0f core-s " +
      f"sched_gap=${wall - totRun / cpus}%.2f s")
  }
}
