package graftbench

import scala.collection.mutable

/** The per-layer metrics of the traced run, folded from each traced
  * op's values. A layer that an op does not reach contributes nothing,
  * and a metric no op reached reads 0: that absence is the expected
  * reading for an idle layer. */
object LayerMetrics {
  def layerOf(span: String): String =
    if (span.startsWith("lake.maint")) "lake.maint"
    else if (span.startsWith("sql.")) "sql"
    else if (span == "spark.job") "spark"
    else span

  val Layers = Seq("unattributed", "lake.catalog", "lake.write", "lake.commit", "lake.scan", "lake.dml",
    "lake.maint", "sql", "spark")

  private sealed trait Agg
  /** Median over the ops that carry `key`. */
  private final case class Med(key: String) extends Agg
  /** Mean over the ops that carry `key`. */
  private final case class Mean(key: String) extends Agg
  /** Sum of `num` over sum of `den`, over all traced ops. */
  private final case class Ratio(num: String, den: String) extends Agg

  private val defs: Seq[(String, String, Agg)] = Seq(
    ("lake.write.ms", "ms", Med("lake.write.ms")),
    ("lake.write.job_ms", "ms", Med("lake.write.job_ms")),
    ("lake.write.harvest_ms", "ms", Med("lake.write.harvest_ms")),
    ("lake.write.files", "count", Mean("lake.write.files")),
    ("lake.write.bytes_per_row", "B", Ratio("lake.write.bytes", "lake.write.rows")),
    ("lake.commit.ms", "ms", Med("lake.commit.ms")),
    ("lake.commit.report_ms", "ms", Med("lake.commit.report_ms")),
    ("lake.commit.attempts_per_commit", "count", Ratio("lake.commit.attempts", "lake.commit.count")),
    ("lake.commit.metadata_bytes", "B", Med("lake.commit.metadata_bytes")),
    ("lake.scan.plans_per_query", "count", Mean("lake.scan.plans")),
    ("lake.scan.plan_ms", "ms", Med("lake.scan.plan_ms")),
    ("lake.scan.files_per_query", "count", Mean("lake.scan.files")),
    ("lake.scan.manifests_skipped_frac", "ratio",
      Ratio("lake.scan.manifests_skipped", "lake.scan.manifests")),
    ("lake.scan.delete_files_per_query", "count", Mean("lake.scan.delete_files")),
    ("sql.analysis_ms", "ms", Med("sql.analysis.ms")),
    ("sql.optimization_ms", "ms", Med("sql.optimization.ms")),
    ("sql.planning_ms", "ms", Med("sql.planning.ms")),
    ("sql.exec_ms", "ms", Med("sql.exec.ms")),
    ("lake.dml.ms", "ms", Med("lake.dml.ms")),
    ("lake.dml.files_rewritten_per_stmt", "count", Mean("lake.dml.files_removed")),
    ("lake.dml.bytes_written_per_row_changed", "B",
      Ratio("lake.dml.bytes_added", "lake.dml.rows_changed")),
    ("lake.dml.delete_files_added_per_stmt", "count", Mean("lake.dml.delete_files_added")),
    ("lake.dml.jobs_per_stmt", "count", Mean("lake.dml.jobs")),
    ("lake.maint.compact_ms", "ms", Med("lake.maint.compact.ms")),
    ("lake.maint.expire_ms", "ms", Med("lake.maint.expire.ms")),
    ("lake.maint.orphans_ms", "ms", Med("lake.maint.orphans.ms")),
    ("lake.maint.bytes_rewritten", "B", Mean("lake.maint.bytes_rewritten")),
    ("lake.maint.delete_files_retired", "count", Mean("lake.maint.delete_files_retired")),
    ("lake.maint.orphans_removed", "count", Mean("lake.maint.orphans_removed")),
    ("spark.jobs_per_op", "count", Mean("spark.jobs_per_op")),
    ("spark.tasks_per_op", "count", Mean("spark.tasks_per_op")),
    ("spark.job_ms", "ms", Med("spark.job_ms")),
    ("spark.driver_gap_ms", "ms", Med("spark.driver_gap_ms")),
    ("spark.exec_cpu_ms", "ms", Med("spark.exec_cpu_ms")),
    ("spark.gc_ms", "ms", Mean("spark.gc_ms")),
    ("spark.shuffle_bytes", "B", Mean("spark.shuffle_bytes")),
    ("spark.spill_bytes", "B", Mean("spark.spill_bytes")),
    ("trace.unattributed_frac", "ratio", Med("trace.unattributed_frac"))) ++
    Layers.map(l => (s"self.${l}_ms", "ms", Med(s"self.${l}_ms")))

  def compute(ops: Seq[(Rec, Map[String, Double])], recs: Seq[Rec], tracer: Tracer,
      wl: Workload, out: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val vals = ops.map(_._2)
    def med(k: String) = Main.median(vals.flatMap(_.get(k)))
    defs.foreach { case (name, unit, agg) =>
      val v = agg match {
        case Med(k) => med(k)
        case Mean(k) =>
          val xs = vals.flatMap(_.get(k))
          if (xs.isEmpty) 0.0 else xs.sum / xs.size
        case Ratio(n, d) =>
          val den = vals.flatMap(_.get(d)).sum
          if (den == 0) 0.0 else vals.flatMap(_.get(n)).sum / den
      }
      out(name) = (v, unit)
    }
    val prim = ops
    out("trace.ops_over_10pct_frac") = (if (prim.isEmpty) 0.0
      else prim.count(_._2.getOrElse("trace.unattributed_frac", 0.0) > 0.10).toDouble / prim.size,
      "ratio")
    // per op name, so that traced and untraced ops of the same shape meet
    val p = recs.filter(_.ok).groupBy(_.name).values
      .filter(g => g.exists(_.traced) && g.exists(!_.traced))
    out("trace.overhead_ms") = (Main.median(p.map(g => Main.median(g.filter(_.traced).map(_.ms)) -
      Main.median(g.filter(!_.traced).map(_.ms))).toSeq), "ms")
    // per-kind latencies of the untraced ops
    Seq("query", "write", "reread", "maint").foreach { k =>
      out(s"op.${k}_ms_p50") =
        (Main.median(recs.filter(r => r.kind == k && r.ok && !r.traced).map(_.ms)), "ms")
    }
    CorpusRun.Queries.foreach { q =>
      out(s"corpus.${q}_s") =
        (Main.median(recs.filter(r => r.name == q && r.ok && !r.traced).map(_.ms)) / 1000, "s")
    }
    out("lake.space_amp") = (0.0, "ratio")
    wl.finalValues().foreach { case (k, v) => out(k) = (v, out(k)._2) }
  }
}
