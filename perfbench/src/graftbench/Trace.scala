package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it
  * (-1 for an op's root span); spans of one op share `op`. Times are
  * nanoseconds on the tracer's clock. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. Spans are kept
  * until the run ends and are then written out as one file. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1
  /** Offset that maps epoch milliseconds (Spark event times) onto the
    * nanoTime clock the spans use. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def active: Boolean = op >= 0

  /** Runs `body` as the root span of op `opId`. */
  def root[T](opId: Int, name: String)(body: => T): T = {
    op = opId
    try span(name)(body) finally op = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.size
      spans += null // reserve the id so children can name their parent
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Records a span measured elsewhere (a Spark job, a planning phase,
    * a report's duration) under `parent` of op `opId`. */
  def add(opId: Int, parent: Int, name: String, startNs: Long, endNs: Long): Unit =
    spans += Span(spans.size, parent, opId, name, startNs, math.max(startNs, endNs))

  /** Self time of every span: its duration minus the union of its
    * children's intervals clipped to it. */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).toSeq.map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> math.max(0L, s.ns - covered)
    }.toMap
  }

  /** Writes every span and each traced op's values as one JSON object. */
  def writeJson(path: java.nio.file.Path, ops: Seq[(Rec, Map[String, Double])]): Unit = {
    val sb = new StringBuilder("{\"spans\":[\n")
    sb.append(spans.map(s => s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString(",\n"))
    sb.append("\n],\"ops\":[\n")
    sb.append(ops.map { case (r, v) =>
      s"""{"name":${Main.q(r.name)},"kind":${Main.q(r.kind)},"ms":${r.ms},"ok":${r.ok},""" +
        v.toSeq.sorted.map { case (k, x) => s"${Main.q(k)}:${Main.num(x)}" }.mkString(",") + "}"
    }.mkString(",\n"))
    sb.append("\n]}\n")
    java.nio.file.Files.writeString(path, sb.toString)
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counters for one op. */
final class SparkCounts {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** (start ms, end ms) of each finished job, epoch time. */
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  /** Catalyst phase name -> (start ms, end ms), one entry per action. */
  val phases = ArrayBuffer.empty[(String, Long, Long)]
}

/** Listener that attributes Spark jobs, tasks and query-planning phases
  * to the op that is current while their events arrive. The caller
  * drains the listener bus after every op, so no event of one op
  * arrives while the next is current. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  @volatile var current: SparkCounts = null
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (current != null) jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val c = current
    val t0 = jobStart.remove(e.jobId)
    if (c != null && t0 != null) c.synchronized {
      c.jobs += 1
      c.jobSpans += ((t0.longValue, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = current
    val m = e.taskMetrics
    if (c != null && m != null) c.synchronized {
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val c = current
    if (c != null) c.synchronized {
      qe.tracker.phases.foreach { case (name, p) => c.phases += ((name, p.startTimeMs, p.endTimeMs)) }
    }
  }
}

object SparkProbe {
  def install(spark: SparkSession): SparkProbe = {
    val p = new SparkProbe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
