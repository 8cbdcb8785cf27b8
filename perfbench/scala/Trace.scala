package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer, recorded by the benchmark around a graft
  * call (nothing inside graft is instrumented). `op` is the op sequence
  * number the span belongs to; the op's own root span has `parent == -1`. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the single client thread. Disabled, [[span]] is a
  * plain call. Spans stay in memory until the run ends. */
final class Tracer {
  @volatile var on = false
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0
  private var curOp = -1
  // epoch milliseconds of a nanoTime reading, to align with listener times
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      stack = (id, name, System.nanoTime()) :: stack
      try f
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        spans += Span(id, parent, curOp, name, t0, System.nanoTime())
      }
    }

  def op[T](seq: Int, name: String)(f: => T): T = {
    curOp = seq
    try span(s"op:$name")(f) finally curOp = -1
  }
}

/** Listener records, kept raw and attributed to spans by time after the
  * listener bus drains. There is one client thread, so the innermost span
  * open at a job's, stage's or task's start time is the one that caused
  * it. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long)
final case class StageRec(id: Int, submitMs: Long)
final case class TaskRec(stage: Int, attempt: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         cpuNs: Long, shWrite: Long, shRead: Long, spill: Long, recordsIn: Long)

final class Collector extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val r = JobRec(e.jobId, e.time, -1L)
    open.put(e.jobId, r)
    jobs.add(r)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.add(StageRec(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(-1L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead))
  }

  def clear(): Unit = { jobs.clear(); stages.clear(); tasks.clear() }
}

/** Per-op layer metrics from the spans of one traced op and the listener
  * records inside its interval. */
object Attribution {
  /** Spans around graft calls that return a lazy frame or an index. */
  private val constructing = Set("sql", "cqc", "wcoj", "topk", "datapipe.build",
    "datapipe.flag", "datapipe.serve", "datapipe.cluster", "sources.index_read")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Total length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def forOp(t: Tracer, root: Span, opSpans: Seq[Span], c: Collector, outRows: Long): Map[String, Double] = {
    val lo = t.epochMs(root.startNs)
    val hi = t.epochMs(root.endNs)
    // ms-granular listener clocks: allow the boundary millisecond
    def inOp(ms: Long): Boolean = ms >= math.floor(lo) && ms <= math.ceil(hi)
    val children = opSpans.filter(_.id != root.id)
    def innermost(ms: Long): Option[Span] =
      children.filter(s => ms >= math.floor(t.epochMs(s.startNs)) && ms <= math.ceil(t.epochMs(s.endNs)))
        .sortBy(s => -(s.startNs)).headOption
    val jobs = c.jobs.asScala.filter(j => inOp(j.startMs)).toSeq
    val stages = c.stages.asScala.filter(s => s.submitMs >= 0 && inOp(s.submitMs)).toSeq
    val tasks = c.tasks.asScala.filter(k => inOp(k.launchMs)).toSeq
    val opMs = root.durMs
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    m("op_ms") = opMs
    // self time per layer: span duration minus the part its children cover
    for (s <- children) {
      val kids = children.filter(_.parent == s.id)
        .map(k => (t.epochMs(k.startNs), t.epochMs(k.endNs)))
      val self = s.durMs - covered(kids, t.epochMs(s.startNs), t.epochMs(s.endNs))
      m(s"self.${s.name}") = m.getOrElse(s"self.${s.name}", 0.0) + self
      m(s"dur.${s.name}") = m.getOrElse(s"dur.${s.name}", 0.0) + s.durMs
    }
    val kidsOfRoot = children.filter(_.parent == root.id).map(k => (t.epochMs(k.startNs), t.epochMs(k.endNs)))
    m("self.op") = opMs - covered(kidsOfRoot, lo, hi)
    m("jobs") = jobs.size.toDouble
    m("stages") = stages.size.toDouble
    m("tasks") = tasks.size.toDouble
    // eager construction: jobs started inside the graft call that returns
    // the frame, before the consuming action
    m("construct_jobs") = jobs.count(j => innermost(j.startMs).exists(s => constructing(s.name))).toDouble
    m("cluster_jobs") = jobs.count(j => innermost(j.startMs).exists(_.name == "datapipe.cluster")).toDouble
    val jobIv = jobs.map(j => (j.startMs.toDouble, (if (j.endMs >= 0) j.endMs else hi.toLong).toDouble))
    m("gap_ms") = opMs - covered(jobIv, lo, hi)
    m("exec_busy_ms") = covered(tasks.map(k => (k.launchMs.toDouble, k.finishMs.toDouble)), lo, hi)
    m("run_ms") = tasks.map(_.runMs.toDouble).sum
    m("cpu_ms") = tasks.map(_.cpuNs / 1e6).sum
    m("shuffle_write_bytes") = tasks.map(_.shWrite.toDouble).sum
    m("shuffle_read_bytes") = tasks.map(_.shRead.toDouble).sum
    m("spill_bytes") = tasks.map(_.spill.toDouble).sum
    val perStage = tasks.groupBy(k => (k.stage, k.attempt)).values.filter(_.size >= 2)
    m("skew") = if (perStage.isEmpty) 1.0 else perStage.map { ks =>
      val med = median(ks.map(_.runMs.toDouble))
      ks.map(_.runMs).max / math.max(med, 1.0)
    }.max
    val recordsIn = tasks.map(_.recordsIn.toDouble).sum
    m("records_in") = recordsIn
    if (outRows > 0) m("records_in_per_row_out") = recordsIn / outRows
    m.toMap
  }
}
