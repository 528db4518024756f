package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness spans line up with the epoch-ms times Spark's events carry. */
object Clock {
  private val base = System.currentTimeMillis().toDouble
  private val n0 = System.nanoTime()
  def ms(): Double = base + (System.nanoTime() - n0) / 1e6
}

/** One operation as the harness ran it: a query of a batch pass or a
  * request of the interactive stream. `built` is when the call into the
  * program returned its DataFrame (eager work ends there); `end` is when
  * the final action returned. */
final case class OpRec(id: String, key: String, group: String, measured: Boolean,
    start: Double, built: Double, end: Double)

final case class Span(id: Int, layer: String, name: String, start: Double,
    end: Double, parent: Int, op: String)

/** What the traced run's listeners saw. Spark calls the listeners on its
  * bus thread; the harness reads this only after draining the bus. */
object Tracer {
  final class StageRec(val id: Int) {
    var submitted = Double.NaN
    var completed = Double.NaN
    var firstLaunch = Double.PositiveInfinity
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
    var inputRows = 0L
  }
  final case class JobRec(id: Int, start: Double, op: String, stages: Seq[Int]) {
    var end = Double.NaN
  }
  final case class QeRec(phases: Map[String, (Double, Double)], scans: Int)

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  var persistedBytes = 0L
  /** Time spent inside this file's listener callbacks. */
  val listenerNanos = new AtomicLong()

  private def timed[A](f: => A): A = {
    val t = System.nanoTime()
    try f finally listenerNanos.addAndGet(System.nanoTime() - t)
  }

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").filter(_.startsWith(Run.OpTagPrefix)).toSeq).getOrElse(Nil)
      jobs.synchronized {
        jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble,
          tags.headOption.map(_.stripPrefix(Run.OpTagPrefix)).getOrElse(""), e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time.toDouble) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      stages.synchronized {
        e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).submitted = t.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      stages.synchronized {
        val s = stage(e.stageInfo.stageId)
        e.stageInfo.submissionTime.foreach(t => s.submitted = t.toDouble)
        e.stageInfo.completionTime.foreach(t => s.completed = t.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      stages.synchronized {
        val s = stage(e.stageId)
        s.tasks += 1
        s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime.toDouble)
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        stages.synchronized { persistedBytes += b.memSize + b.diskSize }
    }
  }

  private val planHelper = new AdaptiveSparkPlanHelper {}

  /** Registered through `spark.sql.queryExecutionListeners`, so every
    * session the harness creates, fresh batch-pass sessions included,
    * reports its actions. */
  class Catalyst extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(record(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timed(record(qe))
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      val scans = try planHelper.collectWithSubqueries(qe.executedPlan) {
        case s: InMemoryTableScanExec => s: SparkPlan
      }.size catch { case _: Exception => 0 }
      qes.synchronized { qes += QeRec(phases, scans) }
    }
  }

  /** Layer metrics of a set of operations. */
  final case class Totals(
      var eagerS: Double = 0, var actionS: Double = 0,
      var eagerJobs: Int = 0, var jobs: Int = 0, var stages: Int = 0, var tasks: Long = 0,
      var taskS: Double = 0, var cpuS: Double = 0, var gcS: Double = 0, var schedS: Double = 0,
      var shuffleRead: Long = 0, var shuffleWrite: Long = 0, var spill: Long = 0,
      var inputBytes: Long = 0, var inputRows: Long = 0, var scans: Int = 0,
      phasesMs: mutable.Map[String, Double] = mutable.Map.empty) {
    def catalystMs: Double = phasesMs.values.sum
  }

  private def inside(t: Double, a: Double, b: Double): Boolean = t >= a && t <= b

  /** The op whose span contains `t`. Ops run one at a time, so the
    * intervals are disjoint. */
  private def opAt(ops: Seq[OpRec], t: Double): Option[OpRec] =
    ops.find(o => inside(t, o.start, o.end))

  /** Per-op layer totals, keyed by op id. */
  def perOp(ops: Seq[OpRec]): Map[String, Totals] = {
    val byId = ops.map(o => o.id -> o).toMap
    val out = ops.map(o => o.id -> Totals(eagerS = (o.built - o.start) / 1e3,
      actionS = (o.end - o.built) / 1e3)).toMap
    for (j <- jobs.values; o <- byId.get(j.op)) {
      val t = out(o.id)
      t.jobs += 1
      if (j.start <= o.built) t.eagerJobs += 1
      for (sid <- j.stages; s <- stages.get(sid) if !s.submitted.isNaN) {
        t.stages += 1
        t.tasks += s.tasks
        t.taskS += s.runMs / 1e3
        t.cpuS += s.cpuNs / 1e9
        t.gcS += s.gcMs / 1e3
        if (s.tasks > 0) t.schedS += math.max(0.0, s.firstLaunch - s.submitted) / 1e3
        t.shuffleRead += s.shuffleRead
        t.shuffleWrite += s.shuffleWrite
        t.spill += s.spill
        t.inputBytes += s.inputBytes
        t.inputRows += s.inputRows
      }
    }
    for (q <- qes if q.phases.nonEmpty; o <- opAt(ops, q.phases.values.map(_._1).min)) {
      val t = out(o.id)
      q.phases.foreach { case (k, (a, b)) => t.phasesMs(k) = t.phasesMs.getOrElse(k, 0.0) + (b - a) }
      t.scans += q.scans
    }
    out
  }

  def sum(ts: Iterable[Totals]): Totals = {
    val r = Totals()
    ts.foreach { t =>
      r.eagerS += t.eagerS; r.actionS += t.actionS
      r.eagerJobs += t.eagerJobs; r.jobs += t.jobs; r.stages += t.stages; r.tasks += t.tasks
      r.taskS += t.taskS; r.cpuS += t.cpuS; r.gcS += t.gcS; r.schedS += t.schedS
      r.shuffleRead += t.shuffleRead; r.shuffleWrite += t.shuffleWrite; r.spill += t.spill
      r.inputBytes += t.inputBytes; r.inputRows += t.inputRows; r.scans += t.scans
      t.phasesMs.foreach { case (k, v) => r.phasesMs(k) = r.phasesMs.getOrElse(k, 0.0) + v }
    }
    r
  }

  /** Jobs that carry no op tag. Every job the harness causes runs under
    * one, so this should read 0. */
  def untaggedJobs: Int = jobs.values.count(_.op.isEmpty)

  /** The span tree: op → pack / action → Catalyst phases and jobs → stages. */
  def spans(ops: Seq[OpRec]): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var next = 0
    def add(layer: String, name: String, a: Double, b: Double, parent: Int, op: String): Int = {
      next += 1
      out += Span(next, layer, name, a, b, parent, op)
      next
    }
    val packOf = mutable.Map.empty[String, Int]
    val actionOf = mutable.Map.empty[String, Int]
    val byId = ops.map(o => o.id -> o).toMap
    for (o <- ops) {
      val op = add("op", o.key, o.start, o.end, 0, o.id)
      packOf(o.id) = add("pack", o.key, o.start, o.built, op, o.id)
      actionOf(o.id) = add("action", o.key, o.built, o.end, op, o.id)
    }
    def parentIn(o: OpRec, t: Double): Int = if (t <= o.built) packOf(o.id) else actionOf(o.id)
    for (q <- qes; (k, (a, b)) <- q.phases.toSeq.sortBy(_._2._1); o <- opAt(ops, a))
      add("catalyst", k, a, b, parentIn(o, a), o.id)
    val stageParent = mutable.Map.empty[Int, Int]
    for (j <- jobs.values.toSeq.sortBy(_.id)) {
      val parent = byId.get(j.op).map(parentIn(_, j.start)).getOrElse(0)
      val end = if (j.end.isNaN) j.start else j.end
      val sid = add("job", s"job ${j.id}", j.start, end, parent, j.op)
      j.stages.foreach(s => stageParent.getOrElseUpdate(s, sid))
    }
    val jobOp = out.filter(_.layer == "job").map(s => s.id -> s.op).toMap
    for (s <- stages.values.toSeq.sortBy(_.id) if !s.submitted.isNaN; p <- stageParent.get(s.id)) {
      val end = if (s.completed.isNaN) s.submitted else s.completed
      add("stage", s"stage ${s.id}", s.submitted, end, p, jobOp(p))
    }
    out.toSeq
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var total = 0.0
        var curA = Double.NaN
        var curB = Double.NaN
        covered.foreach { case (a, b) =>
          if (curA.isNaN || a > curB) {
            if (!curA.isNaN) total += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (!curA.isNaN) total += curB - curA
        math.max(0.0, (s.end - s.start) - total) / 1e3
      }.sum
    }
  }
}
