package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.SparkSession

/** The traced run's per-layer metrics, span file and self-time table. */
object Layers {
  val Groups: Seq[String] = Run.Families ++ Run.RequestTypes
  val SpanLayers = Seq("op", "pack", "action", "catalyst", "job", "stage")

  /** GC time and persisted bytes at the start of the measured section. */
  def snapshot(spark: SparkSession, trace: Boolean): (Long, Long) = {
    if (trace) GraftBenchBus.drain(spark.sparkContext)
    (Run.gcMs(), Tracer.persistedBytes)
  }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  def report(spark: SparkSession, a: Args, records: Seq[OpRec], result: Run.Result,
      e2e: Seq[(String, Double, String)], residentMb: Double, rdds: Int): Seq[(String, Double, String)] = {
    GraftBenchBus.drain(spark.sparkContext)
    val per = Tracer.perOp(records)
    val measured = records.filter(_.measured)
    val t = Tracer.sum(measured.map(r => per(r.id)))
    val opWall = measured.map(r => r.end - r.start).sum / 1e3
    def medianMs(g: String): Double = {
      val xs = measured.filter(_.group == g).map(r => r.end - r.start)
      if (xs.isEmpty) 0.0 else Run.quantile(xs, 0.5)
    }
    def jobsPer(g: String): Double = {
      val xs = measured.filter(_.group == g)
      if (xs.isEmpty) 0.0 else xs.map(r => per(r.id).jobs).sum.toDouble / xs.length
    }
    val base = Seq(
      ("pack.eager_s", t.eagerS, "s"),
      ("pack.eager_jobs", t.eagerJobs.toDouble, "count"),
      ("action.s", t.actionS, "s"),
      ("catalyst.analysis_ms", t.phasesMs.getOrElse("analysis", 0.0), "ms"),
      ("catalyst.optimization_ms", t.phasesMs.getOrElse("optimization", 0.0), "ms"),
      ("catalyst.planning_ms", t.phasesMs.getOrElse("planning", 0.0), "ms"),
      ("exec.jobs", t.jobs.toDouble, "count"),
      ("exec.stages", t.stages.toDouble, "count"),
      ("exec.tasks", t.tasks.toDouble, "count"),
      ("exec.task_s", t.taskS, "s"),
      ("exec.cpu_s", t.cpuS, "s"),
      ("exec.core_util", if (opWall > 0) t.taskS / (opWall * Run.Cores) else 0.0, "ratio"),
      ("exec.sched_delay_s", t.schedS, "s"),
      ("exec.shuffle_read_mb", mb(t.shuffleRead), "MB"),
      ("exec.shuffle_write_mb", mb(t.shuffleWrite), "MB"),
      ("exec.spill_mb", mb(t.spill), "MB"),
      ("exec.gc_s", t.gcS, "s"),
      ("exec.untagged_jobs", Tracer.untaggedJobs.toDouble, "count"),
      ("jvm.gc_s", result.gcMs / 1e3, "s"),
      ("tables.input_mb", mb(t.inputBytes), "MB"),
      ("tables.input_rows", t.inputRows.toDouble, "count"),
      ("cache.persisted_mb", mb(Tracer.persistedBytes - result.persistedBytes), "MB"),
      ("cache.rdds", rdds.toDouble, "count"),
      ("cache.scans", t.scans.toDouble, "count"))
    val req = Run.RequestTypes.flatMap(g =>
      Seq((s"req.${g}_ms", medianMs(g), "ms"), (s"req.${g}_jobs", jobsPer(g), "count")))
    val groups = Groups.flatMap { g =>
      val gt = Tracer.sum(measured.filter(_.group == g).map(r => per(r.id)))
      Seq((s"by.$g.eager_s", gt.eagerS, "s"), (s"by.$g.action_s", gt.actionS, "s"),
        (s"by.$g.jobs", gt.jobs.toDouble, "count"), (s"by.$g.task_s", gt.taskS, "s"),
        (s"by.$g.catalyst_ms", gt.catalystMs, "ms"), (s"by.$g.sched_delay_s", gt.schedS, "s"))
    }
    val spans = Tracer.spans(records)
    writeSpans(a, spans)
    val measuredIds = measured.map(_.id).toSet
    val self = Tracer.selfSeconds(spans.filter(s => measuredIds(s.op)))
    println("self time of the measured section, by layer:")
    SpanLayers.foreach(l => println(f"  $l%-9s ${self.getOrElse(l, 0.0)}%10.3f s"))
    val selfMetrics = SpanLayers.map(l => (s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
    val traced = e2e.map { case (k, v, u) => (s"trace.$k", v, u) } :+
      (("trace.listener_ms", Tracer.listenerNanos.get / 1e6, "ms"))
    base ++ req ++ selfMetrics ++ groups ++ traced
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** One JSON object per span, every Spark job under the op that caused it. */
  def writeSpans(a: Args, spans: Seq[Span]): Unit = {
    val dir = Paths.get(a.out)
    Files.createDirectories(dir)
    val file = dir.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl")
    val lines = spans.map(s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", "name": "${esc(s.name)}", """ +
        f""""op": "${s.op}", "start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f}""")
    Files.write(file, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    println(s"spans: ${spans.length} written to $file")
  }
}
