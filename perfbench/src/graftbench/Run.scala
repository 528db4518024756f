package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.tables.Tables

/** Order-insensitive result digest: row count, a sum of per-row 64-bit
  * hashes of the canonical row text, and a hash of the column names. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  private def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x9747b28c).toLong << 32) ^ (stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    val h = rows.foldLeft(0L)((acc, r) => acc + hash64(canon(r)))
    val names = scala.util.hashing.MurmurHash3.stringHash(schema.fieldNames.mkString(","))
    f"${rows.length}:$h%016x:$names%08x"
  }
}

/** One operation of a workload: a query of a batch pass or a request of
  * the interactive stream. `key` names its pinned digest. */
final case class Op(key: String, group: String, build: SparkSession => DataFrame)

final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, pins: String, out: String, verifyDir: String)

object Run {
  val OpTagPrefix = "graftbench-op-"
  /** Every workload runs on a local[4] session, whatever the host has. */
  val Cores = 4
  /** kg_pipeline's query list: the EtlPack and GraphPack BSP loops, an
    * MLPack recommendation over DFCache frames, and the two entity
    * resolution self-joins the `ext` join rules rewrite. */
  val PipelineQueries = Seq("etl_sparql_degrees_exp", "graph_pagerank", "graph_hits",
    "ml_recommend_topk", "search_wratio_autojoin", "search_lev_autojoin")
  val Families = Seq("graph", "etl_sparql", "ml", "search")
  val RequestTypes = Seq("fuzzy", "vector", "path", "recommend")
  val RecommendQueries = Seq("ml_recommend_topk", "ml_relation_scan", "ml_constrained_recommend")

  def family(query: String): String =
    Families.filter(f => query.startsWith(f + "_")).maxBy(_.length)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(m.getOrElse("mode", "run"), m.getOrElse("workload", ""), m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      need("data"), need("pins"), need("out"), m.getOrElse("verify-dir", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = a.mode match {
      case "run" => run(a)
      case "pin" => Pins.write(a)
      case "check-verify" => Pins.checkVerify(a)
      case m => sys.error(s"unknown mode $m")
    }
    sys.exit(code)
  }

  def session(dir: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", Tables.scanSplitBytes(dir, Cores))
      .config("spark.sql.files.openCostInBytes", 64L * 1024)
      .config("spark.network.timeout", "900s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[Tracer.Catalyst].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (trace) s.sparkContext.addSparkListener(Tracer.Jobs)
    s
  }

  /** (steal, total) jiffies of all CPUs: time the hypervisor gave this
    * VM's runnable vCPUs to someone else, which /proc/loadavg cannot show. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat"), UTF_8).get(0).trim.split("\\s+").drop(1)
        .take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def loadLine(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case _: Exception => "" }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Runs ops, checks each against its pin, and keeps their records. */
  final class Runner(spark: SparkSession, pins: Map[String, String]) {
    val records = mutable.ArrayBuffer.empty[OpRec]
    var attempted = 0
    var failed = 0
    private var n = 0

    private def tagged[A](id: String)(body: => A): A = {
      val tag = OpTagPrefix + id
      spark.sparkContext.addJobTag(tag)
      try body finally spark.sparkContext.removeJobTag(tag)
    }

    /** Set-up work that is neither measured nor checked; it still gets an
      * op, so every Spark job belongs to one. */
    def setup[A](key: String)(body: => A): A = {
      n += 1
      val id = s"s$n"
      val start = Clock.ms()
      try tagged(id)(body)
      finally { val end = Clock.ms(); records += OpRec(id, key, "setup", false, start, end, end) }
    }

    def apply(s: SparkSession, op: Op, measured: Boolean): OpRec = {
      n += 1
      val id = s"${if (measured) "m" else "s"}$n"
      attempted += 1
      val start = Clock.ms()
      var built = Double.NaN
      try tagged(id) {
        val df = op.build(s)
        built = Clock.ms()
        val rows = df.collect()
        val d = Digest.of(df.schema, rows)
        if (!pins.get(op.key).contains(d)) {
          failed += 1
          System.err.println(s"[graftbench] ${op.key}: digest $d, pinned ${pins.getOrElse(op.key, "none")}")
        }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[graftbench] ${op.key} failed: $e")
      }
      val end = Clock.ms()
      val r = OpRec(id, op.key, op.group, measured, start, if (built.isNaN) end else built, end)
      records += r
      r
    }
  }

  def readPins(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path), UTF_8).asScala.filter(_.contains('\t'))
      .map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap

  def run(a: Args): Int = {
    val pins = readPins(a.pins)
    if (pins.isEmpty) { System.err.println(s"[graftbench] no pins at ${a.pins}"); return 2 }
    if (a.workload != "kg_pipeline" && a.workload != "kg_interactive") {
      System.err.println(s"[graftbench] unknown workload ${a.workload}")
      return 2
    }
    val (steal0, total0) = cpuJiffies()
    val spark = session(a.data, a.trace)
    val sc = spark.sparkContext
    val runner = new Runner(spark, pins)
    val result = if (a.workload == "kg_interactive") Interactive.run(spark, runner, a)
      else pipeline(spark, runner, a)
    val measured = runner.records.filter(_.measured).toSeq
    runner.records.foreach(r => System.err.println(
      f"[graftbench] op ${r.id}%-5s ${r.end - r.start}%9.1f ms  ${r.key}"))
    // Resident cache after the measured section, read after a GC so the
    // cleaner has dropped blocks nothing references.
    System.gc()
    Thread.sleep(500)
    val residentMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val rdds = sc.getRDDStorageInfo.length
    val setupS = (measured.head.start - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("batch_s", result.batchS, "s"),
      ("req_p50_ms", quantile(result.latMs, 0.5), "ms"),
      ("req_p90_ms", quantile(result.latMs, 0.9), "ms"),
      ("req_per_s", result.latMs.length / result.wallS, "1/s"),
      ("cache_resident_mb", residentMb, "MB"))
    val failedFrac = runner.failed.toDouble / runner.attempted
    val (steal1, total1) = cpuJiffies()
    val stealPct = 100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)
    val host = f"nproc=${Runtime.getRuntime.availableProcessors} loadavg=${loadLine()} " +
      f"steal_pct=$stealPct%.1f calibration_s=${result.calibrationS}%.3f"
    println(s"host: $host")
    println(f"samples: ops=${result.latMs.length} batches=${result.batches} " +
      f"failed_frac=$failedFrac%.4f repeat_frac=${result.repeatFrac}%.3f hub_frac=${result.hubFrac}%.3f")
    e2e.foreach { case (k, v, u) => println(f"e2e $k%-20s $v%14.4f $u") }
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e
      else Layers.report(spark, a, runner.records.toSeq, result, e2e, residentMb, rdds)
    val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    spark.stop()
    println(s"""{"correct": ${runner.failed == 0}, "attempted": ${runner.attempted}, """ +
      s""""failed": ${runner.failed}, "metrics": {${json.mkString(", ")}}}""")
    if (runner.failed == 0) 0 else 1
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  /** A run's measured section. A batch is what `batch_s` times: a pass
    * over the query list, or a block of interactive requests. */
  final case class Result(batchS: Double, latMs: Seq[Double], wallS: Double, batches: Int,
      repeatFrac: Double, hubFrac: Double, gcMs: Long, persistedBytes: Long,
      calibrationS: Double)

  /** kg_pipeline: passes over the query list, each from a fresh session
    * with the shared cache manager cleared, so no pass reads frames
    * persisted by another. The first pass runs on a cold JVM, as a batch
    * job does; further passes run while they fit in `seconds`, and
    * `batch_s` is the median pass. The queries run in the pipeline's
    * order, not a seeded one: on a cold JVM the early queries pay the JIT
    * warm-up, so a seeded order moves per-query latencies from seed to
    * seed. */
  def pipeline(spark: SparkSession, runner: Runner, a: Args): Result = {
    val ops = PipelineQueries.map(q => Op(s"q:$q", family(q), s => SparkEntry.queries(q)(s, a.data)))
    val (gc0, pb0) = Layers.snapshot(spark, a.trace)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val passTimes = mutable.ArrayBuffer.empty[Double]
    while (passTimes.isEmpty || elapsed + passTimes.min <= a.seconds) {
      spark.catalog.clearCache()
      val s = spark.newSession()
      val recs = ops.map(op => runner(s, op, measured = true))
      passTimes += (recs.last.end - recs.head.start) / 1e3
    }
    val wall = elapsed
    val lat = runner.records.filter(_.measured).map(r => r.end - r.start).toSeq
    val gc = gcMs() - gc0
    // After the passes, so that the first pass runs on a cold JVM.
    val cal = runner.setup("host:calibration")(graft.Bench.calibrationProbe(spark, reps = 1))
    Result(quantile(passTimes.toSeq, 0.5), lat, wall, passTimes.length, 0.0, 0.0, gc, pb0, cal)
  }
}
