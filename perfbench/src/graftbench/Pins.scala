package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Pinning the expected digests. Not part of a measured run: `pin`
  * writes the pins file from the current program, and checks each
  * shortest-path answer against the GraphX reference on the way;
  * `check-verify` compares the pinned batch digests with the output of
  * `graft.Verify`, whose results `tools/check_oracle.py` checks against
  * DuckDB. */
object Pins {
  def batchNames: Seq[String] =
    (Run.PipelineQueries ++ Run.RecommendQueries).distinct.sorted

  def write(a: Args): Int = {
    val spark = Run.session(a.data, trace = false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (q <- batchNames) {
      spark.catalog.clearCache()
      val s = spark.newSession()
      val df = graft.SparkEntry.queries(q)(s, a.data)
      out += (s"q:$q" -> Digest.of(df.schema, df.collect()))
      System.err.println(s"[pin] q:$q ${out.last._2}")
    }
    spark.catalog.clearCache()
    val st = Interactive.setup(spark, a.data)
    val graph = graft.graph.GraphAlgs.fromEdgeDF(st.edges).cache()
    var mismatches = 0
    for (op <- Interactive.allOps(st, a.data) if !out.exists(_._1 == op.key)) {
      val df = op.build(spark)
      val rows = df.collect()
      out += (op.key -> Digest.of(df.schema, rows))
      if (op.group == "path") {
        val src = op.key.stripPrefix("path:").toLong
        val want = graft.graph.GraphAlgs.sssp(graph, src, Interactive.PathRounds)
          .filter(_._2 < Double.PositiveInfinity).collect().toMap
        val got = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        if (got != want) {
          mismatches += 1
          System.err.println(s"[pin] ${op.key}: ${got.size} reached, GraphX reached ${want.size}, " +
            s"${got.count { case (k, v) => !want.get(k).contains(v) }} differ")
        }
      }
    }
    spark.stop()
    val text = out.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
    Files.write(Paths.get(a.pins), text.getBytes(UTF_8))
    System.err.println(s"[pin] ${out.length} pins written to ${a.pins}; " +
      s"$mismatches path answers differ from GraphX")
    if (mismatches == 0) 0 else 1
  }

  def checkVerify(a: Args): Int = {
    val pins = Run.readPins(a.pins)
    val spark = SparkSession.builder().master(s"local[${Run.Cores}]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    var bad = 0
    for (q <- batchNames) {
      val df = spark.read.parquet(s"${a.verifyDir}/$q")
      val d = Digest.of(df.schema, df.collect())
      val ok = pins.get(s"q:$q").contains(d)
      if (!ok) bad += 1
      println(s"${if (ok) "ok  " else "DIFF"} $q $d")
    }
    spark.stop()
    if (bad == 0) 0 else 1
  }
}
