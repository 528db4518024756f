package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.api.Graft
import graft.tables.Tables

/** kg_interactive: one closed-loop client, no think time, on a warm
  * session. Requests come from fixed pools (so every answer has a pinned
  * digest); the workload seed picks the pool entries and their order. */
object Interactive {
  /** Fixes the pools, not the stream: the stream comes from --seed. */
  val PoolSeed = 20201
  val FuzzyPool = 200
  val VectorPool = 200
  val PathPool = 30 // per side: hub decile and the rest
  val PathRounds = 6
  val TopK = 10
  val MinScore = 50.0
  /** Measured blocks a run sends at least. */
  val MinBlocks = 2
  /** Fuzzy and vector lookups each sent before the measured section. */
  val WarmLookups = 6
  /** Supplier ids are shifted past every customer id so the bipartite
    * customer–supplier graph has one id space. */
  val SupplierOffset = 1L << 40

  final class State(val customers: DataFrame, val embeddings: DataFrame, val edges: DataFrame,
      val fuzzy: IndexedSeq[String], val vectors: IndexedSeq[Long],
      val hubs: IndexedSeq[Long], val others: IndexedSeq[Long])

  /** Weighted symmetric customer–supplier edges: one edge per pair that
    * shares a lineitem, w = 1 + the pair's smallest discount. */
  def weightedEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("c"), (col("l_suppkey") + SupplierOffset).as("p"))
      .agg((lit(1.0) + min(col("l_discount"))).as("w"))
    pairs.select(col("c").as("src"), col("p").as("dst"), col("w"))
      .union(pairs.select(col("p").as("src"), col("c").as("dst"), col("w")))
  }

  /** One seeded edit: substitute, insert or delete one character. */
  def edit(name: String, r: Random): String = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    val c = alphabet(r.nextInt(alphabet.length))
    r.nextInt(3) match {
      case 0 => val i = r.nextInt(name.length); name.updated(i, c)
      case 1 => val i = r.nextInt(name.length + 1); name.take(i) + c + name.drop(i)
      case _ => val i = r.nextInt(name.length); name.take(i) + name.drop(i + 1)
    }
  }

  /** Persists the working set and draws the request pools. */
  def setup(s: SparkSession, dir: String): State = {
    val customers = Tables.customer(s, dir).select("c_custkey", "c_name").persist()
    val embeddings = Tables.embeddings(s, dir).select("vec_id", "embedding").persist()
    val edges = weightedEdges(s, dir).persist()
    val r = new Random(PoolSeed)
    val names = customers.orderBy("c_custkey").collect().map(_.getString(1))
    val fuzzy = IndexedSeq.fill(FuzzyPool)(edit(names(r.nextInt(names.length)), r))
    val ids = embeddings.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0)).toIndexedSeq
    val vectors = r.shuffle(ids).take(VectorPool)
    val byDegree = edges.groupBy("src").count().collect()
      .map(row => (row.getLong(0), row.getLong(1))).sortBy { case (v, d) => (-d, v) }.map(_._1)
    val decile = math.max(1, byDegree.length / 10)
    val hubs = r.shuffle(byDegree.take(decile).toIndexedSeq).take(PathPool)
    val others = r.shuffle(byDegree.drop(decile).toIndexedSeq).take(PathPool)
    new State(customers, embeddings, edges, fuzzy, vectors, hubs, others)
  }

  def fuzzyOp(st: State, q: String): Op = Op(s"fuzzy:$q", "fuzzy", _ =>
    Graft.search.fuzzyTopK(st.customers, "c_custkey", "c_name", q, MinScore, TopK))
  def vectorOp(st: State, id: Long): Op = Op(s"vector:$id", "vector", _ =>
    Graft.similarity.bruteForceTopK(st.embeddings, "vec_id", "embedding", id, TopK))
  def pathOp(st: State, src: Long): Op = Op(s"path:$src", "path", _ =>
    Graft.graph.shortestPaths(st.edges, src, PathRounds).filter(col("dist").isNotNull))
  def recommendOp(dir: String, q: String): Op =
    Op(s"q:$q", "recommend", s => SparkEntry.queries(q)(s, dir))

  /** Every request the pools can produce, for pinning. */
  def allOps(st: State, dir: String): Seq[Op] =
    st.fuzzy.distinct.map(fuzzyOp(st, _)) ++ st.vectors.map(vectorOp(st, _)) ++
      (st.hubs ++ st.others).map(pathOp(st, _)) ++ Run.RecommendQueries.map(recommendOp(dir, _))

  /** Deals a pool in seeded order without repeats, and deals it again
    * when it runs out. */
  final class Deck[A](pool: IndexedSeq[A], r: Random) {
    private var left = List.empty[A]
    def next(): A = {
      if (left.isEmpty) left = r.shuffle(pool).toList
      val a = left.head
      left = left.tail
      a
    }
  }

  /** Block `i` of the stream: 20 requests in seeded order, 9 fuzzy
    * searches, 7 vector top-k, 2 paths (one from a hub source) and 2 of
    * the 3 recommend queries, which take turns in a fixed order. Every run
    * and seed gets the same mix, and runs of as many blocks get the same
    * recommend work, so the seed moves only which lookups and sources. */
  def block(i: Int, st: State, r: Random, dir: String, fuzzy: Deck[String],
      vectors: Deck[Long], hubs: Deck[Long], others: Deck[Long]): Seq[(Op, Boolean)] = {
    val rec = Run.RecommendQueries
    val reqs = Seq.fill(9)((fuzzyOp(st, fuzzy.next()), false)) ++
      Seq.fill(7)((vectorOp(st, vectors.next()), false)) ++
      Seq((pathOp(st, hubs.next()), true), (pathOp(st, others.next()), false)) ++
      Seq(2 * i, 2 * i + 1).map(j => (recommendOp(dir, rec(j % rec.length)), false))
    r.shuffle(reqs)
  }

  def run(spark: SparkSession, runner: Run.Runner, a: Args): Run.Result = {
    val st = runner.setup("setup:working_set")(setup(spark, a.data))
    // The host probe runs here, not after the measured section: it is
    // the same work on every run and seed, and its jobs warm the JIT for
    // the requests.
    val cal = runner.setup("host:calibration")(graft.Bench.calibrationProbe(spark, reps = 1))
    // Lookups and paths are dealt without repeats, so a request never
    // reuses work that an earlier one of the same stream did. Only the
    // fixed-parameter recommend queries repeat.
    val r = new Random(a.seed)
    val fuzzy = new Deck(st.fuzzy.distinct, r)
    val vectors = new Deck(st.vectors, r)
    val hubs = new Deck(st.hubs, r)
    val others = new Deck(st.others, r)
    def nextBlock(i: Int) = block(i, st, r, a.data, fuzzy, vectors, hubs, others)
    // One request of each type, so the measured blocks do not pay the
    // first call's class loading and code generation, and the recommend
    // query builds the DFCache edges it shares with the constrained one.
    // The lookups get a few more: they are cheap, and their first calls
    // are the slowest.
    val warm = Seq.fill(WarmLookups)(fuzzyOp(st, fuzzy.next())) ++
      Seq.fill(WarmLookups)(vectorOp(st, vectors.next())) :+ pathOp(st, hubs.next()) :+
      recommendOp(a.data, Run.RecommendQueries.head)
    warm.foreach(runner(spark, _, measured = false))
    val seen = mutable.Set.empty[String] ++ warm.map(_.key)
    val (gc0, pb0) = Layers.snapshot(spark, a.trace)
    var repeats = 0
    var paths = 0
    var hubPaths = 0
    val lat = mutable.ArrayBuffer.empty[Double]
    val blocks = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // Whole blocks: at least MinBlocks, so that a run on a slow host sends
    // the same request mix and recommend work as one on a fast host, then
    // more while the next one fits in `seconds`.
    while (blocks.length < MinBlocks || elapsed + blocks.last <= a.seconds) {
      val b0 = System.nanoTime()
      for ((op, hub) <- nextBlock(blocks.length)) {
        if (!seen.add(op.key)) repeats += 1
        if (op.group == "path") { paths += 1; if (hub) hubPaths += 1 }
        val rec = runner(spark, op, measured = true)
        lat += rec.end - rec.start
      }
      blocks += (System.nanoTime() - b0) / 1e9
    }
    val wall = elapsed
    Run.Result(Run.quantile(blocks.toSeq, 0.5), lat.toSeq, wall, blocks.length,
      repeats.toDouble / lat.length, hubPaths.toDouble / paths,
      Run.gcMs() - gc0, pb0, cal)
  }
}
