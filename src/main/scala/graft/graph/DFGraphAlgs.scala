package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DataFrame-native synchronous graph algorithms (fixed-round BSP).
  *
  * Each round is one co-partitioned shuffle join + aggregation on the
  * vertex id — the pattern that scales to 1000 executors: the edge list is
  * deduped and persisted once, every round reuses its partitioning, and
  * no data ever reaches the driver. Rank sums go through exact decimals so
  * results are shuffle-order-independent (see graft.ops.OpsUtil).
  *
  * Iteration discipline: each round's state is LOCAL-CHECKPOINTED —
  * materialized and its LOGICAL lineage truncated to an RDD scan.
  * persist() alone is not enough: the physical data dedups, but every
  * downstream action still re-ANALYZES the full k-round join tree on the
  * driver, which dominates wall time (measured ~35 s of pure planning
  * for a fully-cached 6-round BFS at sf0.1 — execution itself was
  * milliseconds). Truncating the plan per round keeps analysis O(1) per
  * round; GraphX's Pregel does the equivalent RDD materialization
  * internally. localCheckpoint is executor-local (fine on local[*] and
  * for driver-session lifetimes; a long-lived cluster job that must
  * survive executor loss would use reliable checkpoint() to a
  * fault-tolerant store instead).
  *
  * Semantics match graft.graph.GraphAlgs (GraphX/Pregel) round for round;
  * GraphSpec asserts agreement on micro-graphs.
  */
object DFGraphAlgs {

  private def rsum(c: Column): Column =
    sum(c.cast("decimal(28,15)")).cast("double")

  /** Conf key opting BSP rounds into RELIABLE checkpoints: set it to
    * "true" AND set a sparkContext checkpoint dir on a fault-tolerant
    * store. Default (unset) uses localCheckpoint — executor-local blocks,
    * right for local[*] and driver-session lifetimes, but lost with an
    * executor; a long-lived cluster job that must survive executor loss
    * wants the reliable form. */
  val ReliableCheckpointConf = "spark.graft.reliableCheckpoint"

  /** Conf key: when "true", the BSP loops build their UNTRUNCATED lazy
    * plan — [[mat]] becomes the identity (no checkpoint jobs) and the
    * sizing `count()` actions behind the broadcast decisions are
    * skipped (rounds take the shuffle-join path). This exists for PLAN
    * INSPECTION (PlanSpec's bounded-window sweep — checkpointing
    * otherwise truncates the inspectable plan to a LogicalRDD scan):
    * loops also clamp to ≤ 2 rounds under it, because every round is
    * the same operator shape and the un-truncated k-round tree doubles
    * per round (state feeds the next round twice), so analyzing the
    * full-depth plan is exponential for zero extra coverage. Never
    * EXECUTE under this flag. */
  val PlanOnlyConf = "spark.graft.bsp.planOnly"

  private def planOnly(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(PlanOnlyConf).contains("true")

  /** Loop rounds to actually build: full `iters` normally, 2 under
    * plan-only (identical per-round shape; see [[PlanOnlyConf]]). */
  private def rounds(df: DataFrame, iters: Int): Int =
    if (planOnly(df)) math.min(iters, 2) else iters

  /** Conf key: target bytes per partition for checkpointed BSP frames
    * (see [[sizedCoalesce]]). 0 disables the coalesce. */
  val MatTargetBytesConf = "spark.graft.bsp.matTargetBytes"

  /** Default [[MatTargetBytesConf]]: measured at the sf0.1/sf1
    * checkpoints — per-task fixed overhead (launch, codegen init, block
    * fetch, shuffle-write setup) is ~100-200 ms in the BSP level joins,
    * so a cached partition under a few MB is mostly overhead; above it
    * the per-row join work dominates. 4 MB keeps a 30 MB sf0.1 edge
    * checkpoint at 8 scan tasks (vs 64 inherited from the union lineage)
    * and a 300 MB sf1 one at ~75 — the rule derives the count from the
    * materialized size, so it is scale-adaptive, never a local constant. */
  val MatTargetBytesDefault: Long = 4L << 20

  /** Conf key: minimum bytes per partition under the PARALLELISM FLOOR
    * of [[sizedCoalesce]]/[[sizedScanView]] (see below). 0 disables the
    * floor (pure bytes/target sizing). */
  val MatMinBytesConf = "spark.graft.bsp.matMinBytes"

  /** Default [[MatMinBytesConf]]: 64 KB — a partition that small is
    * per-task overhead even on a loaded host, so the floor never
    * resurrects the kilobyte-block waves the byte sizing removed. */
  val MatMinBytesDefault: Long = 64L << 10

  /** Partition count for `bytes` of checkpointed/cached data scanned by
    * downstream stages: ceil(bytes / target) for throughput, FLOORED at
    * min(cores, ceil(bytes / minBytes)) so a frame big enough to carry
    * real per-row work still spreads across the machine. The floor fixes
    * a measured regression of the pure bytes/target rule (r13): BSP
    * relaxation joins BROADCAST the small state, so the whole round's
    * compute fuses into the checkpoint's scan stage — an 11 MB sf0.1
    * edge checkpoint coalesced to 3-5 partitions ran its rounds at
    * 3-5-way parallelism on 32 cores (graph_betweenness terms join:
    * 1.8 s wall for 7.6 s of task time on 5 tasks). With the floor the
    * same frame keeps 32 × ≥64 KB partitions; a truly tiny frame
    * (< cores × minBytes) still coalesces to a handful of tasks, and
    * big frames are untouched (bytes/target already ≥ cores). */
  private def sizedParts(s: org.apache.spark.sql.SparkSession,
      bytes: BigInt, n: Int): Int = {
    val target = s.conf.getOption(MatTargetBytesConf).map(_.toLong)
      .getOrElse(MatTargetBytesDefault)
    if (target <= 0 || bytes <= 0) return n
    val minBytes = s.conf.getOption(MatMinBytesConf).map(_.toLong)
      .getOrElse(MatMinBytesDefault)
    val byThroughput = (bytes + target - 1) / target
    val floor =
      if (minBytes <= 0) BigInt(0)
      else BigInt(s.sparkContext.defaultParallelism)
        .min((bytes + minBytes - 1) / minBytes)
    byThroughput.max(floor).min(BigInt(n)).max(BigInt(1)).toInt
  }

  /** SIZE-DERIVED partition count for a just-materialized checkpoint
    * (guide §2.2 "fewer, larger partitions" applied to BSP state): a
    * localCheckpoint pins the partitioning its lineage happened to have
    * — a union of two 32-partition cache scans yields 64 partitions
    * regardless of bytes, and every per-round scan of it then pays 64
    * task launches for kilobyte-sized blocks (measured: ~10 × 64 tiny
    * tasks ≈ 100 s of pure task overhead in one sf0.1 betweenness run).
    * The materialized RDD's cached size is already known to the block
    * manager (driver metadata — no job), so coalesce to
    * ceil(bytes / target): big frames keep their parallelism, tiny ones
    * stop paying per-task overhead. coalesce() is NARROW (no shuffle,
    * deterministic grouping) and aggregation results are order-
    * independent (exact decimal sums / min-merges), so outputs are
    * bit-identical. Reliable checkpoints (cluster durability path) are
    * not block-manager-cached and pass through untouched. */
  private def sizedCoalesce(cp: DataFrame): DataFrame = {
    val s = cp.sparkSession
    val target = s.conf.getOption(MatTargetBytesConf).map(_.toLong)
      .getOrElse(MatTargetBytesDefault)
    if (target <= 0) return cp
    cp.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val info = s.sparkContext.getRDDStorageInfo.find(_.id == lr.rdd.id)
        info match {
          case Some(i) if i.numCachedPartitions > 0 =>
            val bytes = i.memSize + i.diskSize
            val n = lr.rdd.getNumPartitions
            val k = sizedParts(s, BigInt(bytes), n)
            if (k < n) cp.coalesce(k) else cp
          case _ => cp
        }
      case _ => cp
    }
  }

  /** [[mat]] for callers outside the BSP loops (GraphPack's HITS
    * rounds): eager localCheckpoint + [[sizedCoalesce]]. */
  private[graft] def sizedCheckpoint(df: DataFrame): DataFrame =
    sizedCoalesce(df.localCheckpoint(true))

  /** Size-coalesced SCAN VIEW of a persisted cache that downstream code
    * re-scans many times (the walk corpora probe the full neighbor
    * index once per step): materialize the cache (one count — these
    * frames are warmed anyway), read the materialized size from the
    * InMemoryRelation stats (driver metadata), and coalesce the scan to
    * ceil(bytes / [[MatTargetBytesConf]]) partitions. The cache itself
    * is untouched (stats, storage, consumers elsewhere); only this
    * view's scans launch fewer tasks. coalesce is narrow and
    * deterministic — values identical. */
  private[graft] def sizedScanView(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val target = s.conf.getOption(MatTargetBytesConf).map(_.toLong)
      .getOrElse(MatTargetBytesDefault)
    if (target <= 0) return df
    df.count()
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = df.rdd.getNumPartitions
    val kc = sizedParts(s, bytes, n)
    if (kc < n) df.coalesce(kc) else df
  }

  /** Materialize a frame and truncate its logical lineage —
    * localCheckpoint by default, reliable checkpoint() when
    * [[ReliableCheckpointConf]] is set and a checkpoint dir exists;
    * identity under [[PlanOnlyConf]]. Local checkpoints are then
    * [[sizedCoalesce]]d so per-round scans don't pay task overhead
    * proportional to the lineage's partition count. */
  private def mat(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (planOnly(df)) df
    else {
      val reliable = s.conf.getOption(ReliableCheckpointConf).contains("true") &&
        s.sparkContext.getCheckpointDir.isDefined
      if (reliable) df.checkpoint(true) else sizedCoalesce(df.localCheckpoint(true))
    }
  }

  /** FIXED-POINT EARLY EXIT for the monotone loops (guide §2.4 — remove
    * work): every loop below computes state_{k+1} = f(state_k) with f
    * deterministic and independent of the round index, so
    * state_{k+1} = state_k implies every later round is the identity and
    * the returned frame equals the full-`iters` run EXACTLY (the oracle
    * unrolls all rounds; a converged prefix reaches the same fixed
    * point — bit-identical, re-proven by the full oracle battery).
    * Mechanics: each round's update carries a `__chg` boolean (did this
    * row's state change?), the flag rides the round checkpoint, and this
    * probe is one bounded scan of the just-materialized blocks (limit-1
    * short-circuit, tens of ms) that decides whether the remaining
    * rounds — a full relaxation join + aggregation + checkpoint EACH —
    * still need to run. Fixed-round iteration counts are sized for the
    * worst graph the contract admits (diameter bounds); real fixtures
    * converge earlier, and at 100 TB each saved round is a full shuffle
    * over the edge list. Never consulted under plan-only (no actions);
    * the PageRank family is excluded (damped ranks never reach an exact
    * fixed point). */
  /** [[mat]] + a FREE fixed-point flag for the early-exit loops: the
    * round update carries a boolean `__chg` column and the checkpoint
    * action itself collects max(__chg) via observe() — CollectMetrics
    * is a pass-through plan node and Dataset.localCheckpoint/checkpoint
    * run under withAction (verified against the Spark 4.1 bytecode), so
    * the metric is posted by the materialization job the loop already
    * pays. NO extra probe job per round (the first cut ran a
    * filter+limit(1) job per round — measured ~0.1 s × rounds of pure
    * overhead on loops that never converge at fixture scale). Returns
    * (checkpointed frame WITHOUT the flag, did any row change, row
    * count). The count rides the same free metric row (r14): the
    * growing-state loops re-check state size each round before choosing
    * broadcast, and `count()` on the just-checkpointed frame — cheap
    * but still one driver-blocking job per round — is the exact number
    * the checkpoint action already saw. −1 under plan-only (no action;
    * the broadcast probe is skipped there anyway). */
  private def matChanged(df: DataFrame): (DataFrame, Boolean, Long) = {
    if (planOnly(df)) (df.drop("__chg"), true, -1L)
    else {
      // NAMED observe, not the Observation helper: Observation() touches
      // the session's ObservationManager, a non-Serializable lazy field
      // of classic.SparkSession — once instantiated, ANY later closure
      // that (transitively) captures the session fails task
      // serialization. ml_train_eval hit exactly that: its logistic
      // model's training summary holds the session, the predict UDF
      // captures the model, and the first bench after the Observation-
      // based early exit landed failed with "Task not serializable:
      // ObservationManager" — only when a BSP query had run first. The
      // named form adds the same pass-through CollectMetrics node and
      // the metric is read back listener-free from the executed plan
      // (QueryExecution.observedMetrics — public API), so no session
      // state is ever created. GraphSpec pins the session's
      // serializability after an early-exit loop.
      val observed = df.observe("__graft_chg",
        max(col("__chg").cast("int")).as("chg"), count(lit(1)).as("n"))
      val cp = mat(observed)
      val row = observed.queryExecution.observedMetrics.get("__graft_chg")
      val v = row.map(_.getAs[Any]("chg")).orNull
      val n = row.map(_.getAs[Any]("n").asInstanceOf[Number].longValue)
        .getOrElse(-1L)
      (cp.drop("__chg"), v != null && v.asInstanceOf[Number].intValue == 1, n)
    }
  }

  /** [[mat]] + a free row count collected by the checkpoint action
    * itself (named observe, read from the executed plan — see
    * [[matChanged]] for why not Observation()). For loop states with no
    * convergence flag (PPR's dense rank rows) and initial loop states
    * whose size decides the broadcast path. −1 under plan-only; should
    * the metric row ever be absent, the count falls back to an explicit
    * `count()` of the checkpoint (one extra job, the same number). */
  private def matCounted(df: DataFrame): (DataFrame, Long) = {
    if (planOnly(df)) (df, -1L)
    else {
      val observed = df.observe("__graft_cnt", count(lit(1)).as("n"))
      val cp = mat(observed)
      val n = observed.queryExecution.observedMetrics.get("__graft_cnt")
        .map(_.getAs[Any]("n").asInstanceOf[Number].longValue)
        .getOrElse(cp.count())
      (cp, n)
    }
  }

  /** Rounds the LAST early-exit loop on this JVM actually executed —
    * test-only telemetry (GraphSpec pins that a converged loop stops
    * early AND returns the full-iters result); never read by query
    * code. */
  private[graft] val lastRoundsRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Hub-salting decisions taken outside plan-only on this JVM (each one
    * a probe or a caller-supplied bound) — test-only telemetry: GraphSpec
    * pins that broadcast-path loops never build their lazy hub plan. */
  private[graft] val saltDecisions = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Vertex-state row count below which per-round state/message frames are
    * broadcast into the edge joins instead of shuffled. localCheckpoint
    * truncates lineage to a bare RDD scan, which loses the size stats AQE
    * would use to make this call at runtime — so the loop makes the same
    * size-based decision itself, from the exact count of the materialized
    * state. ~2M rows ≈ tens of MB serialized: cheap to ship to every
    * executor, and each round then touches the big edge list with zero
    * exchanges on it. Above the limit the rounds fall back to shuffle
    * joins — the 1B-vertex shape, where per-vertex state must never be
    * centralized — with hub keys SALTED (see [[SaltTargetDegConf]]).
    * Override with [[StateBroadcastLimitConf]] (cluster tuning; tests
    * set it to 0 to force the shuffle path). */
  private val StateBroadcastLimit = 2000000L

  /** Conf key overriding [[StateBroadcastLimit]]. */
  val StateBroadcastLimitConf = "spark.graft.bsp.stateBroadcastLimit"

  private def bcastLimit(df: DataFrame): Long =
    df.sparkSession.conf.getOption(StateBroadcastLimitConf)
      .map(_.toLong).getOrElse(StateBroadcastLimit)

  /** Broadcast decision for a loop state of observed size `n` (a
    * [[matCounted]]/[[matChanged]] metric, −1 when absent). Never under
    * plan-only, where no action ran: the plan keeps the shuffle shape
    * and forces the (lazy) hub plan on round 1, as it always has. */
  private def stateIsSmall(state: DataFrame, n: Long): Boolean =
    !planOnly(state) && n >= 0 && n <= bcastLimit(state)

  /** Conf key: out-degree budget per (src, salt) sub-key in the BFS/SSSP
    * relaxation join's SHUFFLE path. A γ≈3.4 power-law hub (the
    * reference graph's shape) can carry millions of out-edges on one
    * join key; when rounds shuffle (state too big to broadcast), that
    * key serializes one task per round. Edges of a hub with out-degree
    * d split across ceil(d / target) ≤ [[MaxSalt]] salt sub-keys
    * (deterministic: salt = hash(dst) mod n_salts), and each round the
    * state rows of salted vertices REPLICATE across their sub-keys —
    * O(Σ hubs · n_salts) extra state rows, bounded and tiny next to a
    * round's edge volume — so relaxation work for a hub spreads over
    * n_salts tasks. Non-hub keys keep n_salts = 1 and are untouched.
    * Default 500k rows per sub-key; tests set 1 to salt everything. */
  val SaltTargetDegConf = "spark.graft.bsp.saltTargetDeg"

  /** Salt-fanout cap — 32 sub-keys ≈ 16M relaxations per hub task at
    * the default target, far past any real round's critical path. */
  private val MaxSalt = 32

  private def saltTarget(df: DataFrame): Long =
    df.sparkSession.conf.getOption(SaltTargetDegConf)
      .map(_.toLong).getOrElse(500000L)

  /** Per-key salt fanout (keys…, __ns) and the salted edge list
    * (keys…, dst, …, __ns, __salt) for a shuffle-path state⋈edges join.
    * `keys` is the edge-side join key (src for the single-graph loops,
    * (rel, src) for the composite-key multi-view loops). Returns None
    * when no key exceeds the target (the common case — rounds then skip
    * the per-round fanout join entirely; one probe action at build
    * time, driver metadata only). Under plan-only the probe is skipped
    * and salting activates iff target ≤ 1 (how PlanSpec asserts the
    * salted shape without running jobs). */
  private def saltPlan(e: DataFrame, keys: Seq[String] = Seq("src"),
      knownMaxDeg: Option[Long] = None): Option[(DataFrame, DataFrame)] = {
    val kcols = keys.map(col)
    val deg = e.groupBy(kcols: _*).agg(count(lit(1)).as("__deg"))
    saltPlanFromDeg(deg, "__deg", keys, e,
      // A caller-supplied max degree (or any UPPER BOUND — a subgraph
      // may pass its parent graph's) turns the probe into driver-side
      // arithmetic; the fallback is one bounded probe over the
      // (mat'ed) edge list's degree agg (ns > 1 ⟺ deg > target).
      target => knownMaxDeg.map(_ > target).getOrElse(
        deg.filter(col("__deg") > target).limit(1).count() > 0))
  }

  /** As [[saltPlan]] but with the hub-existence probe supplied by the
    * caller. The right probe is caller knowledge: the query layer memoizes
    * max out-degree once per session over its shared edge cache (an
    * upper bound covers every subgraph and per-relation view), so the
    * per-query probe is driver-side arithmetic — measured alternatives
    * all paid a per-query job (the ns-filter probe re-aggregated the
    * edge list, +3-7 s at sf1; the r9 probe over the persisted
    * contribution frame re-read the whole edge cache, ~2 s; persisting
    * the out-degree frame for the probe made the contribution join
    * WORSE, +2-4 s, because the now-stats-known |V|-row cache planned
    * as a broadcast). The probe runs only outside plan-only mode; `deg`
    * is used to build the fanout frame when salting does activate. */
  private def saltPlanFromDeg(deg: DataFrame, degCol: String,
      keys: Seq[String], e: DataFrame,
      probe: Long => Boolean): Option[(DataFrame, DataFrame)] = {
    val target = saltTarget(e)
    val active = if (planOnly(e)) target <= 1L
      else { saltDecisions.incrementAndGet(); probe(target) }
    if (!active) None
    else {
      val kcols = keys.map(col)
      val ns = deg.select(kcols :+
        least(lit(MaxSalt.toLong), greatest(lit(1L),
          ceil(col(degCol).cast("double") / target).cast("long")))
          .cast("int").as("__ns"): _*)
      val eS = mat(e.join(ns, keys)
        .withColumn("__salt", pmod(hash(col("dst")), col("__ns"))))
      Some((mat(ns), eS))
    }
  }

  /** State fanned out across its vertices' salt sub-keys: each row of
    * `state` replicates to (__sl = 0..__ns−1); vertices absent from the
    * fanout frame (no out-edges) keep one row. `keyMap` maps each
    * state-side key column to its fanout-frame twin (id→src alone for
    * the single-graph loops, plus rel→rel for the composite-key ones).
    * Costs one extra shuffle of the (small) state per round — the price
    * of un-skewing the big edge-side exchange. */
  private def fanOutState(state: DataFrame, ns: DataFrame,
      keyMap: Seq[(String, String)] = Seq("id" -> "src")): DataFrame = {
    val cond = keyMap.map { case (sk, nk) => state(sk) === ns(nk) }
      .reduce(_ && _)
    keyMap.foldLeft(state.join(ns, cond, "left")) {
        case (df, (_, nk)) => df.drop(ns(nk))
      }
      .withColumn("__sl",
        explode(sequence(lit(0), coalesce(col("__ns"), lit(1)) - 1)))
      .drop("__ns")
  }

  /** Hint `df` broadcast-able when the measured state size is bounded. */
  private def maybeBcast(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  /** Fixed-iteration PageRank over a directed edge list (src, dst):
    * r0 = 1; r_{k+1} = 0.15 + 0.85 * Σ_in r_k(src)/outdeg(src).
    * Returns (id, rank). Ref data_processor.py:56-78 (damping 0.85).
    *
    * Loop-carried frames are persist()ed CO-PARTITIONED on their join
    * keys, not localCheckpoint'ed: persist preserves outputPartitioning
    * (checkpointing truncates to a bare RDD scan and loses it), so each
    * round's contrib⋈rank join and the final nodes⋈msgs join are
    * exchange-free and only the message aggregation shuffles — one
    * exchange per round over the edge list instead of three. rank stays
    * a LINEAR recurrence (each round reads the previous rank once), so
    * the loop remains ONE lazy plan; measured ~2× over the checkpointed
    * inputs at sf0.1, and the shuffle-count argument scales. */
  def pageRank(edges: DataFrame, iters: Int,
      knownMaxDeg: Option[Long] = None,
      prebuiltContrib: Option[DataFrame] = None): DataFrame =
    usableContrib(edges, knownMaxDeg, prebuiltContrib) match {
      case Some(pc) => pageRankPrebuilt(pc, iters)
      case None =>
        pageRankLoop(mat(edges.select(col("src"), col("dst"))), iters, knownMaxDeg)
    }

  /** A caller-supplied [[contribFrame]] is usable iff the hub probe is
    * decidable DRIVER-SIDE as "salting off" (a memoized max out-degree
    * bound within the salt budget): the prebuilt frame carries the
    * unsalted fill's partitioning, and the salted path must keep
    * building its own (src, __salt)-keyed frame. Plan-only runs ignore
    * it (the inspectable shape stays the self-building loop's). */
  private def usableContrib(edges: DataFrame, knownMaxDeg: Option[Long],
      prebuilt: Option[DataFrame]): Option[DataFrame] =
    prebuilt.filter(_ => !planOnly(edges) &&
      knownMaxDeg.exists(_ <= saltTarget(edges)))

  /** The unsalted loops' per-round join input — (src, dst, deg), hash-
    * partitioned and SORTED on src at the size-derived loop count (the
    * exact fill [[pageRankLoop]] and [[personalizedPageRank]] build
    * internally; see the fill comments there) — exposed so the query
    * layer can session-cache ONE fill for the whole pagerank/ppr
    * family: each of those queries otherwise pays its own |E| exchange
    * + sort + window per run for an identical frame. The caller
    * persists it (DFCache) and passes it back through the
    * `prebuiltContrib` hooks, which consume it only when
    * [[usableContrib]] proves the salted path off. */
  private[graft] def contribFrame(edges: DataFrame): DataFrame = {
    val e = mat(edges.select(col("src"), col("dst")))
    val kP = loopParts(e)
    kP.map(k => e.repartition(k, col("src")))
      .getOrElse(e.repartition(col("src")))
      .sortWithinPartitions(col("src"))
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
  }

  /** [[pageRankLoop]]'s unsalted body over a caller-persisted
    * [[contribFrame]]: same rounds, same decimal message sums, same
    * co-partitioned joins — the loop frames key to the PREBUILT frame's
    * partition count (its fill derived it from the same size rule), and
    * nodes derive from the contribution rows themselves (identical row
    * set: the deg window keeps every edge row), so the edge list is
    * never re-checkpointed or re-exchanged per query. */
  private def pageRankPrebuilt(contrib: DataFrame, iters: Int): DataFrame = {
    val k = math.max(1, contrib.rdd.getNumPartitions)
    val nodes = contrib.select(col("src").as("id"))
      .union(contrib.select(col("dst").as("id"))).distinct()
      .repartition(k, col("id"))
      .sortWithinPartitions(col("id")).persist()
    var rank = nodes.select(col("id"), lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      val joined = contrib.join(rank, contrib("src") === rank("id"))
      val msgs = joined
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("m"))
        .groupBy(col("id")).agg(rsum(col("m")).as("msum"))
      rank = nodes.join(msgs, Seq("id"), "left")
        .select(col("id"),
          (lit(0.15) + lit(0.85) * coalesce(col("msum"), lit(0.0))).as("rank"))
    }
    val out = mat(rank)
    nodes.unpersist(false)
    out
  }

  /** Loop-frame partition count, inherited from the mat'ed edge frame:
    * sizedCoalesce already derived THAT from the materialized bytes, so
    * reusing it keys the per-round co-partitioned joins to data volume
    * instead of spark.sql.shuffle.partitions (32 waves of ~200 ms task
    * overhead per round at small SFs; ~bytes/target partitions at any
    * scale). planOnly (mat = identity) keeps the session default. */
  private def loopParts(e: DataFrame): Option[Int] =
    if (planOnly(e)) None else Some(math.max(1, e.rdd.getNumPartitions))

  /** [[pageRank]]'s loop body. `e` must be cheap to rescan — either
    * materialized or a narrow projection over a materialized frame (the
    * packed multi-view path passes the latter: re-running a when-chain +
    * bit-pack per scan beats checkpoint-copying the projection). It is
    * scanned ~3× at fill (contrib, nodes union). */
  private def pageRankLoop(e: DataFrame, iters: Int,
      knownMaxDeg: Option[Long]): DataFrame = {
    // Hub salting (see [[SaltTargetDegConf]]): the contribution join is
    // exchange-free by co-partitioning, but a power-law hub still lands
    // all its out-edges in ONE persisted partition — one task per round.
    // When a hub exceeds the budget, contrib co-partitions on
    // (src, __salt) instead and the rank state fans out to match; the
    // message sum is a decimal aggregate, so results are bit-identical.
    // The probe is max(deg) over the persisted OUT-DEGREE frame — one
    // distinct-source row per vertex, not the edge volume (the r9 probe
    // over the persisted contribution frame re-read the whole edge
    // cache per query: ~2 s at the sf1 checkpoint). Both branches then
    // reuse the cached aggregate in their contribution join, so the
    // probe's fill is work the main job no longer repeats.
    lazy val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val salt = saltPlanFromDeg(outdeg, "deg", Seq("src"), e,
      target => knownMaxDeg.getOrElse(maxDegOf(outdeg)) > target)
    // Cached SORTED on the join keys, not just co-partitioned: the
    // in-memory relation advertises its outputOrdering, so each round's
    // sort-merge join re-sorts only the |V|-row rank side — without the
    // sortWithinPartitions every round re-sorted the full edge-sized
    // contribution cache (iters × |E| log |E| wasted on identical data).
    // One sort at cache-fill time amortizes over all rounds.
    //
    // The unsalted fill computes deg as a WINDOW count over the already
    // key-sorted partitions instead of an aggregate + self-join: one
    // |E| exchange + one sort total, where the join form paid the
    // aggregation exchange, the join's own exchanges, AND a redundant
    // user repartition the planner does not elide (measured ~2 s of the
    // 12 s sf1 query). The salted fill keeps the join form — a window
    // over (src) would straddle the salt sub-keys the repartition just
    // split apart. deg semantics identical: every e row keeps its
    // source's out-edge count.
    // kP: loop-frame partition count, size-derived — see loopParts.
    val kP = loopParts(e)
    val contrib = (salt match {
      case Some((_, eS)) =>
        val keyed = eS.join(outdeg, "src")
          .select(col("src"), col("dst"), col("deg"), col("__salt"))
        kP.map(k => keyed.repartition(k, col("src"), col("__salt")))
          .getOrElse(keyed.repartition(col("src"), col("__salt")))
          .sortWithinPartitions(col("src"), col("__salt"))
      case None =>
        kP.map(k => e.repartition(k, col("src")))
          .getOrElse(e.repartition(col("src")))
          .sortWithinPartitions(col("src"))
          .withColumn("deg", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
    }).persist()
    // nodes keeps an explicit sized hash partitioning on id so each
    // round's msgs exchange and the final join co-partition at kP (the
    // unsized form rode distinct's hash(id, shuffle.partitions) layout).
    val nodesRaw = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val nodes = kP.map(k => nodesRaw.repartition(k, col("id")))
      .getOrElse(nodesRaw)
      .sortWithinPartitions(col("id")).persist()
    var rank = nodes.select(col("id"), lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      val joined = salt match {
        case Some((ns, _)) =>
          val rk = fanOutState(rank, ns)
          contrib.join(rk,
            contrib("src") === rk("id") && contrib("__salt") === rk("__sl"))
        case None => contrib.join(rank, contrib("src") === rank("id"))
      }
      val msgs = joined
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("m"))
        .groupBy(col("id")).agg(rsum(col("m")).as("msum"))
      rank = nodes.join(msgs, Seq("id"), "left")
        .select(col("id"),
          (lit(0.15) + lit(0.85) * coalesce(col("msum"), lit(0.0))).as("rank"))
    }
    val out = mat(rank)
    contrib.unpersist(false); nodes.unpersist(false)
    out
  }

  /** Largest `deg` value of a persisted degree frame (cache-read probe;
    * empty edge list → no hub). */
  private def maxDegOf(deg: DataFrame): Long =
    Option(deg.agg(max(col("deg"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

  /** Per-relation ("multi-view") PageRank in ONE BSP job: vertices are
    * (rel, id) composite keys, so all relation subgraphs iterate together
    * — the 100 TB form of the reference's loop over ~44 per-relation
    * igraph PageRanks (ref data_processor.py:35-107). A driver loop of
    * 44 jobs re-reads and re-shuffles the edge list 44 times; composite
    * keys do it once, and skew across relations is absorbed by the
    * normal shuffle partitioning of (rel, id).
    * Input: (rel, src, dst). Returns (rel, id, rank). */
  def pageRankByRel(edges: DataFrame, iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val e = mat(edges.select(col("rel"), col("src"), col("dst")))
    // PACKED fast path: the per-relation subgraphs are DISJOINT, so
    // global pageRank over a union with (relIdx, vertex) bit-packed into
    // one long id IS per-relation pagerank — same message multiset per
    // vertex, same decimal sums, bit-identical ranks. The packed loop
    // runs the single-long-key round shape, measured 2.2× cheaper per
    // round than composite (string, long) keys at the sf1 checkpoint
    // (hash, compare, and shuffle all touch one word instead of a
    // struct row). Conditions (else the composite loop below): an
    // atomic non-null rel type (the dictionary is a driver-side
    // when-chain — bounded by the multi-view contract, ~44 relations
    // in the reference), and ids small enough that vertex << bits(rel)
    // cannot overflow. knownMaxDeg stays a valid upper bound for the
    // packed graph's hub probe (per-(rel,src) degree ≤ total degree).
    // Skipped under plan-only (the dictionary probe is an action; the
    // inspectable shape is the composite loop's).
    val packed: Option[DataFrame] = if (planOnly(e)) None else {
      val atomic = {
        import org.apache.spark.sql.types._
        edges.schema("rel").dataType match {
          case _: StructType | _: ArrayType | _: MapType |
               _: UserDefinedType[_] => false
          case _ => true
        }
      }
      if (!atomic) None
      else {
        // ONE probe action over the materialized edge list: the rel
        // dictionary (collect_set — order is irrelevant, the same
        // in-run array drives both encode and decode), the id bounds,
        // and a null-rel count (collect_set drops nulls; a null rel
        // routes to the composite loop, which alone carries its
        // join-semantics).
        val probe = e.agg(collect_set(col("rel")).as("rels"),
          max(greatest(col("src"), col("dst"))).as("mx"),
          min(least(col("src"), col("dst"))).as("mn"),
          sum(when(col("rel").isNull, 1L).otherwise(0L)).as("nulls")).head()
        val rels: Array[Any] = probe.getSeq[Any](0).toArray
        val bits = 64 - java.lang.Long.numberOfLeadingZeros(
          math.max(rels.length - 1, 1).toLong)
        val maxId = Option(probe.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
        val minId = Option(probe.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L)
        val nNull = Option(probe.get(3)).map(_.asInstanceOf[Long]).getOrElse(0L)
        if (rels.isEmpty || nNull > 0L || minId < 0L ||
            maxId > (Long.MaxValue >> bits)) None
        else {
          val relIdx = rels.zipWithIndex.tail
            .foldLeft(when(col("rel") === lit(rels.head), lit(0L))) {
              case (w, (r, i)) => w.when(col("rel") === lit(r), lit(i.toLong))
            }
          def pack(c: Column) = shiftleft(c, bits).bitwiseOR(col("__ri"))
          val enc = e.withColumn("__ri", relIdx)
            .select(pack(col("src")).as("src"), pack(col("dst")).as("dst"))
          val pr = pageRankLoop(enc, iters, knownMaxDeg)
          val mask = (1L << bits) - 1L
          val relBack = rels.zipWithIndex.tail
            .foldLeft(when(col("id").bitwiseAND(lit(mask)) === lit(0L),
              lit(rels.head))) { case (w, (r, i)) =>
                w.when(col("id").bitwiseAND(lit(mask)) === lit(i.toLong), lit(r))
            }
          Some(pr.select(relBack.as("rel"),
            shiftrightunsigned(col("id"), bits).as("id"), col("rank")))
        }
      }
    }
    if (packed.isDefined) return packed.get
    lazy val outdeg = e.groupBy(col("rel"), col("src"))
      .agg(count(lit(1)).as("deg"))
    // Co-partitioned persists, one exchange per round — see pageRank.
    // With composite (rel, id) keys the avoided re-shuffles are 2× the
    // whole multi-view edge list per round, which is exactly where the
    // round-2 regression came from.
    // Hub salting on the composite (rel, src) key; probe over the
    // persisted out-degree frame — see pageRank.
    val salt = saltPlanFromDeg(outdeg, "deg", Seq("rel", "src"), e,
      target => knownMaxDeg.getOrElse(maxDegOf(outdeg)) > target)
    // Sorted-on-key caches — see pageRank: one fill-time sort saves
    // iters × full-cache re-sorts in the rounds' sort-merge joins; the
    // unsalted fill is the one-exchange window form (see pageRank).
    // Sized loop-frame partitioning — see pageRank/loopParts.
    val kP = loopParts(e)
    val contrib = (salt match {
      case Some((_, eS)) =>
        val keyed = eS.join(outdeg, Seq("rel", "src"))
          .select(col("rel"), col("src"), col("dst"), col("deg"), col("__salt"))
        kP.map(k => keyed.repartition(k, col("rel"), col("src"), col("__salt")))
          .getOrElse(keyed.repartition(col("rel"), col("src"), col("__salt")))
          .sortWithinPartitions(col("rel"), col("src"), col("__salt"))
      case None =>
        kP.map(k => e.repartition(k, col("rel"), col("src")))
          .getOrElse(e.repartition(col("rel"), col("src")))
          .sortWithinPartitions(col("rel"), col("src"))
          .withColumn("deg", count(lit(1)).over(org.apache.spark.sql
            .expressions.Window.partitionBy(col("rel"), col("src"))))
    }).persist()
    val nodesRaw = e.select(col("rel"), col("src").as("id"))
      .union(e.select(col("rel"), col("dst").as("id"))).distinct()
    val nodes = kP.map(k => nodesRaw.repartition(k, col("rel"), col("id")))
      .getOrElse(nodesRaw)
      .sortWithinPartitions(col("rel"), col("id")).persist()
    // Linear recurrence — one lazy plan, single job (see pageRank).
    var rank = nodes.select(col("rel"), col("id"), lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      val joined = salt match {
        case Some((ns, _)) =>
          val rk = fanOutState(rank, ns, Seq("rel" -> "rel", "id" -> "src"))
          contrib.join(rk,
            contrib("rel") === rk("rel") && contrib("src") === rk("id") &&
              contrib("__salt") === rk("__sl"))
        case None => contrib.join(rank,
          contrib("rel") === rank("rel") && contrib("src") === rank("id"))
      }
      val msgs = joined
        .select(contrib("rel").as("rel"), col("dst").as("id"),
          (col("rank") / col("deg")).as("m"))
        .groupBy(col("rel"), col("id")).agg(rsum(col("m")).as("msum"))
      rank = nodes.join(msgs, Seq("rel", "id"), "left")
        .select(col("rel"), col("id"),
          (lit(0.15) + lit(0.85) * coalesce(col("msum"), lit(0.0))).as("rank"))
    }
    val out = mat(rank)
    contrib.unpersist(false); nodes.unpersist(false)
    out
  }

  /** Multi-seed personalized PageRank (random-walk-with-restart) — the
    * classic link-prediction scorer next to Adamic-Adar (the reference's
    * igraph `personalized_pagerank` shape; our battery lacked it).
    * r0(s,·) = e_s; r_{k+1}(s,·) = 0.15·e_s + 0.85·Pᵀ r_k(s,·), one
    * composite-key (seed, id) BSP job for ALL seeds at once.
    *
    * Unlike the global pageRank above, the state here is SPARSE: only
    * rows with nonzero mass exist (each round = message rows ∪ the
    * 0.15-restart rows, re-aggregated), so per-round state is bounded by
    * the seeds' k-hop neighborhoods, not |seeds|×|V|. That is what makes
    * PPR-for-every-user feasible at 100 TB — a million seeds iterate in
    * one job, state proportional to touched mass only, one exchange per
    * round on (seed, id).
    * Input: edges (src, dst), seeds (seed). Returns (seed, id, rank). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      knownMaxDeg: Option[Long] = None,
      prebuiltContrib: Option[DataFrame] = None): DataFrame = {
    // With a usable prebuilt contribution frame (see usableContrib) the
    // edge list is never touched: no per-query checkpoint, no fill —
    // the session-cached frame is the per-round join input directly.
    val (contrib, salt, ownContrib) =
      usableContrib(edges, knownMaxDeg, prebuiltContrib) match {
        case Some(pc) => (pc, None, false)
        case None =>
          val e = mat(edges.select(col("src"), col("dst")))
          // Hub salting for the shuffle path (big seed sets); probe over
          // the persisted out-degree frame — see pageRank.
          lazy val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          val s = saltPlanFromDeg(outdeg, "deg", Seq("src"), e,
            target => knownMaxDeg.getOrElse(maxDegOf(outdeg)) > target)
          // Sorted-on-key cache — free for the broadcast-state path (hash
          // join ignores ordering; one fill-time sort) and saves per-round
          // re-sorts on the big-seed-set shuffle path — see pageRank. The
          // unsalted fill is the one-exchange window form (see pageRank).
          val c = (s match {
            case Some((_, eS)) =>
              eS.join(outdeg, "src")
                .select(col("src"), col("dst"), col("deg"), col("__salt"))
                .repartition(col("src"), col("__salt"))
                .sortWithinPartitions(col("src"), col("__salt"))
            case None =>
              e.repartition(col("src")).sortWithinPartitions(col("src"))
                .withColumn("deg", count(lit(1)).over(
                  org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
          }).persist()
          (c, s, true)
      }
    // The restart rows: (seed, seed, 0.15) — tiny, broadcast into every
    // round's re-aggregation via the union (no shuffle contribution).
    val restart = mat(seeds.select(col("seed"), col("seed").as("id"),
      lit(0.15).cast("double").as("part")))
    // State size rides each round's checkpoint metric (see matCounted);
    // only the seed frame pays an explicit count, once.
    var (rank, nState) = matCounted(seeds.select(col("seed"),
      col("seed").as("id"), lit(1.0).cast("double").as("rank")))
    // EAGER per-round discipline on BOTH paths (r14 note, guide §1.1:
    // measure first — an A/B of the "one lazy plan" form of this loop,
    // which the betweenness knownDists rework proved out for its level
    // joins, measured graph_ppr 9.0 s vs 7.5 s eager at sf0.1/32 cores
    // on a calibration-equal host: PPR state is DENSE per round — every
    // (seed, reached-id) row — so each lazy round stacked two wide
    // exchanges whose AQE re-planning and un-coalesced state carried
    // more cost than the 2 driver-blocking jobs per round the eager
    // form pays; the checkpoint also sizedCoalesces each round's state).
    for (_ <- 1 to rounds(rank, iters)) {
      val small = stateIsSmall(rank, nState)
      val joined =
        if (small || salt.isEmpty)
          contrib.join(maybeBcast(rank, small), contrib("src") === rank("id"))
        else {
          val (ns, _) = salt.get
          val rk = fanOutState(rank, ns)
          contrib.join(rk,
            contrib("src") === rk("id") && contrib("__salt") === rk("__sl"))
        }
      val msgs = joined
        .select(col("seed"), col("dst").as("id"),
          (col("rank") / col("deg")).as("m"))
        .groupBy(col("seed"), col("id")).agg(rsum(col("m")).as("msum"))
      val (r2, n2) = matCounted(msgs.select(col("seed"), col("id"),
          (lit(0.85) * col("msum")).as("part"))
        .union(restart)
        .groupBy(col("seed"), col("id")).agg(rsum(col("part")).as("rank")))
      rank = r2
      // −1 means "no action ran" (plan-only, see matCounted): never let
      // it overwrite an observed size.
      if (n2 >= 0) nState = n2
    }
    if (ownContrib) contrib.unpersist(false)
    rank
  }

  /** Fixed-round min-plus relaxation over weighted edges (src, dst, w)
    * from one source. Returns (id, dist) with unreached = null.
    * With w ≡ 1 this is BFS hop count. Ref bfs.py:91-147.
    * `dist` is read twice per round (relaxation + least-merge), so each
    * round's state is cached — see the iteration-discipline note above. */
  def shortestPaths(edges: DataFrame, source: Long, iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val e = mat(edges.select(col("src"), col("dst"),
      coalesce(col("w"), lit(1.0)).as("w")))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var (dist, n0) = matCounted(nodes.select(col("id"),
      when(col("id") === source, lit(0.0)).otherwise(lit(null).cast("double")).as("dist")))
    // The state size comes from the init checkpoint's own metric row
    // (see matCounted), and the hub plan is LAZY: a loop whose rounds
    // all broadcast the state never reads it, so it never pays the
    // degree aggregation + probe job (see stateIsSmall).
    lazy val salt = saltPlan(e, knownMaxDeg = knownMaxDeg)
    val small = stateIsSmall(dist, n0)
    var changing = true
    lastRoundsRun.set(0)
    for (_ <- 1 to rounds(dist, iters) if changing) {
      val frontier =
        if (small || salt.isEmpty)
          e.join(maybeBcast(dist, small), e("src") === dist("id"))
            .filter(col("dist").isNotNull)
        else {
          // Shuffle path with hub salting: reached state fans out over
          // its vertices' salt sub-keys, edges carry a precomputed
          // (src, __salt) — the hub's relaxation work spreads across
          // __ns tasks instead of serializing on one key.
          val (ns, eS) = salt.get
          val stS = fanOutState(dist.filter(col("dist").isNotNull), ns)
          eS.join(stS, eS("src") === stS("id") && eS("__salt") === stS("__sl"))
        }
      val relaxed = frontier
        .groupBy(col("dst").as("id")).agg(min(col("dist") + col("w")).as("reach"))
      // __chg: this round strictly improved the row (first reach or a
      // shorter path) — no row with __chg anywhere ⟹ fixed point.
      val (upd, chg, _) = matChanged(
        dist.join(maybeBcast(relaxed, small), Seq("id"), "left")
          .select(col("id"), least(col("dist"), col("reach")).as("dist"),
            coalesce(col("reach") < col("dist"),
              col("dist").isNull && col("reach").isNotNull).as("__chg")))
      lastRoundsRun.incrementAndGet()
      changing = chg
      dist = upd
    }
    dist
  }

  /** Sampled-source Brandes betweenness dependencies (Brandes 2001;
    * Brandes-Pich 2007 pivot sampling — the estimator scales by source
    * COUNT, not graph size, exactly like the landmark harmonic
    * centrality next to it). One composite-key (s0, id) BSP job for all
    * sources:
    *
    *  - FORWARD, level-synchronous unweighted BFS accumulating σ(s, v)
    *    (shortest-path counts): level-k vertices are first reached at
    *    round k, σ = Σ of predecessor σ over same-round discoveries —
    *    an equi-join + sum per round, new vertices found by anti-join
    *    (each vertex enters the state exactly once, so state is
    *    monotone and O(sources × reached) like the six-degrees runs).
    *    σ is exact DECIMAL(38,0): path counts multiply through hubs
    *    and overflow int64 within a few levels at power-law degrees.
    *  - BACKWARD, the dependency recurrence δ(s,v) = Σ_{v→w, d(w)=d(v)+1}
    *    (σv/σw)·(1+δw) processed one level per round from the deepest:
    *    in an unweighted BFS DAG every shortest-path edge spans exactly
    *    one level, so each level's δ closes in a single join against the
    *    level above. Per-term DECIMAL(28,15) casts make every δ sum
    *    order-independent (the engines replay identical doubles).
    *
    * Returns the per-source dependency frame (s0, id, dist, delta) —
    * betweenness is the caller's Σ_s δ(s, v) over v ≠ s. Rounds clamp
    * under [[PlanOnlyConf]] like every loop here.
    *
    * `knownDists` (r13, guide §2.4 — remove work): a precomputed
    * multi-source BFS frame (s0, id, dist) over the SAME sources, edges
    * and ≥ `iters` unweighted rounds (GraphPack passes its warmed
    * landmark run). The forward σ-counting BFS then needs no discovery
    * state of its own: level-k membership is exactly {(s0,id) :
    * dist = k} (a vertex is first reached at round k iff its hop
    * distance is k), so the per-round anti-join against a growing
    * `seen` union becomes a semi-join against a filter of the given
    * frame, σ sums run over the identical predecessor rows
    * (bit-identical decimals), and the forward recurrence turns LINEAR
    * (each level references only the level below). With the chain
    * linear, level frames are lazy persists instead of eager per-round
    * checkpoints and the whole forward+backward DAG executes as ONE
    * job (profiled at sf0.1: the eager form was latency-bound — ~40
    * dependent stages of 100-900 ms wall for 87 s of task time, 2.7 s
    * of ideal 32-core work). */
  def betweennessDeltas(edges: DataFrame, sources: Seq[Long], iters: Int,
      knownDists: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // The checkpointed edge list re-exchanges per level join (2·levels
    // ~110 MB shuffle writes at sf1) — MEASURED alternative: two
    // key-sorted persisted copies (src-keyed forward, dst-keyed
    // backward) removed 9 of the 11 edge shuffles but cost MORE wall
    // (+1.8 s at sf1): the level-state side is tiny, so AQE already
    // replans each level join as a broadcast with a local shuffle read
    // of the edge side — the exchanges being "saved" were never paid as
    // sorts, while the sorted fills are. Keep the bare checkpoint and
    // let AQE do per-level runtime replanning.
    val e = mat(edges.select(col("src"), col("dst")))
    // Per-LEVEL frames, each (s0, id, sigma) mat'ed once — a vertex
    // enters exactly one level, so the full state is a flat union of
    // the level frames and no round ever re-checkpoints earlier levels
    // (the growing-state loops above rewrite O(rounds × state); here
    // checkpoint volume is O(state) total).
    val released = scala.collection.mutable.Buffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame =
      knownDists match {
        case Some(_) => val p = df.persist(); released += p; p
        case None    => mat(df)
      }
    var levs = Vector(keep(sources.toDF("s0").select(col("s0"),
      col("s0").as("id"), lit(1L).cast("decimal(38,0)").as("sigma"))))
    val n = rounds(levs.head, iters)
    // EXACT per-level sizes from the given distances (r14): one tiny
    // aggregate over the warmed cache (≤ iters+1 rows to the driver).
    // Level frames and membership filters are slices of the known
    // distance partition, so their row counts are knowable BEFORE any
    // level computes — the same measured-size broadcast discipline as
    // the BSP loops (localCheckpoint/persist lineage hides sizes from
    // the planner's estimates; AQE only converts to broadcast at
    // runtime AFTER the edge side's exchange map output is written,
    // ~10 MB × 2 joins × levels at sf0.1). A level within the
    // broadcast limit gets an explicit hint: the level joins then plan
    // as BroadcastHashJoin over the edge checkpoint scan directly — no
    // edge exchange at all. Levels past the limit (the 1B-vertex
    // shape) stay unhinted and AQE decides as before; plan-only skips
    // the probe (no actions) and keeps the unhinted shape.
    val lvlSized = knownDists.isDefined && !planOnly(e)
    val lvlSizes: Map[Int, Long] =
      if (!lvlSized) Map.empty
      else knownDists.get.groupBy(col("dist")).count().collect()
        .map(r => r.getDouble(0).toInt -> r.getLong(1)).toMap
    def lvlBcast(df: DataFrame, k: Int): DataFrame =
      if (lvlSized && lvlSizes.getOrElse(k, 0L) <= bcastLimit(df)) broadcast(df)
      else df
    // Running discovered-vertex union, replaced (not re-derived) each
    // round: the anti-join probe at round k reads ONE cached frame of
    // |seen_k| rows instead of a k-way union over every level frame —
    // O(state) probe input per round and a constant number of stage
    // inputs, where the re-union form's plan width grew with k.
    // Superseded unions are released once the next one is materialized
    // by the level checkpoint that consumes it. (Discovery state exists
    // only on the self-discovering path — with knownDists the level
    // membership is a filter of the given frame and `seen` never
    // exists.)
    var seen: DataFrame =
      if (knownDists.isEmpty) levs.head.select(col("s0"), col("id")).persist()
      else null
    for (k <- 1 to n) {
      val prev = levs(k - 1)
        .select(col("s0"), col("id").as("pid"), col("sigma").as("psig"))
      def cand = e.join(prev, e("src") === prev("pid"))
        .groupBy(col("s0"), col("dst").as("id"))
        .agg(sum(col("psig")).cast("decimal(38,0)").as("sigma"))
      val lev = knownDists match {
        case Some(dists) =>
          // First-discovered-at-round-k ⟺ hop distance k: semi-join
          // the candidate sums with the known level membership — the
          // same row set, the same decimal sums, no growing state.
          // When the level fits the broadcast limit, the membership
          // semi-join moves BELOW the σ aggregation (r14): the
          // aggregation then only folds candidate rows whose head is
          // actually at level k — the discarded groups (edges from
          // level k−1 into already-seen vertices, most of the
          // candidate volume on a dense graph) never pay the exact-
          // decimal partial sum or its exchange. Whole groups are kept
          // or discarded identically either side of the aggregation
          // (the semi key IS the group key), so surviving sums fold
          // the same rows — bit-identical.
          val memK = dists.filter(col("dist") === lit(k.toDouble))
            .select(col("s0").as("ms0"), col("id").as("mid"))
          if (lvlSized && lvlSizes.getOrElse(k, 0L) <= bcastLimit(e))
            keep(e.join(lvlBcast(prev, k - 1), e("src") === prev("pid"))
              .join(broadcast(memK),
                col("s0") === col("ms0") && e("dst") === col("mid"),
                "left_semi")
              .groupBy(col("s0"), col("dst").as("id"))
              .agg(sum(col("psig")).cast("decimal(38,0)").as("sigma")))
          else
            keep(cand.join(memK,
              col("s0") === col("ms0") && col("id") === col("mid"),
              "left_semi"))
        case None =>
          mat(cand.join(seen, Seq("s0", "id"), "left_anti"))
      }
      levs = levs :+ lev
      if (knownDists.isEmpty && k < n) {
        val grown = seen.unionByName(lev.select(col("s0"), col("id"))).persist()
        released += seen
        seen = grown
      }
    }
    if (seen != null) released += seen
    // The backward sweep references each level frame TWICE (as the
    // upper level's v-side and as the base of its own δ join), so the
    // levels it reads must be plan-truncated or the analyzed tree blows
    // up combinatorially. The self-discovering path checkpointed each
    // level eagerly (6 jobs); the knownDists path materializes ALL
    // levels in ONE job — a union of the lazy linear forward chain,
    // checkpointed once — and hands the sweep per-level filter slices
    // of that LogicalRDD (measured at sf0.1: lazy levels fed straight
    // into the sweep re-planned the deep trees and ran 17.9 s; the
    // union checkpoint keeps the forward pass one job AND the sweep's
    // inputs one-node plans).
    val levSlices: Int => DataFrame = knownDists match {
      case Some(_) =>
        val all = mat(levs.zipWithIndex.map { case (l, k) =>
          l.withColumn("__lvl", lit(k)) }.reduce(_ unionByName _))
        released.foreach(_.unpersist(false)); released.clear()
        k => all.filter(col("__lvl") === k).drop("__lvl")
      case None => k => levs(k)
    }
    // Backward sweep, one level per step from the deepest. Each level
    // frame references the one above it exactly ONCE, so the plan depth
    // is linear — lazy persist (not checkpoint) is enough: the final
    // action computes every level once and reuses the cached blocks.
    var del = levSlices(n).select(col("s0"), col("id"), col("sigma"),
      lit(0.0).as("delta")).persist()
    released += del
    var acc = del.withColumn("dist", lit(n))
    for (k <- (n - 1) to 0 by -1) {
      val wside = del.select(col("s0").as("ws0"), col("id").as("wid"),
        col("sigma").as("sw"), col("delta").as("dw"))
      val vside = levSlices(k)
        .select(col("s0").as("vs0"), col("id").as("vid"), col("sigma").as("sv"))
      // Level sides hinted by their known exact sizes (see lvlBcast):
      // both joins then build hash relations over the level frames and
      // stream the edge checkpoint once per level with NO edge
      // exchange. terms output is ≤ the level-k row count (one group
      // per level-k vertex with successors), so it gets the same hint —
      // the δ-merge left join below then probes it broadcast too.
      val terms = e.join(lvlBcast(wside, k + 1), e("dst") === wside("wid"))
        .join(lvlBcast(vside, k), e("src") === col("vid") && col("vs0") === col("ws0"))
        .groupBy(col("vs0").as("s0"), col("vid").as("id"))
        .agg(sum(((col("sv").cast("double") / col("sw").cast("double")) *
            (lit(1.0) + col("dw"))).cast("decimal(28,15)"))
          .cast("double").as("dsum"))
      del = levSlices(k).select(col("s0"), col("id"), col("sigma"))
        .join(lvlBcast(terms, k), Seq("s0", "id"), "left")
        .select(col("s0"), col("id"), col("sigma"),
          coalesce(col("dsum"), lit(0.0)).as("delta"))
        .persist()
      released += del
      acc = acc.unionByName(del.withColumn("dist", lit(k)))
    }
    // Materialize the result, then release every persisted per-level /
    // per-step frame — repeated invocations in one session otherwise
    // accumulate cached blocks with no release path (the mat'ed level
    // frames are localCheckpoint blocks, freed by the ContextCleaner
    // when their RDDs go out of scope, same as every BSP loop here).
    val out = mat(acc.select(col("s0"), col("id"), col("dist"), col("delta")))
    released.foreach(_.unpersist(false))
    out
  }

  /** One-to-many batch shortest paths from MULTIPLE sources in one BSP
    * run — the reference's 100k-pair six-degrees experiment shape
    * (ref bfs.py:119-147, analysis_service.py:223-263: group pairs by
    * source, one multi-target Dijkstra per source, process pool). Here
    * the state is the REACHED set of (s0, id, dist) triples — sparse in
    * early rounds and never nodes×sources — and all sources advance in
    * the same synchronous rounds: one job, no driver loop, no pool.
    * Input: weighted edges (src, dst, w). Returns (s0, id, dist). */
  def multiSourceShortestPaths(edges: DataFrame, sources: Seq[Long], iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = mat(edges.select(col("src"), col("dst"),
      coalesce(col("w"), lit(1.0)).as("w")))
    var dist = mat(sources.toDF("s0")
      .select(col("s0"), col("s0").as("id"), lit(0.0).as("dist")))
    // State size, carried between rounds by the checkpoint's own metric
    // row (see matChanged) — the initial state is one row per source, a
    // driver-side fact. Saves one count() job per round.
    var nState = sources.size.toLong
    // Lazy: built on the first round whose state outgrows the broadcast
    // limit, never on a run that stays small (see shortestPaths).
    lazy val salt = saltPlan(e, knownMaxDeg = knownMaxDeg)
    var changing = true
    lastRoundsRun.set(0)
    for (_ <- 1 to rounds(dist, iters) if changing) {
      // State grows round over round (up to sources × reached) — re-check
      // the carried size each round before choosing broadcast.
      val small = stateIsSmall(dist, nState)
      val frontier =
        if (small || salt.isEmpty)
          e.join(maybeBcast(dist, small), e("src") === dist("id"))
        else {
          // Shuffle path with hub salting — see shortestPaths.
          val (ns, eS) = salt.get
          val stS = fanOutState(dist, ns)
          eS.join(stS, eS("src") === stS("id") && eS("__salt") === stS("__sl"))
        }
      val relaxed = frontier
        .groupBy(col("s0"), col("dst").as("id"))
        .agg(min(col("dist") + col("w")).as("reach"))
      // __chg: a newly reached (s0, id) (full-join right side) or a
      // strictly shorter path — see stillChanging. Rows never leave the
      // state, so "no row changed" ⟹ the multiset is the fixed point.
      val (upd, chg, n) = matChanged(
        dist.join(relaxed, Seq("s0", "id"), "full")
          .select(col("s0"), col("id"), least(col("dist"), col("reach")).as("dist"),
            coalesce(col("reach") < col("dist"),
              col("dist").isNull && col("reach").isNotNull).as("__chg")))
      lastRoundsRun.incrementAndGet()
      changing = chg
      dist = upd
      if (n >= 0) nState = n
    }
    dist
  }

  /** Fixed-round SSSP with PREDECESSOR tracking — the path-recovery form
    * (SURVEY §7.4 risk 1: Pregel gives distances cheaply, paths need a
    * predecessor per vertex, reconstructed by ≤ iters backward joins).
    * Tie-breaks are fully deterministic: each round's best relaxation per
    * vertex is chosen by (new-dist, pred-id) lexicographic order, and an
    * equal-distance rediscovery never replaces the incumbent (strict <),
    * so both engines converge to the identical predecessor forest.
    * Returns (id, dist, pred); pred is null for the source/unreached. */
  def shortestPathsWithPred(edges: DataFrame, source: Long, iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val e = mat(edges.select(col("src"), col("dst"),
      coalesce(col("w"), lit(1.0)).as("w")))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var (st, n0) = matCounted(nodes.select(col("id"),
      when(col("id") === source, lit(0.0)).otherwise(lit(null).cast("double")).as("dist"),
      lit(null).cast("long").as("pred")))
    // Counted init checkpoint + lazy hub plan — see shortestPaths.
    lazy val salt = saltPlan(e, knownMaxDeg = knownMaxDeg)
    val small = stateIsSmall(st, n0)
    var changing = true
    lastRoundsRun.set(0)
    for (_ <- 1 to rounds(st, iters) if changing) {
      // Lexicographic min over (nd, pred) as a struct-min hash aggregate:
      // same deterministic tie-break as a (nd, pred) sort-window, but with
      // map-side partial aggregation and no per-partition sort.
      val frontier =
        if (small || salt.isEmpty)
          e.join(maybeBcast(st, small), e("src") === st("id"))
            .filter(col("dist").isNotNull)
        else {
          // Shuffle path with hub salting — see shortestPaths.
          val (ns, eS) = salt.get
          val stS = fanOutState(st.filter(col("dist").isNotNull), ns)
          eS.join(stS, eS("src") === stS("id") && eS("__salt") === stS("__sl"))
        }
      val cand = frontier
        .select(col("dst").as("id"),
          struct((col("dist") + col("w")).as("nd"),
            col("src").as("cand_pred")).as("c"))
        .groupBy(col("id")).agg(min(col("c")).as("c"))
        .select(col("id"), col("c.nd").as("nd"), col("c.cand_pred").as("cand_pred"))
      val better = col("nd").isNotNull && (col("dist").isNull || col("nd") < col("dist"))
      // __chg: the strict-improvement predicate itself (an equal-dist
      // rediscovery never replaces the incumbent, so `better` false
      // everywhere ⟹ dist AND pred both at their fixed point).
      val (upd, chg, _) = matChanged(
        st.join(maybeBcast(cand, small), Seq("id"), "left")
          .select(col("id"),
            when(better, col("nd")).otherwise(col("dist")).as("dist"),
            when(better, col("cand_pred")).otherwise(col("pred")).as("pred"),
            coalesce(better, lit(false)).as("__chg")))
      lastRoundsRun.incrementAndGet()
      changing = chg
      st = upd
    }
    st
  }

  /** Fixed-round min-label propagation connected components over a
    * SYMMETRIC edge list (src, dst): comp0 = id; each round every vertex
    * takes the min of its own label and its neighbors' labels. After
    * `iters` rounds labels are exact for components of diameter <= iters
    * (fixed-round semantics, same discipline as the BFS family — the
    * oracle unrolls the identical recurrence). Returns (id, comp). */
  def connectedComponents(edges: DataFrame, iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val e = mat(edges.select(col("src"), col("dst")))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var (comp, n0) = matCounted(nodes.select(col("id"), col("id").as("comp")))
    // Counted init checkpoint + lazy hub plan — see shortestPaths.
    lazy val salt = saltPlan(e, knownMaxDeg = knownMaxDeg)
    val small = stateIsSmall(comp, n0)
    var changing = true
    lastRoundsRun.set(0)
    for (_ <- 1 to rounds(comp, iters) if changing) {
      val frontier =
        if (small || salt.isEmpty)
          e.join(maybeBcast(comp, small), e("src") === comp("id"))
        else {
          // Shuffle path with hub salting — see shortestPaths.
          val (ns, eS) = salt.get
          eS.join(fanOutState(comp, ns),
            eS("src") === col("id") && eS("__salt") === col("__sl"))
        }
      val better = frontier
        .groupBy(col("dst").as("id")).agg(min(col("comp")).as("ncomp"))
      // __chg: a strictly smaller neighbor label — see stillChanging.
      val (upd, chg, _) = matChanged(
        comp.join(maybeBcast(better, small), Seq("id"), "left")
          .select(col("id"), least(col("comp"), col("ncomp")).as("comp"),
            coalesce(col("ncomp") < col("comp"), lit(false)).as("__chg")))
      lastRoundsRun.incrementAndGet()
      changing = chg
      comp = upd
    }
    comp
  }

  /** Triangle count over a CANONICAL undirected edge list (x < y, one
    * row per edge): each triangle a<b<c is assembled exactly once by the
    * two-join chain (a,b)⋈(b,c)⋈(a,c) — equi-joins only (shuffle on the
    * shared endpoint, then on the closing pair), never an all-pairs
    * product, and the repeated edge frame's shuffle is shared via
    * ReusedExchange. Returns one row (n_triangles). GraphSpec pins
    * agreement with GraphX's TriangleCount on micro graphs. */
  def triangleCount(pairs: DataFrame): DataFrame =
    pairs.as("e1")
      .join(pairs.as("e2"), col("e1.y") === col("e2.x"))
      .join(pairs.as("e3"),
        col("e3.x") === col("e1.x") && col("e3.y") === col("e2.y"))
      .agg(count(lit(1)).as("n_triangles"))

  /** Fixed-round synchronous label propagation (community detection)
    * over a SYMMETRIC edge list: every vertex starts as its own label;
    * each round every vertex adopts the most frequent label among its
    * neighbors (ties broken by the SMALLEST label — a total,
    * engine-agnostic order; plain LPA's random tie-break is what makes
    * it non-reproducible). Isolated-in-round vertices keep their label.
    * Fixed rounds, same BSP discipline as the rest of the family; the
    * oracle unrolls the identical recurrence. Returns (id, lbl). */
  def labelPropagation(edges: DataFrame, iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val e = mat(edges.select(col("src"), col("dst")))
    val nodes = e.select(col("src").as("id")).distinct()
    var lbl = mat(nodes.select(col("id"), col("id").as("lbl")))
    val salt = saltPlan(e, knownMaxDeg = knownMaxDeg)
    var changing = true
    lastRoundsRun.set(0)
    for (_ <- 1 to rounds(lbl, iters) if changing) {
      // argmax by (count desc, label asc) as a struct-max hash aggregate:
      // map-side combinable, no per-vertex sort window.
      val frontier =
        if (salt.isEmpty) e.join(lbl, e("src") === lbl("id"))
        else {
          // LPA always shuffles (no broadcast leg) — salt hubs the same
          // way as the BFS relaxation join.
          val (ns, eS) = salt.get
          eS.join(fanOutState(lbl, ns),
            eS("src") === col("id") && eS("__salt") === col("__sl"))
        }
      val best = frontier
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("n"))
        .select(col("dst").as("id"),
          struct(col("n"), (-col("lbl")).as("neg")).as("c"))
        .groupBy(col("id")).agg(max(col("c")).as("c"))
        .select(col("id"), (-col("c.neg")).as("nlbl"))
      // __chg: the most-frequent neighbor label differs from the current
      // one. LPA may oscillate forever (then every round runs, as
      // before); a pointwise-identical round is still a true fixed point
      // of the deterministic update — see stillChanging.
      val (upd, chg, _) = matChanged(
        lbl.join(best, Seq("id"), "left")
          .select(col("id"), coalesce(col("nlbl"), col("lbl")).as("lbl"),
            coalesce(col("nlbl") =!= col("lbl"), lit(false)).as("__chg")))
      lastRoundsRun.incrementAndGet()
      changing = chg
      lbl = upd
    }
    lbl
  }

  /** Fixed-round k-core peel over a SYMMETRIC edge list (src, dst): each
    * round drops every vertex of degree < k and its incident edges.
    * After `iters` rounds the survivors are the exact k-core when a round
    * reaches a fixed point (peeling cascades at most `iters` deep
    * otherwise — same fixed-round semantics as the BFS family; the
    * oracle unrolls the identical recurrence). Returns the surviving
    * symmetric edges. Each round is one hash aggregation + two semi
    * joins on the vertex key — shuffle-bounded by the shrinking edge
    * list, nothing global. */
  def kcore(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    var e = mat(edges.select(col("src"), col("dst")))
    // Fixed-point early exit (see [[matChanged]]): the state here is the
    // edge list itself and rounds only REMOVE rows, so a row count
    // unchanged from the previous round ⟺ no vertex was peeled ⟹ every
    // later round is the identity. The count is collected by observe()
    // on the round's own checkpoint job — no probe job, no upfront
    // count (a loop already converged at round 1 pays one confirming
    // round, same as the flag-carrying loops).
    var prevN = -1L
    var changing = true
    lastRoundsRun.set(0)
    for (_ <- 1 to rounds(e, iters) if changing) {
      // Undirected degree = out-degree on the symmetric list.
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("src").as("v"))
      val next = e.join(keep.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
      if (planOnly(e)) e = mat(next)
      else {
        // Named observe, not Observation() — see matChanged (the helper
        // instantiates the session's non-serializable ObservationManager).
        val observed = next.observe("__graft_n", count(lit(1)).as("n"))
        e = mat(observed)
        val row = observed.queryExecution.observedMetrics.get("__graft_n")
        require(row.isDefined,
          "kcore: the round checkpoint posted no __graft_n row count")
        val n = row.get.getAs[Any]("n").asInstanceOf[Number].longValue
        changing = n != prevN
        prevN = n
      }
      lastRoundsRun.incrementAndGet()
    }
    e
  }

  /** Local clustering coefficient per vertex over a CANONICAL undirected
    * edge list (x < y): lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for
    * deg ≥ 2. Triangles come from [[triangleCount]]'s two-join chain —
    * each canonical triangle credits its three corners via one explode,
    * so the whole operator is equi-joins + hash aggregates (no per-corner
    * re-join, no all-pairs product). Returns (v, deg, n_tri, lcc). */
  def localClusteringCoeff(pairs: DataFrame): DataFrame = {
    val tri = pairs.as("e1")
      .join(pairs.as("e2"), col("e1.y") === col("e2.x"))
      .join(pairs.as("e3"),
        col("e3.x") === col("e1.x") && col("e3.y") === col("e2.y"))
      .select(col("e1.x").as("a"), col("e1.y").as("b"), col("e2.y").as("c"))
    val perV = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    val deg = pairs.select(col("x").as("v"))
      .union(pairs.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(perV, Seq("v"), "left")
      .select(col("v"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("deg") * (col("deg") - 1)), 6).as("lcc"))
  }

  /** Undirected total degree per vertex. Ref data_processor.py:83-93. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
}
