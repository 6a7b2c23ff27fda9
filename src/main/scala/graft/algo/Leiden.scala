package graft.algo

import graft.util.Ckpt
import graft.util.Ckpt.DFCkpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{EdgeOps, LocalGraph}
import graft.run.{IterMetric, MetricsSink}
import scala.collection.mutable

/** Leiden community detection, Spark-native.
  *
  * Re-expresses the reference's HIT-Leiden engine
  * (/root/reference/src/core/algorithm/hit_leiden.rs) in its *throughput
  * mode* semantics (/root/reference/src/core/algorithm/throughput.rs:62-166):
  * every superstep evaluates all active vertices against a stale snapshot
  * of assignments/degrees and applies the moves at a barrier. That is
  * exactly Spark's BSP execution model — the rayon barrier becomes the
  * shuffle, the per-thread accumulation buffers become Catalyst hash
  * aggregation, and the atomic frontier bitsets become frontier DataFrames.
  *
  * Phases per level (paper Algorithm 6, reference hit_leiden.rs:85-151):
  *   1. movement   — modularity-ascent local moves over an active frontier
  *                   (gain formula from hit_leiden.rs:250-255);
  *   2. refinement — split disconnected subcommunities (BFS -> distributed
  *                   hash-min CC, hit_leiden.rs:296-371) then merge
  *                   singleton subcommunities within their community by the
  *                   same gain (hit_leiden.rs:417-482, throughput variant
  *                   throughput.rs:168-259);
  *   3. aggregation — contract subcommunities into supervertices
  *                   (group-sum; the reference's delta-form lives in
  *                   [[graft.algo.Incremental]]).
  *
  * Documented divergences from the reference (all within its own
  * throughput-mode equivalence policy of quality delta <= 0.001,
  * /root/reference/src/core/validation/equivalence.rs:21-27):
  *   - subcommunity ids on CC split follow the reference exactly: the
  *     largest component keeps the old id (stability across updates,
  *     hit_leiden.rs:352-370), the others take counter ids allocated
  *     above the caller's id watermark (Incremental.State.maxId). With
  *     full-range 64-bit hashed vertex ids the watermark should start
  *     from a masked id space (e.g. 62-bit ingest hashes) so the counter
  *     has headroom — documented in source.Ingest.
  *   - singleton merges run as BSP rounds to a fixpoint instead of one
  *     stale pass; a merge into another *singleton* is only allowed toward
  *     the smaller subcommunity id, which breaks A<->B swap cycles that the
  *     reference's stale pass can produce, and guarantees progress.
  *   - movement supersteps are capped (cfg.maxSweeps); the reference's
  *     `while any active` loop (hit_leiden.rs:202) has no cap and can
  *     oscillate under stale snapshots.
  *   - movement gates only movers that would REVERT to the community
  *     they sat in before the previous barrier — the signature of every
  *     period-2 oscillation under stale snapshots (pairwise A<->B swaps
  *     and density-driven toggles alike): reverting movers apply only on
  *     a sweep-salted deterministic hash parity, all other positive-gain
  *     moves apply immediately. Deterministic, parallelism-independent,
  *     and the sweep salt breaks a surviving cycle within a few sweeps.
  */
object Leiden {

  final case class Config(
      gamma: Double = 1.0,
      maxLevels: Int = 10,
      maxSweeps: Int = 40,
      maxRefineRounds: Int = 5,
      eps: Double = 1e-9,
      /** adjacency partition count; 0 = the session's shuffle partitions */
      numPartitions: Int = 0,
      /** quality function: false = modularity (reference gain,
        * hit_leiden.rs:250-255), true = CPM (paper Def. 1) — the gain uses
        * community sizes (in base vertices) instead of degrees */
      useCpm: Boolean = false,
      /** explicit hot-key salting for the gather join: vertices whose
        * degree exceeds hotDegree are joined via saltFactor sub-keys
        * (two-stage aggregation). 0/1 = off; AQE skew-join handles
        * sort-merge skew, but the gather is a shuffled-hash join, which
        * AQE does not split. */
      saltFactor: Int = 0,
      hotDegree: Double = 1e6,
      /** once a level's edge count is at or below this, collect it and
        * finish the hierarchy with the sequential deterministic solver
        * ([[LocalLeiden]]) — after one or two contractions a 100 TB
        * graph's supergraph has a few thousand vertices, and driving
        * dozens of fixed-cost distributed jobs against it is pure
        * overhead. The collect goes through [[graft.graph.LocalGraph]],
        * so it must also fit the driver byte budget; a 100 TB graph's
        * contractions stay distributed until they shrink under both.
        * 0 disables. */
      localSolveEdges: Long = 3000000,
      /** never local-solve below this level (level 0 = the base graph
        * stays distributed regardless of size). */
      localSolveMinLevel: Int = 1,
      /** level-0 escape hatch below localSolveMinLevel: when > 0, a BASE
        * graph with at most this many VERTICES (and <= localSolveEdges
        * edges, through the same [[graft.graph.LocalGraph]] gate) is
        * collected and solved sequentially too — a graph this
        * small pays dozens of fixed-cost distributed BSP sweeps for work
        * a single core clears in seconds, while level 0 of any real
        * web-scale graph stays distributed (it can't pass the bound).
        * Off by default so tests/benchmarks of the distributed path keep
        * exercising it; callers that want the small-graph fast path (the
        * driver queries) opt in explicitly. */
      localSolveLevel0Verts: Long = 0,
      /** movement/refinement stop once a sweep's total applied gain (in
        * modularity units; scaled by m for CPM) falls below this — the
        * long tail of epsilon-gain churn costs a fixed-overhead Spark job
        * per sweep and contributes nothing against the reference's own
        * 0.001 quality-equivalence policy (equivalence.rs:21-27). */
      minSweepGain: Double = 1e-4)

  private[algo] def parts(df: DataFrame, cfg: Config): Int =
    if (cfg.numPartitions > 0) cfg.numPartitions
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** @param assignment (v LONG, community LONG) for every input vertex
    * @param modularity final quality at gamma: modularity, or CPM when
    *   cfg.useCpm (real scoring — the reference emits a placeholder 1.0,
    *   hit_leiden.rs:69-75)
    * @param canon the materialized (ckpt'd) level-0 canonical edge table
    *   run() already built — exposed so callers scoring baselines
    *   (q_leiden's singleton self-check) don't pay a second full
    *   compress of the input
    * @param singletonQ the all-singleton modularity baseline, computed
    *   for free (driver arithmetic over the already-collected edges)
    *   when the level-0 local-solve path ran with modularity quality;
    *   None otherwise — callers fall back to
    *   Quality.singletonModularity(canon)
    * @param m total edge weight of `canon`
    * @param level0 the collected level-0 graph and its solved partition
    *   (v -> community) when the level-0 local solve ran; None otherwise
    */
  final case class Result(
      assignment: DataFrame,
      levels: Int,
      modularity: Double,
      communityCount: Long,
      sweepsPerLevel: Seq[Int],
      canon: DataFrame,
      m: Double,
      singletonQ: Option[Double] = None,
      level0: Option[(LocalGraph, Map[Long, Long])] = None)

  // ---------------------------------------------------------------------
  // cold start: full Leiden on an edge table
  // ---------------------------------------------------------------------

  /** @param initial optional warm-start partition (v, community); absent
    *   means all-singleton (the reference's identity state). Vertices not
    *   covered default to their own community.
    * @param initialSizes optional (v, size) node sizes in base vertices —
    *   needed for CPM gains when `edges` is itself a supergraph. */
  def run(edges: DataFrame, cfg: Config = Config(),
      sink: MetricsSink = MetricsSink.discard,
      initial: Option[DataFrame] = None,
      initialSizes: Option[DataFrame] = None): Result = {

    val canon0 = EdgeOps.compress(edges, cfg.eps).ckpt
    val m = EdgeOps.totalWeight(canon0)
    val m2 = 2.0 * m
    // the all-singleton partition: the result of an edgeless graph, and
    // the top assignment until a level solves one
    val singletons = EdgeOps.vertices(canon0).withColumn("community", col("v"))
    if (m2 == 0.0)
      return Result(singletons, 0, 0.0, singletons.count(), Nil, canon0, m,
        Some(0.0))

    var canon = canon0
    // per-level subcommunity mapping (v_level -> subcomm = v_{level+1})
    var mappings = Vector.empty[DataFrame]
    // (v, community) carried into the current level; at level 0 this is
    // the caller's warm-start partition if any
    var carriedComm: Option[DataFrame] =
      initial.map(_.select(col("v"), col("community")).ckpt)
    // (v, size) node sizes in base vertices, None = all ones (level 0)
    var carriedSize: Option[DataFrame] =
      initialSizes.map(_.select(col("v"), col("size")).ckpt)
    var topAssign = singletons
    var sweeps = Vector.empty[Int]
    var level = 0
    var done = false
    // level-0 local-solve capture: the collected graph + the solved map
    // make quality scoring and the community count pure driver
    // arithmetic (no extra Spark jobs) — see the tail of this method
    var level0: Option[(LocalGraph, Map[Long, Long])] = None

    while (!done && level < cfg.maxLevels) {
      // top-of-hierarchy local solve: once the (super)graph is small the
      // sequential deterministic solver finishes the hierarchy in one
      // driver-side call instead of dozens of fixed-cost Spark jobs.
      // Below localSolveMinLevel only the explicit level-0 vertex cap
      // opens the gate.
      val maxVerts =
        if (level >= cfg.localSolveMinLevel) Long.MaxValue
        else cfg.localSolveLevel0Verts
      val local =
        if (cfg.localSolveEdges <= 0 || maxVerts <= 0) None
        else LocalGraph.collect(canon, maxVerts,
          maxEdges = cfg.localSolveEdges)
      if (local.isDefined) {
        val g = local.get
        val szM = carriedSize.map(_.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
        val cmM = carriedComm.map(_.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
        val solved = LocalLeiden.solve(g.es.map(_._1), g.es.map(_._2),
          g.es.map(_._3), szM, cmM, cfg)
        val spark = canon.sparkSession
        import spark.implicits._
        topAssign = solved.toSeq.toDF("v", "community")
        if (level == 0) level0 = Some((g, solved))
        done = true
      } else {
      val adj = EdgeOps.partitionBySrc(EdgeOps.symmetrize(canon),
        parts(canon, cfg)).ckpt
      val deg = EdgeOps.degrees(adj).ckpt
      val verts = EdgeOps.vertices(canon).ckpt
      val nVerts = verts.rows

      // initial partition: carried communities (level>0) or singletons;
      // subcommunities always restart as singletons (state.rs:19-33)
      val init = carriedComm match {
        case Some(cc) => verts.join(cc, Seq("v"), "left")
          .select(col("v"), coalesce(col("community"), col("v")).as("community"),
            col("v").as("subcomm"))
        case None => verts.select(col("v"), col("v").as("community"),
          col("v").as("subcomm"))
      }

      // 1. movement — cold start activates every vertex (hit_leiden.rs:183-186)
      val mv = movement(adj, deg, m2, init.ckpt, verts, cfg, sink, level,
        carriedSize)
      sweeps :+= mv.sweeps

      // 2. refinement — initial run refines everyone (hit_leiden.rs:373-379)
      val ref = refinement(adj, deg, m2, mv.assign, verts, cfg, sink, level,
        isInitial = true, nodeSize = carriedSize)
      val assign = ref.assign.ckpt

      // 3. aggregation: contract subcommunities (pure group-sum; the
      //    reference's compress, hit_leiden.rs:533-546)
      val scOfSrc = assign.select(col("v").as("src"), col("subcomm").as("scu"))
      val scOfDst = assign.select(col("v").as("dst"), col("subcomm").as("scv"))
      val superCanon = canon.join(scOfSrc, "src").join(scOfDst, "dst")
        .select(least(col("scu"), col("scv")).as("src"),
          greatest(col("scu"), col("scv")).as("dst"), col("weight"))
        .groupBy("src", "dst").agg(sum("weight").as("weight"))
        .where(abs(col("weight")) > cfg.eps)
        .ckpt
      val nSuper = assign.select("subcomm").distinct().count()

      topAssign = assign
      if (nSuper == nVerts || level == cfg.maxLevels - 1) {
        done = true
      } else {
        mappings :+= assign.select(col("v"), col("subcomm"))
        // supergraph initial communities = community of the subcommunity
        carriedComm = Some(assign.groupBy(col("subcomm").as("v"))
          .agg(min(col("community")).as("community")).ckpt)
        // supernode size = total base vertices it contains (CPM gain)
        val szCur = carriedSize.getOrElse(
          assign.select(col("v"), lit(1L).as("size")))
        carriedSize = Some(assign.select(col("v"), col("subcomm"))
          .join(szCur, "v")
          .groupBy(col("subcomm").as("v")).agg(sum("size").as("size"))
          .ckpt)
        canon = superCanon
        level += 1
      }
      } // else (distributed level)
    }

    // compose s_0 .. s_{L-1} then the top level's community — the batch
    // form of def_update (hit_leiden.rs:565-599): f_p(v) = f_{p+1}(s_p(v)).
    // With no mappings (single level) the composition is the identity:
    // topAssign IS the final assignment — skip the two no-op joins.
    val finalAssign =
      if (mappings.isEmpty) topAssign.select(col("v"), col("community"))
      else {
        var composed =
          mappings.head.select(col("v"), col("subcomm").as("cur"))
        for (p <- 1 until mappings.length) {
          val mp = mappings(p)
            .select(col("v").as("cur"), col("subcomm").as("next"))
          composed = composed.join(mp, "cur")
            .select(col("v"), col("next").as("cur"))
        }
        composed
          .join(topAssign.select(col("v").as("cur"), col("community")), "cur")
          .select(col("v"), col("community"))
          .ckpt
      }

    level0 match {
      case Some((g, solved)) =>
        // level-0 local solve: the whole graph and partition are already
        // on the driver — score quality (and the singleton baseline, the
        // modularity of v -> v) with the sums Quality would compute, zero
        // extra Spark jobs. The sums are exact for the integer-valued
        // multiplicity weights these graphs carry (order-independent).
        val q =
          if (cfg.useCpm) Quality.cpmFromArrays(g.es, solved, cfg.gamma)
          else Quality.modularityFromArrays(g.es, solved, cfg.gamma)
        val singletonQ =
          if (cfg.useCpm) None
          else Some(Quality.modularityFromArrays(g.es,
            solved.transform((v, _) => v), cfg.gamma))
        Result(finalAssign, level + 1, q, solved.valuesIterator.toSet.size,
          sweeps, canon0, m, singletonQ, level0)
      case None =>
        val (q, nComm) = Quality.score(canon0, finalAssign, cfg.gamma,
          cfg.useCpm)
        Result(finalAssign, level + 1, q, nComm, sweeps, canon0, m)
    }
  }

  // ---------------------------------------------------------------------
  // movement (reference inc_movement, throughput mode)
  // ---------------------------------------------------------------------

  /** @param assign the input assignment itself when nothing moved
    * @param affectedIds K on the driver, when every sweep that added to
    *   it ran driver-local
    * @param affectedScs the distinct subcommunities of `affectedIds`
    */
  final case class MovementOut(assign: DataFrame, changed: DataFrame,
      affected: DataFrame, sweeps: Int, moves: Long,
      affectedIds: Option[Array[Long]] = None,
      affectedScs: Option[Array[Long]] = None)

  /** A level-0 frontier's rows as a caller already holds them on the
    * driver: id (ascending), community, subcommunity and weighted degree
    * (node sizes are all one at level 0). */
  final case class FrontierRows(ids: Array[Long], comm: Array[Long],
      subcomm: Array[Long], deg: Array[Double])

  /** BSP local-move phase. `assign` = (v, community, subcomm);
    * `active0` = (v) frontier. Returns updated assignment, the changed
    * set B, and the refinement-affected set K (both (v) DataFrames).
    *
    * A sweep takes one of two shapes. Once the frontier's exact
    * weighted-degree sum fits the broadcast byte budget (and its size
    * estimate is under a quarter of the vertices, unless `entry` gives
    * its rows), the rest of the phase runs driver-local in
    * [[localMovePhase]]. Every other frontier — the
    * full one of a cold start or a dense re-activation, an estimated one,
    * a hub frontier past the budget — runs the shuffled BSP sweep. A
    * local phase that bails hands its state back to the shuffled sweep.
    *
    * Entry sizes come from known counts where the caller has them
    * ([[Ckpt.known]]: |assign|, |adj|, |active0|); each missing one costs
    * a job. `entry`, the frontier's rows when the caller holds them (the
    * warm batch's driver prologue), gives the frontier's size and degree
    * sum and replaces the local phase's entry collect. A phase that moves
    * nothing returns `assign` itself, not a checkpoint of it.
    */
  def movement(adj: DataFrame, deg: DataFrame, m2: Double, assign: DataFrame,
      active0: DataFrame, cfg: Config, sink: MetricsSink,
      level: Int, nodeSize: Option[DataFrame] = None,
      entry: Option[FrontierRows] = None): MovementOut = {

    val spark = adj.sparkSession
    import spark.implicits._
    // node sizes in base vertices (CPM gain); level 0 = all ones — and
    // when they ARE all ones (no nodeSize given) the size columns are
    // computed as literals/counts instead of joining a V-sized unit table
    // into every sweep's candidate pipeline
    val unitSize = nodeSize.isEmpty
    require(entry.isEmpty || unitSize, "frontier rows carry unit sizes")
    val sz = nodeSize.getOrElse(
      assign.select(col("v"), lit(1L).as("size"))).select("v", "size")
    var a = assign
    // assignment before the last applied barrier — the revert-gating
    // reference point
    var aPrev: Option[DataFrame] = None
    // a counted frontier (a checkpoint, or a driver-side local relation)
    // is used as it stands; any other is materialized once
    val knownN = entry.map(_.ids.length.toLong).orElse(Ckpt.known(active0))
    var active =
      if (knownN.isDefined) active0.select(col("v"))
      else active0.select(col("v")).ckpt
    var changed = Seq.empty[Long].toDF("v")
    var affected = Seq.empty[Long].toDF("v")
    // K kept on the driver too while only local sweeps add to it
    var affectedL: Option[mutable.LongMap[Unit]] =
      Some(mutable.LongMap.empty[Unit])
    val affectedScL = mutable.LongMap.empty[Unit]
    var sweep = 0
    var totalMoves = 0L
    var frontierN = knownN.getOrElse(active.rows)
    // exact weighted-degree sum over the current frontier, or -1 when
    // unknown (lazy large-frontier path). Weighted degree >= adjacency
    // row count (weights >= 1 by construction), so it upper-bounds the
    // rows a frontier broadcast would ship — the hub-safe gate quantity.
    var frontierDegSum: Double = entry.fold(-1.0)(_.deg.sum)
    // the caller's rows describe `active0` against `assign`: only the
    // first sweep may enter the local phase from them
    var entryRows = entry
    if (frontierN == 0) // empty delta activation: nothing to do
      return MovementOut(a, changed, affected, 0, 0L, Some(Array.empty),
        Some(Array.empty))
    val nVerts = a.rows
    val avgDeg = adj.rows.toDouble / math.max(nVerts, 1L)

    // stale snapshot of community degrees and sizes (throughput.rs:62-166),
    // computed from the CURRENT assignment once a distributed sweep needs
    // it and then maintained incrementally from the applied moves
    // (cdeg[old] -= d_v, cdeg[new] += d_v — the reference's sequential
    // bookkeeping at hit_leiden.rs:267-268): a moves-sized job per sweep
    // instead of a full-table aggregation. LAZY (r6): a warm batch whose
    // whole phase runs driver-local sweeps never builds this O(V)
    // join+agg+ckpt at all — the local phase fetches stats for just the
    // frontier-reachable communities (see localMovePhase), which also
    // removes the O(C) entry collect the r5 ADVICE flagged. Rebuilding
    // from the current `a` after a local-phase bail is exact: the
    // maintained value equals the membership sum for the integer-valued
    // weights every ingest path produces.
    var commDeg: Option[DataFrame] = None
    def commDegDf(): DataFrame = commDeg.getOrElse {
      val base = a.join(deg, "v")
      val built = (
        if (unitSize)
          base.groupBy(col("community"))
            .agg(sum("deg").as("cdeg"), count(lit(1)).as("csize"))
        else
          base.join(sz, "v").groupBy(col("community"))
            .agg(sum("deg").as("cdeg"), sum("size").as("csize"))
      ).ckpt
      commDeg = Some(built)
      built
    }

    while (frontierN > 0 && sweep < cfg.maxSweeps) {
      val t0 = System.nanoTime()
      // a delta-sized frontier hands the rest of the phase to the
      // driver-local sweep loop. The `frontierN * avgDeg` ESTIMATE alone
      // is hub-unsafe (one 10^6-degree hub in a 10^3-vertex frontier
      // breaks it by orders of magnitude), so the loop is entered only
      // after the EXACT frontier degree sum fits the byte budget —
      // maintained for free by the local loop, probed with one
      // frontier-filtered map scan of `deg` on a large→small transition.
      // A frontier whose rows the caller holds needs no estimate: its
      // exact sum is known and its rows are already on the driver.
      val estSmall = entryRows.isDefined || (frontierN < nVerts / 4 &&
        frontierN * math.max(avgDeg, 1.0) < 2e6)
      if (estSmall && frontierDegSum < 0)
        frontierDegSum = deg
          .join(broadcast(active), Seq("v"), "left_semi")
          .agg(coalesce(sum("deg"), lit(0)).cast("double")).head.getDouble(0)
      val smallGather = estSmall && graft.util.Bcast.fits(
        math.max(frontierDegSum, 0.0).toLong, bytesPerRow = 32)
      if (smallGather) {
        // exact BSP parity; one delta-sized gather action per sweep.
        // Community stats are fetched per-need inside — no O(C) collect.
        val lp = localMovePhase(spark, adj, a, aPrev, active, entryRows,
          deg, sz, unitSize, m2, nVerts, avgDeg, cfg, sink, level, sweep)
        entryRows = None
        a = lp.a
        aPrev = lp.aPrev
        active = lp.active
        if (lp.changed.nonEmpty)
          changed = changed.unionAll(lp.changed.toSeq.toDF("v"))
        if (lp.affected.nonEmpty)
          affected = affected.unionAll(lp.affected.toSeq.toDF("v"))
        affectedL.foreach(k => lp.affected.foreach(k(_) = ()))
        lp.affectedScs.foreach(affectedScL(_) = ())
        // resumed distributed sweeps rebuild community stats from the
        // post-local-phase assignment (exact for integer weights)
        if (lp.bail) commDeg = None
        totalMoves += lp.movesApplied
        frontierN = lp.frontierN
        frontierDegSum = lp.frontierDegSum
        sweep = lp.sweep
      } else {
        entryRows = None
        // commDeg may carry un-aggregated per-sweep delta rows (see the
        // union below): consumers read the aggregated view — ONE exchange
        // regardless of overlay depth, where a join-chain form paid an
        // exchange per stacked sweep
        lazy val commDegA = commDegDf().groupBy("community")
          .agg(sum("cdeg").as("cdeg"), sum("csize").as("csize"))

        // gather: active vertices' neighbor weights by neighbor community;
        // a full frontier (cold-start first sweep) skips the semi-join.
        // Self-loops are excluded: a supernode's self-loop travels with it,
        // so it cancels out of the move gain — counting it into wCur (as the
        // reference's neighbor loop does, hit_leiden.rs:234-239) freezes
        // movement on aggregated graphs, which the reference never reaches
        // (its public run() is single-level). Self-loops still count in
        // degrees and m, per the modularity convention.
        // frontier semi-join: broadcast the (small) frontier so the big
        // adjacency is filtered map-side, never shuffled
        val act0 =
          if (frontierN >= nVerts) adj
          else if (graft.util.Bcast.fits(frontierN, bytesPerRow = 16))
            adj.join(broadcast(active.withColumnRenamed("v", "src")),
              Seq("src"), "left_semi")
          else adj.join(active.withColumnRenamed("v", "src"), Seq("src"),
            "left_semi")
        val act = act0.where(col("src") =!= col("dst"))
        val aByDst =
          a.select(col("v").as("dst"), col("community").as("nbrComm"))
        val byComm =
          if (cfg.saltFactor > 1) {
            // explicit skew split: hub destinations (degree > hotDegree) are
            // joined through saltFactor sub-keys with the assignment row
            // replicated per salt, then re-aggregated — the shuffled-hash
            // join otherwise sends a hub's entire neighbor list to one task
            val hot = deg.where(col("deg") > cfg.hotDegree)
              .select(col("v").as("dst")).ckpt
            val coldJ = act.join(hot, Seq("dst"), "left_anti")
              .join(aByDst.hint("shuffle_hash"), "dst")
              .select(col("src"), col("nbrComm"), col("weight"))
            val saltVals = array((0 until cfg.saltFactor).map(lit): _*)
            val hotJ = act.join(hot, Seq("dst"), "left_semi")
              .withColumn("salt", pmod(xxhash64(col("src")),
                lit(cfg.saltFactor)))
              .join(aByDst.join(hot, Seq("dst"), "left_semi")
                .withColumn("salt", explode(saltVals)), Seq("dst", "salt"))
              .select(col("src"), col("nbrComm"), col("weight"))
            coldJ.unionAll(hotJ).groupBy(col("src"), col("nbrComm"))
              .agg(sum("weight").as("wTo"))
          } else {
            act.join(aByDst.hint("shuffle_hash"), "dst")
              .groupBy(col("src"), col("nbrComm"))
              .agg(sum("weight").as("wTo"))
          }

        // wCur (weight to own community) via a window over the same src
        // partitioning — no self-join, no duplicated subtree
        val cur = a.select(col("v").as("src"), col("community").as("curComm"))
        val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
        val j = byComm.join(cur, "src")
          .withColumn("wCur",
            sum(when(col("nbrComm") === col("curComm"), col("wTo"))
              .otherwise(lit(0.0))).over(wSrc))

        // modularity gain = (wTo-wCur)/2m + g*d_v*(cdegCur-d_v-cdegCand)/(2m)^2
        // (hit_leiden.rs:250-255); CPM gain = (wTo-wCur) - g*sz_v*(csizeCand
        // - csizeCur + sz_v) (paper Def. 2 with node sizes in base vertices).
        // Stale community stats by construction.
        val gainExpr =
          if (cfg.useCpm)
            (col("wTo") - col("wCur")) - lit(cfg.gamma) * col("szv") *
              (col("csizeCand") - col("csizeCur") + col("szv"))
          else
            (col("wTo") - col("wCur")) / m2 +
              lit(cfg.gamma) * col("dv") *
              (col("cdegCur") - col("dv") - col("cdegCand")) / (m2 * m2)
        val candBase = j.where(col("nbrComm") =!= col("curComm"))
          .join(deg.select(col("v").as("src"), col("deg").as("dv")), "src")
        val candSz =
          if (unitSize) candBase.withColumn("szv", lit(1L))
          else candBase.join(
            sz.select(col("v").as("src"), col("size").as("szv")), "src")
        val cand = candSz
          .join(commDegA.select(col("community").as("curComm"),
            col("cdeg").as("cdegCur"), col("csize").as("csizeCur")), "curComm")
          .join(commDegA.select(col("community").as("nbrComm"),
            col("cdeg").as("cdegCand"), col("csize").as("csizeCand")),
            "nbrComm")
          .withColumn("gain", gainExpr)
          .where(col("gain") > 0)

        // deterministic argmax: best gain, ties to the smallest community id
        // (reference deterministic.rs tie policy). The payload struct
        // carries the mover's degree/size/old community so the community-
        // stat delta below is a pure projection of this table — no joins.
        val want0 = cand.groupBy(col("src").as("v"))
          .agg(max_by(
            struct(col("nbrComm").as("newComm"), col("curComm").as("oldComm"),
              col("dv"), col("szv"), col("gain")),
            struct(col("gain"), negate(col("nbrComm")))).as("m"))
          .select(col("v"), col("m.newComm"), col("m.oldComm"), col("m.dv"),
            col("m.szv"), col("m.gain"))

        // revert-gating (see scaladoc): a mover heading back to the
        // community it sat in BEFORE the previous sweep's barrier is in a
        // period-2 oscillation (pairwise swaps AND density-driven toggles
        // both look exactly like this); it applies only on a sweep-salted
        // hash parity. Everyone else moves immediately. One V-sized join
        // folded into the same job as the gather — no extra action.
        val parity = pmod(xxhash64(col("v"), lit(sweep)), lit(2))
        val wantMoves = (aPrev match {
          case None => want0.withColumn("gated", lit(false))
          case Some(p) =>
            want0.join(p.select(col("v"), col("community").as("prevComm")),
              Seq("v"), "left")
            .withColumn("gated",
              col("prevComm") === col("newComm") && parity === 1)
            .drop("prevComm")
        }).ckpt

        val counts = wantMoves.groupBy(col("gated"))
          .agg(count(lit(1)).as("n"), sum("gain").as("g")).collect()
          .map(r => r.getBoolean(0) -> (r.getLong(1), r.getDouble(2))).toMap
        val nWant = counts.values.map(_._1).sum
        val nMoves = counts.get(false).map(_._1).getOrElse(0L)
        // total gain the applied moves claim under the stale snapshot —
        // approximately the sweep's quality improvement
        val gainApplied = counts.get(false).map(_._2).getOrElse(0.0)
        val gainFloor =
          if (cfg.useCpm) cfg.minSweepGain * (m2 / 2.0) else cfg.minSweepGain
        val moves = wantMoves.where(!col("gated"))
        val gated = wantMoves.where(col("gated")).select("v")

        if (nWant == 0) {
          sink.add(IterMetric("leiden.movement", level, sweep, messages = -1,
            movesAccepted = 0, frontier = frontierN, qualityDelta = 0.0,
            seconds = (System.nanoTime() - t0) / 1e9))
          frontierN = 0
        } else if (nMoves == 0) {
          // everyone gated this sweep; retry them next sweep. gated ⊆
          // current frontier, so a known degree sum stays an upper bound;
          // an unknown (-1) one stays unknown and re-probes
          active = gated.ckpt
          frontierN = nWant
          sink.add(IterMetric("leiden.movement", level, sweep, messages = -1,
            movesAccepted = 0, frontier = frontierN, qualityDelta = 0.0,
            seconds = (System.nanoTime() - t0) / 1e9))
        } else {
          totalMoves += nMoves
          // assignment update as a LAZY overlay: the moves table is
          // already materialized, so consumers re-apply it as a join
          // during their scans; a full O(V) checkpoint rewrite happens
          // only every 4th sweep, which bounds the overlay depth.
          // The broadcast is gated on the APPLIED move count (known —
          // collected above): cold-start first sweeps move a large fraction
          // of all vertices, and an unconditional hint would bypass the
          // autoBroadcast threshold and OOM executors at scale.
          val movesSel = moves.select("v", "newComm")
          val movesJ = graft.util.Bcast.ifFits(movesSel, nMoves,
            bytesPerRow = 32)
          val aNew0 = a.join(movesJ, Seq("v"), "left")
            .select(col("v"),
              coalesce(col("newComm"), col("community")).as("community"),
              col("subcomm"))
          val aNew = if (sweep % 4 == 3) aNew0.ckpt else aNew0

          // incremental community-degree/size update: a pure projection of
          // the applied moves (old community, degree and size ride in the
          // argmax payload — zero joins here). Applied as a UNION of signed
          // delta rows re-aggregated at the consumer (commDegA above), so
          // the stacked form never deepens the exchange count.
          // Materialized every 4th sweep.
          val cdegDelta = moves.select(explode(array(
            struct(col("oldComm").as("community"), negate(col("dv")).as("d"),
              negate(col("szv")).as("s")),
            struct(col("newComm").as("community"), col("dv").as("d"),
              col("szv").as("s")))).as("x"))
            .select(col("x.community"), col("x.d").as("cdeg"),
              col("x.s").as("csize"))
          val cdUpd = commDegDf().select("community", "cdeg", "csize")
            .unionAll(cdegDelta)
          commDeg = Some(
            if (sweep % 4 == 3)
              cdUpd.groupBy("community")
                .agg(sum("cdeg").as("cdeg"), sum("csize").as("csize")).ckpt
            else cdUpd)

          val mvEdges = moves.select(col("v").as("src"), col("newComm"))
            .join(adj, "src")

          // K: mover and neighbor sharing a (pre-move) subcommunity
          // (hit_leiden.rs:274-277)
          val scPairs = mvEdges
            .join(a.select(col("v").as("src"), col("subcomm").as("scu")),
              "src")
            .join(a.select(col("v").as("dst"), col("subcomm").as("scv")),
              "dst")
            .where(col("scu") === col("scv"))
          val newAffected = scPairs.select(explode(array(col("src"), col("dst")))
            .as("v"))

          // accumulate lazily; dedup once at the end (moves/a/adj are all
          // checkpointed, so the union lineage stays shallow)
          changed = changed.unionAll(moves.select("v"))
          affected = affected.unionAll(newAffected)
          affectedL = None
          sink.add(IterMetric("leiden.movement", level, sweep, messages = -1,
            movesAccepted = nMoves, frontier = frontierN,
            qualityDelta = gainApplied,
            seconds = (System.nanoTime() - t0) / 1e9))
          aPrev = Some(a)
          a = aNew

          if (gainApplied < gainFloor && counts.get(true).forall(_._2 < gainFloor)) {
            // epsilon-gain tail: every further sweep costs fixed job
            // overhead for quality movement far inside the reference's
            // 0.001 equivalence band — stop here
            frontierN = 0
          } else if (nMoves * avgDeg >= 0.8 * nVerts) {
            // dense re-activation: the precise next frontier would cover
            // most of the graph anyway — skip the extra job and run the
            // next sweep over everyone (the gather skips its semi-join on
            // a full frontier)
            active = a.select("v")
            frontierN = nVerts
            frontierDegSum = m2 // full frontier: Σdeg = 2m exactly
          } else {
            // next frontier: gated movers plus neighbors of applied movers
            // now in a different community (hit_leiden.rs:270-273). Kept
            // lazy (the gather's semi-join evaluates it in place); the
            // loop runs on a conservative over-estimate and terminates via
            // nWant == 0. The salt path reads `active` twice — only there
            // is a ckpt worth its job.
            val nextActive = mvEdges
              .join(a.select(col("v").as("dst"), col("community").as("dcomm")),
                "dst")
              .where(col("dcomm") =!= col("newComm"))
              .select(col("dst").as("v"))
              .unionAll(gated)
              .distinct()
            active = if (cfg.saltFactor > 1) nextActive.ckpt else nextActive
            val nGated = counts.get(true).map(_._1).getOrElse(0L)
            // exact counts, no artificial floor: a provably-empty next
            // frontier terminates NOW instead of paying one more full
            // gather sweep that discovers nWant == 0 (nMoves > 0 in this
            // branch, so floor the estimate at the movers themselves)
            frontierN = math.max(nMoves, (nMoves * avgDeg).toLong + nGated)
            frontierDegSum = -1.0 // lazy frontier: members unknown
            if (frontierN >= nVerts) {
              // estimate covers the graph: promote to the explicit full
              // frontier so the gather skips its semi-join (same shape as
              // the dense re-activation branch — uncapped on purpose)
              active = a.select("v")
              frontierN = nVerts
              frontierDegSum = m2
            }
          }
        }
        sweep += 1
      }
    }
    // flatten any remaining lazy overlay once on exit; an assignment no
    // sweep changed is handed back as it came
    MovementOut(if (totalMoves == 0) assign else a.ckpt, changed.distinct(),
      affected.distinct(), sweep, totalMoves,
      affectedL.map(_.keysIterator.toArray),
      affectedL.map(_ => affectedScL.keysIterator.toArray))
  }

  /** xxHash64 of one long / one int — bit-identical to Spark's
    * `xxhash64(col, lit)` SQL function (seed chain semantics), so the
    * driver-local sweep loop reproduces the distributed revert-gating
    * parity EXACTLY (pinned by LocalSweepSpec against the expression). */
  private[graft] object Xx {
    private val P1 = 0x9E3779B185EBCA87L
    private val P2 = 0xC2B2AE3D27D4EB4FL
    private val P3 = 0x165667B19E3779F9L
    private val P4 = 0x85EBCA77C2B2AE63L
    private val P5 = 0x27D4EB2F165667C5L
    private def fmix(h0: Long): Long = {
      var h = h0
      h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
      h
    }
    def hashLong(input: Long, seed: Long): Long = {
      var hash = seed + P5 + 8L
      var k1 = input * P2
      k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= P1
      hash ^= k1
      hash = java.lang.Long.rotateLeft(hash, 27) * P1 + P4
      fmix(hash)
    }
    def hashInt(input: Int, seed: Long): Long = {
      var hash = seed + P5 + 4L
      hash ^= (input & 0xFFFFFFFFL) * P1
      hash = java.lang.Long.rotateLeft(hash, 23) * P2 + P3
      fmix(hash)
    }
    /** pmod(xxhash64(v, lit(sweep)), 2) == 1 */
    def gateParity(v: Long, sweep: Int): Boolean = {
      val h = hashInt(sweep, hashLong(v, 42L))
      (((h % 2) + 2) % 2) == 1
    }
  }

  private final case class LocalPhaseOut(a: DataFrame,
      aPrev: Option[DataFrame], active: DataFrame,
      changed: Array[Long], affected: Array[Long], affectedScs: Array[Long],
      frontierN: Long, frontierDegSum: Double, sweep: Int,
      movesApplied: Long, bail: Boolean)

  /** Driver-local movement sweeps — the warm-update hot path.
    *
    * Once the frontier's exact degree sum fits the broadcast budget, the
    * remaining sweeps run on driver-resident primitive-keyed maps with
    * EXACT BSP parity: per sweep every frontier vertex evaluates the
    * same stale snapshot (community map + maintained community stats),
    * the same gain formulas (hit_leiden.rs:250-255 / CPM), the same
    * argmax tie policy (max gain, ties to the smallest community id —
    * the distributed `max_by(struct(gain, -nbrComm))`) and the same
    * sweep-salted revert gating ([[Xx.gateParity]]). Spark work per
    * sweep: at most ONE delta-sized gather action — the adjacency +
    * neighbor attributes of vertices newly activated since the last
    * sweep — instead of the shuffled sweep's joins over the V-sized
    * tables. This is the only sweep shape for frontiers that fit the
    * budget. Bails back to the shuffled sweep on dense re-activation or
    * a frontier outgrowing the byte budget.
    *
    * Spark work of a phase whose first sweep moves nothing: the `attrs`
    * checkpoint, one gather of the frontier's adjacency and one stats
    * fetch for the frontier and its neighbours. The frontier's own rows
    * come from `entry` when the caller holds them, else from one collect.
    * The multi-hop adjacency prefetch runs only after a sweep that
    * applied moves, from the frontier that sweep produced.
    */
  private def localMovePhase(spark: SparkSession, adj: DataFrame,
      a0: DataFrame, aPrev0: Option[DataFrame], active0: DataFrame,
      entry: Option[FrontierRows],
      deg: DataFrame, sz: DataFrame, unitSize: Boolean,
      m2: Double, nVerts: Long, avgDeg: Double, cfg: Config,
      sink: MetricsSink, level: Int, sweep0: Int): LocalPhaseOut = {
    import spark.implicits._

    // the phase-entry vertex table (community, subcomm, degree and size of
    // every vertex with edges), materialized ONCE: the entry read, every
    // gather and every stats fetch probe it instead of each re-joining the
    // lazy assignment and degree overlays
    val attrs = {
      val base = a0.select("v", "community", "subcomm").join(deg, Seq("v"))
      (if (unitSize) base.withColumn("size", lit(1L))
        else base.join(sz, Seq("v")))
        .select("v", "community", "subcomm", "deg", "size").ckpt
    }

    // --- community stats, fetched PER NEED instead of an O(C) entry
    // collect (r5 ADVICE medium): the gain loop only ever reads stats of
    // communities holding a frontier vertex or one of its gathered
    // neighbors, so each sweep tops up the missing ids with one
    // frontier-neighborhood-bounded job (usually only the first sweep and
    // the one after the prefetch fetch).
    // Exactness: every community a local move touches is a gain
    // candidate at move time, hence fetched BEFORE it is touched — so a
    // late fetch always reads an untouched community, whose phase-entry
    // membership sum over `a0` equals its current value. The maintained
    // (entry + per-move delta) value equals the membership sum exactly
    // for integer-valued weights (all ingest paths); the distributed
    // loop's own overlay maintenance makes the identical assumption.
    val cdeg = mutable.LongMap.empty[Double]
    val csize = mutable.LongMap.empty[Double]
    val statsKnown = mutable.LongMap.empty[Unit]
    def ensureStats(need: Iterator[Long]): Unit = {
      val missing = mutable.LongMap.empty[Unit]
      need.foreach(c => if (!statsKnown.contains(c)) missing(c) = ())
      if (missing.isEmpty) return
      val ids = missing.keysIterator.toArray
      val idsDf = broadcast(ids.toSeq.toDF("community"))
      attrs.join(idsDf, Seq("community"), "left_semi")
        .groupBy(col("community"))
        .agg(sum("deg").as("cdeg"), sum("size").as("csize"))
        .collect().foreach { r =>
          cdeg(r.getLong(0)) = r.getDouble(1)
          csize(r.getLong(0)) = r.getAs[Number](2).doubleValue
        }
      // memberless ids (can't occur for live comm values, but harmless):
      // default 0.0 via getOrElse — mark known either way
      ids.foreach(statsKnown(_) = ())
    }

    val comm = mutable.LongMap.empty[Long] // current community (maintained)
    val sc = mutable.LongMap.empty[Long] // subcomm (static this phase)
    val degM = mutable.LongMap.empty[Double]
    val szM = mutable.LongMap.empty[Double]
    // pre-move community of the LAST sweep's movers (revert-gate ref)
    var movedLast = mutable.LongMap.empty[Long]

    var frontier: Array[Long] = entry match {
      case Some(e) =>
        // rows the caller holds: a phase entered on the first sweep, so
        // no vertex has a pre-barrier community to revert to
        require(aPrev0.isEmpty, "frontier rows enter the first sweep only")
        for (i <- e.ids.indices) {
          val v = e.ids(i)
          comm(v) = e.comm(i); sc(v) = e.subcomm(i)
          degM(v) = e.deg(i); szM(v) = 1.0
        }
        e.ids.clone()
      case None =>
        val entryBase = attrs
          .join(broadcast(active0.select("v")), Seq("v"), "left_semi")
        val entryDf = aPrev0 match {
          case None => entryBase.withColumn("prevComm", col("community"))
          case Some(p) => entryBase.join(
            p.select(col("v"), col("community").as("prevComm")), Seq("v"),
            "left")
        }
        entryDf.select("v", "community", "subcomm", "deg", "prevComm",
            "size").collect().map { r =>
          val v = r.getLong(0)
          comm(v) = r.getLong(1); sc(v) = r.getLong(2)
          degM(v) = r.getDouble(3)
          val pc = if (r.isNullAt(4)) r.getLong(1) else r.getLong(4)
          if (pc != r.getLong(1)) movedLast(v) = pc
          szM(v) = r.getAs[Number](5).doubleValue
          v
        }
    }
    java.util.Arrays.sort(frontier)

    // adjacency of collected sources (self-loops excluded, dst-sorted)
    val adjL = mutable.LongMap.empty[Array[(Long, Double)]]
    val aByDst = attrs.select(col("v").as("dst"),
      col("community").as("nbrComm"), col("subcomm").as("scv"),
      col("deg").as("nbrDeg"), col("size").as("nbrSize"))

    // vertices known to carry a self-loop: excluded from adjL (self-loops
    // cancel out of the move gain, as in the distributed gather) but a
    // moving self-loop carrier IS refinement-affected — the distributed
    // scPairs join sees the (v,v) adjacency row with scu==scv trivially
    // and marks v (ADVICE r5 parity fix)
    val selfLoop = mutable.LongMap.empty[Unit]
    def gatherNew(ids: Array[Long]): Unit = {
      if (ids.isEmpty) return
      // the gathered rows fit the byte budget (the frontier degree-sum
      // gate and the prefetch cap): broadcast them, attrs streams
      val idsDf = ids.toSeq.toDF("src")
      val rows = aByDst
        .join(broadcast(adj.join(broadcast(idsDf), Seq("src"), "left_semi")),
          "dst")
        .select("src", "dst", "weight", "nbrComm", "scv", "nbrDeg",
          "nbrSize")
        .collect()
      val bySrc = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Double)]]
      rows.foreach { r =>
        val s = r.getLong(0); val d = r.getLong(1)
        if (s == d) selfLoop(s) = ()
        else {
          bySrc.getOrElseUpdate(s, mutable.ArrayBuffer.empty) +=
            ((d, r.getDouble(2)))
          if (!comm.contains(d)) comm(d) = r.getLong(3)
          if (!sc.contains(d)) sc(d) = r.getLong(4)
          if (!degM.contains(d)) degM(d) = r.getDouble(5)
          if (!szM.contains(d)) szM(d) = r.getAs[Number](6).doubleValue
        }
      }
      ids.foreach { s =>
        adjL(s) = bySrc.get(s).map(_.toArray.sortBy(_._1))
          .getOrElse(Array.empty)
      }
    }

    // multi-hop prefetch, from the frontier a moving sweep produced: each
    // sweep's frontier is neighbors of the previous one, and every gather
    // costs one fixed-latency Spark action no matter how few rows it
    // returns. After each gather every loaded vertex's EXACT degree is
    // known driver-side, so keep expanding hop by hop while the spend cap
    // holds (up to 4 hops): later sweeps then find adjL populated and pay
    // zero Spark jobs. A frontier that still escapes gathers lazily in
    // the sweep loop — purely an optimization, adjacency loads carry no
    // state. Spend cap: the byte budget AND a 32x multiple of the start
    // frontier's degree sum — hop growth in a well-connected graph would
    // otherwise balloon to the whole graph within the absolute budget
    // (~64 B per gathered adjacency row: ids + weight + attrs).
    def prefetch(from: Array[Long], fromDegSum: Double): Unit = {
      val capRows = math.min(graft.util.Bcast.budgetBytes / 64,
        (32.0 * math.max(fromDegSum, 1.0)).toLong)
      var spentRows = 0L
      var hops = 0
      var cand = from.filterNot(adjL.contains)
      var pSum = 0.0
      cand.foreach(pSum += degM(_))
      while (hops < 4 && cand.nonEmpty && spentRows + pSum.toLong <= capRows) {
        gatherNew(cand)
        spentRows += pSum.toLong
        hops += 1
        val next = mutable.LongMap.empty[Unit]
        cand.foreach(v => adjL(v).foreach { case (n, _) =>
          if (!adjL.contains(n)) next(n) = ()
        })
        cand = next.keysIterator.toArray
        pSum = 0.0
        cand.foreach(pSum += degM(_))
      }
    }

    // --- the sweep loop (exact mirror of the distributed body)
    val changedSet = mutable.LongMap.empty[Unit]
    val affectedSet = mutable.LongMap.empty[Unit]
    val allMoves = mutable.LongMap.empty[Long]
    var frontierDegSum = {
      var s = 0.0; frontier.foreach(s += degM(_)); s
    }
    var sweep = sweep0
    var movesApplied = 0L
    var frontierN = frontier.length.toLong
    var bail = false
    var bailFull = false
    var prefetched = false
    // the next sweep fetches stats for every loaded vertex's community:
    // the first sweep (frontier + 1-hop neighbors), and the one after the
    // prefetch
    var fetchAll = true
    val gainFloor =
      if (cfg.useCpm) cfg.minSweepGain * (m2 / 2.0) else cfg.minSweepGain
    val wBy = mutable.LongMap.empty[Double]

    while (frontierN > 0 && sweep < cfg.maxSweeps && !bail) {
      val t0 = System.nanoTime()
      gatherNew(frontier.filterNot(adjL.contains))
      // top up community stats for this sweep's gain candidates (own +
      // neighbor communities); one bounded job when anything is missing.
      // The first sweep, and the one after the prefetch, bulk-fetch the
      // communities of EVERY loaded vertex (a superset of this sweep's
      // needs), so later sweeps — whose frontiers live inside the
      // prefetched neighborhood — almost never fetch again.
      if (fetchAll) {
        fetchAll = false
        ensureStats(comm.valuesIterator)
      }
      ensureStats(frontier.iterator.flatMap(v =>
        Iterator.single(comm(v)) ++ adjL(v).iterator.map(e => comm(e._1))))

      // barrier semantics: compute every wanted move against the
      // sweep-start snapshot, then apply
      val mvV = mutable.ArrayBuffer.empty[Long]
      val mvOld = mutable.ArrayBuffer.empty[Long]
      val mvNew = mutable.ArrayBuffer.empty[Long]
      val mvDv = mutable.ArrayBuffer.empty[Double]
      val mvSz = mutable.ArrayBuffer.empty[Double]
      var gainApplied = 0.0
      var gatedGain = 0.0
      val gated = mutable.ArrayBuffer.empty[Long]
      frontier.foreach { v =>
        val nb = adjL(v)
        if (nb.nonEmpty) {
          wBy.clear()
          nb.foreach { case (n, w) => wBy(comm(n)) = wBy.getOrElse(comm(n), 0.0) + w }
          val cur = comm(v)
          val wCur = wBy.getOrElse(cur, 0.0)
          val dv = degM(v)
          val sv = szM(v)
          var bestC = 0L
          var bestG = 0.0
          var found = false
          wBy.foreach { case (c, wTo) =>
            if (c != cur) {
              val g =
                if (cfg.useCpm)
                  (wTo - wCur) - cfg.gamma * sv *
                    (csize.getOrElse(c, 0.0) - csize.getOrElse(cur, 0.0) + sv)
                else
                  (wTo - wCur) / m2 + cfg.gamma * dv *
                    (cdeg.getOrElse(cur, 0.0) - dv -
                      cdeg.getOrElse(c, 0.0)) / (m2 * m2)
              if (g > 0 && (!found || g > bestG ||
                  (g == bestG && c < bestC))) {
                found = true; bestG = g; bestC = c
              }
            }
          }
          if (found) {
            val prevC = movedLast.getOrElse(v, cur)
            if (prevC == bestC && Xx.gateParity(v, sweep)) {
              gated += v; gatedGain += bestG
            } else {
              mvV += v; mvOld += cur; mvNew += bestC
              mvDv += dv; mvSz += sv
              gainApplied += bestG
            }
          }
        }
      }
      val nMoves = mvV.length.toLong
      val nWant = nMoves + gated.length

      if (nWant == 0) {
        sink.add(IterMetric("leiden.movement", level, sweep, messages = -1,
          movesAccepted = 0, frontier = frontierN, qualityDelta = 0.0,
          seconds = (System.nanoTime() - t0) / 1e9))
        frontierN = 0
      } else if (nMoves == 0) {
        frontier = gated.toArray
        java.util.Arrays.sort(frontier)
        frontierN = frontier.length.toLong
        frontierDegSum = { var s = 0.0; frontier.foreach(s += degM(_)); s }
        sink.add(IterMetric("leiden.movement", level, sweep, messages = -1,
          movesAccepted = 0, frontier = frontierN, qualityDelta = 0.0,
          seconds = (System.nanoTime() - t0) / 1e9))
      } else {
        movesApplied += nMoves
        val movedNow = mutable.LongMap.empty[Long]
        var i = 0
        while (i < mvV.length) {
          val v = mvV(i); val cur = mvOld(i); val nc = mvNew(i)
          val dv = mvDv(i); val sv = mvSz(i)
          comm(v) = nc
          cdeg(cur) = cdeg.getOrElse(cur, 0.0) - dv
          cdeg(nc) = cdeg.getOrElse(nc, 0.0) + dv
          csize(cur) = csize.getOrElse(cur, 0.0) - sv
          csize(nc) = csize.getOrElse(nc, 0.0) + sv
          changedSet(v) = (); allMoves(v) = nc
          movedNow(v) = cur
          // K: mover and neighbor sharing a (static) subcommunity; a
          // self-loop counts as the mover's own same-subcomm adjacency
          // row, matching the distributed scPairs join
          if (selfLoop.contains(v)) affectedSet(v) = ()
          val mySc = sc(v)
          adjL(v).foreach { case (n, _) =>
            if (sc.get(n).contains(mySc)) {
              affectedSet(v) = (); affectedSet(n) = ()
            }
          }
          i += 1
        }
        movedLast = movedNow
        sink.add(IterMetric("leiden.movement", level, sweep, messages = -1,
          movesAccepted = nMoves, frontier = frontierN,
          qualityDelta = gainApplied,
          seconds = (System.nanoTime() - t0) / 1e9))

        if (gainApplied < gainFloor && gatedGain < gainFloor) {
          frontierN = 0
        } else if (nMoves * avgDeg >= 0.8 * nVerts) {
          // dense re-activation — the distributed full-frontier sweep is
          // the right engine for this regime
          bail = true; bailFull = true
        } else {
          val next = mutable.LongMap.empty[Unit]
          gated.foreach(next(_) = ())
          i = 0
          while (i < mvV.length) {
            val nc = mvNew(i)
            adjL(mvV(i)).foreach { case (n, _) =>
              if (comm(n) != nc) next(n) = ()
            }
            i += 1
          }
          frontier = next.keysIterator.toArray
          java.util.Arrays.sort(frontier)
          frontierN = frontier.length.toLong
          frontierDegSum = { var s = 0.0; frontier.foreach(s += degM(_)); s }
          if (!graft.util.Bcast.fits(frontierDegSum.toLong,
              bytesPerRow = 32))
            bail = true // outgrew the budget: distributed sweeps resume
          else if (!prefetched && frontierN > 0 && sweep + 1 < cfg.maxSweeps) {
            prefetched = true
            prefetch(frontier, frontierDegSum)
            fetchAll = true
          }
        }
      }
      sweep += 1
    }

    // --- push-back: ONE assignment overlay for the whole phase
    val aOut =
      if (allMoves.isEmpty) a0
      else {
        val mv = allMoves.iterator.map { case (v, c) => (v, c) }.toSeq
          .toDF("v", "newComm")
        a0.join(broadcast(mv), Seq("v"), "left")
          .select(col("v"),
            coalesce(col("newComm"), col("community")).as("community"),
            col("subcomm"))
      }
    // revert-gate reference for a resumed distributed loop: the final
    // assignment with the LAST sweep's moves undone
    val aPrevOut =
      if (!bail) aPrev0
      else if (movedLast.isEmpty) Some(aOut)
      else {
        val pm = movedLast.iterator.map { case (v, c) => (v, c) }.toSeq
          .toDF("v", "prevComm")
        Some(aOut.join(broadcast(pm), Seq("v"), "left")
          .select(col("v"),
            coalesce(col("prevComm"), col("community")).as("community"),
            col("subcomm")))
      }
    val activeOut =
      if (bailFull) aOut.select("v")
      else frontier.toSeq.toDF("v")
    val affectedScs = mutable.LongMap.empty[Unit]
    affectedSet.keysIterator.foreach(v => affectedScs(sc(v)) = ())
    LocalPhaseOut(aOut, aPrevOut, activeOut,
      changedSet.keysIterator.toArray, affectedSet.keysIterator.toArray,
      affectedScs.keysIterator.toArray,
      if (bailFull) nVerts else frontierN,
      if (bailFull) m2 else frontierDegSum,
      sweep, movesApplied, bail)
  }

  // ---------------------------------------------------------------------
  // refinement (reference inc_refinement, throughput mode)
  // ---------------------------------------------------------------------

  final case class RefinementOut(assign: DataFrame, refined: DataFrame,
      rounds: Int, freshUsed: Long = 0L)

  /** @param freshIdBase non-colliding id space start for subcommunities
    *   born from CC splits (largest fragment keeps the old id, the rest
    *   get freshIdBase+1, freshIdBase+2, ... — the reference's counter
    *   allocation, hit_leiden.rs:352-370). Callers track the watermark in
    *   their state; ids are allocated densely above it.
    * @param affectedScs the subcommunities of `affected`, when the caller
    *   holds them on the driver; otherwise one job derives them
    *
    * Steps that cannot change anything are skipped: a split that splits
    * nothing returns `assign` itself (no relabel), with an empty, counted
    * `refined`; without a refined vertex no phase-2 round runs, since
    * phase 2 only merges refined singletons.
    */
  def refinement(adj: DataFrame, deg: DataFrame, m2: Double,
      assign: DataFrame, affected: DataFrame, cfg: Config, sink: MetricsSink,
      level: Int, isInitial: Boolean,
      nodeSize: Option[DataFrame] = None,
      freshIdBase: Long = 0L,
      affectedScs: Option[Array[Long]] = None): RefinementOut = {

    val spark = adj.sparkSession
    import spark.implicits._
    val unitSize = nodeSize.isEmpty
    val sz = nodeSize.getOrElse(
      assign.select(col("v"), lit(1L).as("size"))).select("v", "size")
    var a = assign
    var freshUsed = 0L
    def noneRefined = Ckpt.local(spark, Array.empty[Long])

    val refined: DataFrame =
      if (isInitial) {
        // identity subcommunities are all singletons — no split possible;
        // everyone is refined (hit_leiden.rs:373-379)
        a.select("v")
      } else {
        // --- phase 1: connected-component split of affected subcommunities
        // (hit_leiden.rs:296-371, BFS -> distributed hash-min CC restricted
        // to intra-subcommunity edges). The affected set is delta-bound on
        // warm updates: broadcast it into the semi-joins so the V-sized
        // assignment streams map-side instead of being exchanged.
        val (affScs, nAffected) = affectedScs match {
          case Some(scs) =>
            (scs.toSeq.toDF("subcomm"), scs.length.toLong)
          case None =>
            val n = affected.rows
            (a.join(graft.util.Bcast.ifFits(affected.select("v"), n, 16),
              Seq("v"), "left_semi")
              .select(col("subcomm")).distinct().ckpt, n)
        }
        // members of affected subcommunities: delta-bound on warm updates.
        // When the set is small, its label projections broadcast into the
        // intra-edge extraction so the big adjacency streams map-side —
        // the unconditional form sort-merge-joined the full adjacency
        // against the full assignment twice per batch.
        // |affScs| <= |affected| (one subcomm per affected vertex at most),
        // so the already-known nAffected bounds the broadcast gate — no
        // extra count action
        val members = a.join(graft.util.Bcast.ifFits(affScs, nAffected, 16),
          Seq("subcomm"), "left_semi").ckpt
        val membersV = members.select("v")
        val nMembers = members.rows
        def mb(df: DataFrame): DataFrame =
          graft.util.Bcast.ifFits(df, nMembers, bytesPerRow = 32)
        val intra = adj
          .join(mb(members.select(col("v").as("src"),
            col("subcomm").as("scu"))), "src")
          .join(mb(members.select(col("v").as("dst"),
            col("subcomm").as("scv"))), "dst")
          .where(col("scu") === col("scv"))
          .where(col("src") < col("dst")) // canonical, drop self-loops
          .select("src", "dst")
        // batch-sized affected subgraphs resolve their components in a
        // driver-side union-find — distributed hash-min CC on a few
        // thousand rows is several fixed-cost jobs for nothing. The local
        // path is gated on BOTH members and intra-EDGES (a dense affected
        // subcommunity can carry orders of magnitude more edges than
        // members; collecting those would land on the driver heap) —
        // mirrors ConnectedComponents.run's two-sided guard.
        //
        // On the local path the ENTIRE largest-keeps-id bookkeeping
        // (fragment sizes, keeper choice, fresh-id ranks — hit_leiden.rs:
        // 352-370) runs on the driver over the already-collected members:
        // what used to be ~6 fixed-cost jobs (ckpts, windows, counts)
        // becomes pure JVM work, and only the final V-sized relabel touches
        // the cluster. The distributed path keeps the window machinery.
        val localIntra =
          if (cfg.localSolveEdges > 0 && nMembers <= cfg.localSolveEdges)
            Some(intra.ckpt).filter(_.rows <= cfg.localSolveEdges)
          else None
        localIntra match {
          case Some(intraC) =>
            // a USING semi-join moves the key column first — resolve field
            // positions by name, never by ordinal
            val vIdx = members.schema.fieldIndex("v")
            val scIdx = members.schema.fieldIndex("subcomm")
            val memRows = members.collect()
            val vs = memRows.map(_.getLong(vIdx))
            val es = intraC.collect().map(r => (r.getLong(0), r.getLong(1)))
            val comp = LocalLeiden.localComponents(vs, es)
            val scOf = memRows.iterator
              .map(r => r.getLong(vIdx) -> r.getLong(scIdx)).toMap
            // fragment sizes per (subcomm, component)
            val fragN = mutable.HashMap.empty[(Long, Long), Long]
            vs.foreach { v =>
              val k = (scOf(v), comp(v))
              fragN(k) = fragN.getOrElse(k, 0L) + 1L
            }
            // keeper per subcomm: largest fragment, ties to the smallest
            // component id (same order as the distributed wKeep window)
            val keeperOf = fragN.toSeq.groupBy(_._1._1).map { case (sc, fs) =>
              sc -> fs.maxBy { case ((_, c), n) => (n, -c) }._1._2
            }
            // fresh ids in ascending (subcomm, component) order — identical
            // to the distributed wFresh global window
            val freshFrags = fragN.keysIterator
              .filter { case (sc, c) => keeperOf(sc) != c }.toSeq.sorted
            freshUsed = freshFrags.length.toLong
            // only the vertices of non-keeper fragments change subcomm:
            // a split that splits nothing leaves `a` as it came
            val freshOf = freshFrags.zipWithIndex.map { case (k, i) =>
              k -> (freshIdBase + i + 1)
            }.toMap
            val relab = vs.flatMap { v =>
              freshOf.get((scOf(v), comp(v))).map(v -> _)
            }
            if (relab.nonEmpty) {
              // per-vertex relabel map, applied to the V-sized assignment
              // as one broadcast overlay join
              a = a.join(broadcast(relab.toSeq.toDF("v", "newSc")),
                  Seq("v"), "left")
                .select(col("v"), col("community"),
                  coalesce(col("newSc"), col("subcomm")).as("subcomm")).ckpt
            }
            Ckpt.local(spark, relab.map(_._1))
          case None =>
            val comps = ConnectedComponents.run(intra,
              vertices = Some(membersV), sink = MetricsSink.discard).components

            // largest-component-keeps-id (hit_leiden.rs:352-370, paper
            // section 5.1): the biggest fragment of a split keeps the old
            // subcommunity id — community-id stability a GraphRAG user
            // diffing batch N vs N+1 observes — and the rest get fresh
            // counter ids above the caller's watermark. The fresh-rank
            // window is global but bounded by the SPLIT fragments this batch.
            import org.apache.spark.sql.expressions.Window
            // comps vertices are exactly the members set — join the small one
            val withSc = comps.join(members.select(col("v"), col("subcomm")),
              "v")
            val compSizes = withSc.groupBy("subcomm", "component")
              .agg(count(lit(1)).as("n")).ckpt
            val wKeep = Window.partitionBy("subcomm")
              .orderBy(desc("n"), asc("component"))
            val ranked = compSizes.withColumn("rn", row_number().over(wKeep))
            // Enforce (not just document) the delta-bound of the global
            // fresh-id window: it is a single-partition sort over the batch's
            // SPLIT fragments only. One cheap agg over the checkpointed
            // compSizes turns the assumption into a guard that fails loudly
            // before a pathological batch funnels millions of rows through
            // one task.
            val Array(nFragRow) = compSizes
              .agg(count(lit(1)).as("frags"),
                count_distinct(col("subcomm")).as("scs")).collect()
            val nSplitFrags = nFragRow.getLong(0) - nFragRow.getLong(1)
            require(nSplitFrags <= 50_000_000L,
              s"refinement split produced $nSplitFrags fresh fragments — " +
                "exceeds the single-partition fresh-id window bound; " +
                "batch is not delta-sized")
            // nothing split: `a` stays as it came
            if (nSplitFrags == 0) noneRefined
            else {
              val keepers = ranked.where(col("rn") === 1)
                .select(col("subcomm"), col("component"),
                  col("subcomm").as("newSc"))
              val wFresh = Window.orderBy("subcomm", "component")
              val freshComps = ranked.where(col("rn") > 1)
                .select(col("subcomm"), col("component"),
                  (lit(freshIdBase) + row_number().over(wFresh)).as("newSc"))
                .ckpt
              // rn > 1 rows are exactly the non-keeper fragments counted above
              freshUsed = nSplitFrags
              val scMap = keepers.unionAll(freshComps)
              val relabeled = a
                .join(mb(withSc.select(col("v"), col("component"))), Seq("v"),
                  "left")
                .join(mb(scMap), Seq("subcomm", "component"), "left")
                .select(col("v"), col("community"),
                  coalesce(col("newSc"), col("subcomm")).as("newSc"),
                  col("subcomm"))
              val refinedD = relabeled.where(col("newSc") =!= col("subcomm"))
                .select("v").ckpt
              a = relabeled.select(col("v"), col("community"),
                col("newSc").as("subcomm")).ckpt
              refinedD
            }
        }
      }

    // --- phase 2: merge singleton subcommunities within their community
    // (hit_leiden.rs:417-482; BSP rounds, see scaladoc for the anti-swap
    // guard replacing the sequential degree-ascending order).
    // Incremental runs restrict ALL phase-2 work to communities that
    // contain a refined vertex: merges can only involve refined
    // singletons and their intra-community neighbors, so subcommunity
    // stats outside those communities are dead weight (delta-bound, not
    // O(V), per batch).
    // no refined vertex, no merge candidate: no round
    val anyRefined = isInitial || refined.rows > 0
    val affComms =
      if (isInitial || !anyRefined) None
      else Some(a.join(refined, Seq("v"), "left_semi")
        .select("community").distinct().ckpt)
    var round = 0
    var moved = if (anyRefined) 1L else 0L

    // --- delta-bound phase 2, driver-local (the warm-update hot path):
    // the scope (members of refined-touched communities) and the refined
    // vertices' adjacency are collected ONCE, then every BSP merge round
    // runs on primitive-keyed maps with exact parity (same snapshot
    // stats, gain formulas, argmax tie policy and anti-swap guard as the
    // distributed rounds below) — two delta-sized actions + one overlay
    // push replace 4-6 jobs PER ROUND. Gated on the scope row count and
    // the exact refined degree sum fitting the broadcast budget.
    var localRounds = false
    for (ac <- affComms if ac.rows > 0 &&
        graft.util.Bcast.fits(ac.rows, bytesPerRow = 16)) {
      val scopeAttrs0 = a
        .join(broadcast(ac), Seq("community"), "left_semi")
        .join(deg, Seq("v"))
      val scopeAttrs =
        if (unitSize) scopeAttrs0.withColumn("size", lit(1L))
        else scopeAttrs0.join(sz, Seq("v"))
      val sRows = scopeAttrs.select("v", "community", "subcomm", "deg",
        "size").collect()
      if (graft.util.Bcast.fits(sRows.length.toLong, bytesPerRow = 48)) {
        val commOf = mutable.LongMap.empty[Long]
        val scOf = mutable.LongMap.empty[Long]
        val degOf = mutable.LongMap.empty[Double]
        val szOf = mutable.LongMap.empty[Double]
        val scopeIds = new Array[Long](sRows.length)
        var i = 0
        sRows.foreach { r =>
          val v = r.getLong(0)
          scopeIds(i) = v; i += 1
          commOf(v) = r.getLong(1); scOf(v) = r.getLong(2)
          degOf(v) = r.getDouble(3)
          szOf(v) = r.getAs[Number](4).doubleValue
        }
        java.util.Arrays.sort(scopeIds)
        val refIds = refined.select("v").collect().map(_.getLong(0))
        java.util.Arrays.sort(refIds)
        var refDegSum = 0.0
        refIds.foreach(v => refDegSum += degOf.getOrElse(v, 0.0))
        if (graft.util.Bcast.fits(refDegSum.toLong, bytesPerRow = 32)) {
          localRounds = true
          val adjR = mutable.LongMap.empty[Array[(Long, Double)]]
          val rDf = refIds.toSeq.toDF("src")
          val rws = adj.join(broadcast(rDf), Seq("src"), "left_semi")
            .where(col("src") =!= col("dst"))
            .select("src", "dst", "weight").collect()
          val bySrc =
            mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Double)]]
          rws.foreach { r =>
            bySrc.getOrElseUpdate(r.getLong(0),
              mutable.ArrayBuffer.empty) += ((r.getLong(1),
              r.getDouble(2)))
          }
          refIds.foreach { v =>
            adjR(v) = bySrc.get(v).map(_.toArray.sortBy(_._1))
              .getOrElse(Array.empty)
          }
          val wBy = mutable.LongMap.empty[Double]
          val changedSc = mutable.LongMap.empty[Long]
          val gainFloorL =
            if (cfg.useCpm) cfg.minSweepGain * (m2 / 2.0)
            else cfg.minSweepGain
          while (moved > 0 && round < cfg.maxRefineRounds) {
            val t0 = System.nanoTime()
            // per-subcomm stats over the scope — one O(scope) pass
            val scn = mutable.LongMap.empty[Long]
            val scdeg = mutable.LongMap.empty[Double]
            val scbase = mutable.LongMap.empty[Double]
            scopeIds.foreach { v =>
              val s = scOf(v)
              scn(s) = scn.getOrElse(s, 0L) + 1L
              scdeg(s) = scdeg.getOrElse(s, 0.0) + degOf(v)
              scbase(s) = scbase.getOrElse(s, 0.0) + szOf(v)
            }
            // BSP barrier: all merge decisions from the round snapshot
            val mvV = mutable.ArrayBuffer.empty[Long]
            val mvSc = mutable.ArrayBuffer.empty[Long]
            var gSum = 0.0
            refIds.foreach { v =>
              val mySc = scOf(v)
              if (scn.getOrElse(mySc, 0L) == 1L) {
                val myComm = commOf(v)
                wBy.clear()
                adjR(v).foreach { case (n, w) =>
                  if (commOf.get(n).contains(myComm)) {
                    val s = scOf(n)
                    wBy(s) = wBy.getOrElse(s, 0.0) + w
                  }
                }
                val wCur = wBy.getOrElse(mySc, 0.0)
                val dv = degOf(v)
                val sv = szOf(v)
                var bestS = 0L
                var bestG = 0.0
                var found = false
                wBy.foreach { case (s, wTo) =>
                  if (s != mySc &&
                      (scn.getOrElse(s, 0L) > 1L || s < mySc)) {
                    val g =
                      if (cfg.useCpm)
                        (wTo - wCur) - cfg.gamma * sv *
                          scbase.getOrElse(s, 0.0)
                      else
                        (wTo - wCur) / m2 + cfg.gamma * dv *
                          (scdeg.getOrElse(mySc, 0.0) - dv -
                            scdeg.getOrElse(s, 0.0)) / (m2 * m2)
                    if (g > 0 && (!found || g > bestG ||
                        (g == bestG && s < bestS))) {
                      found = true; bestG = g; bestS = s
                    }
                  }
                }
                if (found) {
                  mvV += v; mvSc += bestS; gSum += bestG
                }
              }
            }
            moved = mvV.length.toLong
            var j = 0
            while (j < mvV.length) {
              scOf(mvV(j)) = mvSc(j); changedSc(mvV(j)) = mvSc(j)
              j += 1
            }
            sink.add(IterMetric("leiden.refinement", level, round,
              messages = -1, movesAccepted = moved, frontier = -1,
              qualityDelta = gSum,
              seconds = (System.nanoTime() - t0) / 1e9))
            round += 1
            if (gSum < gainFloorL) moved = 0
          }
          // one overlay push for the whole phase
          if (changedSc.nonEmpty) {
            val mv = changedSc.iterator.map { case (v, s) => (v, s) }
              .toSeq.toDF("v", "newSc")
            a = a.join(broadcast(mv), Seq("v"), "left")
              .select(col("v"), col("community"),
                coalesce(col("newSc"), col("subcomm")).as("subcomm"))
              .ckpt
          }
        }
      }
    }

    while (!localRounds && moved > 0 && round < cfg.maxRefineRounds) {
      val t0 = System.nanoTime()
      // communities are fixed during refinement, but subcomms move — the
      // scope filter re-applies to the CURRENT assignment each round.
      // Incremental rounds: the scope is delta-bound, so it is
      // materialized once per round and broadcast into every join against
      // a V/E-sized table (adjacency, degrees) — those tables then stream
      // map-side and nothing bigger than the scope is exchanged. Initial
      // (V-sized) rounds keep the shuffled joins.
      val scope = affComms.fold(a)(ac => a.join(
        graft.util.Bcast.ifFits(ac, ac.rows, 16),
        Seq("community"), "left_semi").ckpt)
      val scopeSmall = !isInitial && {
        val n = scope.rows
        graft.util.Bcast.fits(n, bytesPerRow = 48)
      }
      def sb(df: DataFrame): DataFrame =
        if (scopeSmall) broadcast(df) else df
      // scn = member count at this level (the singleton test is on level
      // vertices, hit_leiden.rs:420); scbase = total base vertices (CPM);
      // scdeg = total weighted degree — all in ONE aggregation job. With
      // unit sizes (level 0) the sz join is dropped: scbase == scn.
      val scStats = {
        val withDeg =
          if (scopeSmall)
            // broadcast the scope keys; the V-sized degree chain streams
            deg.join(sb(scope.select("v", "subcomm")), "v")
          else scope.join(deg, "v")
        val base =
          if (unitSize) withDeg.groupBy("subcomm")
            .agg(count(lit(1)).as("scn"), sum("deg").as("scdeg"))
            .withColumn("scbase", col("scn"))
          else {
            val s = if (scopeSmall) sz.join(sb(withDeg
                .select("v", "subcomm", "deg")), "v")
              else withDeg.join(sz, "v")
            s.groupBy("subcomm")
              .agg(count(lit(1)).as("scn"), sum("size").as("scbase"),
                sum("deg").as("scdeg"))
          }
        base.ckpt
      }
      val scSizes = scStats.select("subcomm", "scn", "scbase")
      val scDeg = scStats.select("subcomm", "scdeg")

      val singles = a.join(sb(refined), Seq("v"), "left_semi")
        .join(sb(scSizes.where(col("scn") === 1).select("subcomm")),
          Seq("subcomm"), "left_semi")
        .select(col("v").as("src"), col("community").as("myComm"),
          col("subcomm").as("mySc"))

      val g = adj.join(sb(singles), "src")
        .join(sb(scope.select(col("v").as("dst"),
          col("community").as("nComm"), col("subcomm").as("nSc"))), "dst")
        .where(col("nComm") === col("myComm")) // within community only
        .where(col("src") =!= col("dst")) // self-loops cancel out of gain
      val bySc = g.groupBy(col("src"), col("mySc"), col("nSc"))
        .agg(sum("weight").as("wTo"))
      val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
      val withCur = bySc.withColumn("wCur",
        sum(when(col("nSc") === col("mySc"), col("wTo")).otherwise(lit(0.0)))
          .over(wSrc))

      val refGain =
        if (cfg.useCpm)
          // singleton of base size sz_v merging into nSc of base size
          // scbase: (wTo - wCur) - gamma * sz_v * scbase
          (col("wTo") - coalesce(col("wCur"), lit(0.0))) -
            lit(cfg.gamma) * col("szv") * col("scbase")
        else
          (col("wTo") - coalesce(col("wCur"), lit(0.0))) / m2 +
            lit(cfg.gamma) * col("dv") *
            (col("scdegCur") - col("dv") - col("scdegCand")) / (m2 * m2)
      // per-vertex degree/size lookups restricted to the (small) scope
      // before joining — the unfiltered V-sized joins were a per-round
      // exchange each
      def lk(df: DataFrame): DataFrame =
        if (!scopeSmall) df
        else broadcast(df.join(
          broadcast(scope.select(col("v").as("src"))), Seq("src"),
          "left_semi"))
      val candDeg = withCur.where(col("nSc") =!= col("mySc"))
        .join(lk(deg.select(col("v").as("src"), col("deg").as("dv"))), "src")
      val candSz =
        if (unitSize) candDeg.withColumn("szv", lit(1L))
        else candDeg.join(
          lk(sz.select(col("v").as("src"), col("size").as("szv"))), "src")
      val cand = candSz
        .join(sb(scDeg.select(col("subcomm").as("mySc"),
          col("scdeg").as("scdegCur"))), "mySc")
        .join(sb(scDeg.select(col("subcomm").as("nSc"),
          col("scdeg").as("scdegCand"))), "nSc")
        .join(sb(scSizes.select(col("subcomm").as("nSc"), col("scn"),
          col("scbase"))), "nSc")
        .withColumn("gain", refGain)
        .where(col("gain") > 0)
        // anti-swap guard: merging into another singleton only flows
        // toward the smaller subcommunity id
        .where(col("scn") > 1 || col("nSc") < col("mySc"))

      val moves0 = cand.groupBy(col("src").as("v"))
        .agg(max_by(struct(col("nSc").as("newSc"), col("gain")),
          struct(col("gain"), negate(col("nSc")))).as("m"))
        .select(col("v"), col("m.newSc").as("newSc"), col("m.gain").as("gain"))
      // delta-bound rounds: ONE action — collect the merge table and turn
      // it into a local relation (stats come off the rows, the overlay
      // join broadcasts it for free); V-sized rounds keep ckpt + agg
      val (moves, nMoved, gSum) =
        if (scopeSmall) {
          val mRows = moves0.collect()
          (spark.createDataFrame(java.util.Arrays.asList(mRows: _*),
            moves0.schema), mRows.length.toLong,
            mRows.iterator.map(_.getDouble(2)).sum)
        } else {
          val ck = moves0.ckpt
          val mstats = ck.agg(count(lit(1)), sum("gain")).collect()(0)
          (ck, mstats.getLong(0),
            if (mstats.isNullAt(1)) 0.0 else mstats.getDouble(1))
        }
      moved = nMoved
      if (moved > 0) {
        // lazy overlay, flattened every other round (see movement);
        // broadcast gated on the applied merge count like movement's
        val mergesSel = moves.select("v", "newSc")
        val mergesJ = graft.util.Bcast.ifFits(mergesSel, moved,
          bytesPerRow = 32)
        a = a.join(mergesJ, Seq("v"), "left")
          .select(col("v"), col("community"),
            coalesce(col("newSc"), col("subcomm")).as("subcomm"))
        if (round % 2 == 1) a = a.ckpt
      }
      sink.add(IterMetric("leiden.refinement", level, round, messages = -1,
        movesAccepted = moved, frontier = -1, qualityDelta = gSum,
        seconds = (System.nanoTime() - t0) / 1e9))
      round += 1
      // same epsilon-gain stop as movement: the applied merges are kept,
      // but a further fixed-cost round isn't worth < minSweepGain quality
      val gainFloor =
        if (cfg.useCpm) cfg.minSweepGain * (m2 / 2.0) else cfg.minSweepGain
      if (gSum < gainFloor) moved = 0
    }
    RefinementOut(a, refined, round, freshUsed)
  }
}
