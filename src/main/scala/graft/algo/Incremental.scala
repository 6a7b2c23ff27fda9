package graft.algo

import graft.util.Ckpt
import graft.util.Ckpt.DFCkpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{EdgeOps, LocalGraph}
import graft.run.{IterMetric, MetricsSink}

import scala.collection.mutable

/** The "HIT" in HIT-Leiden: incremental maintenance of a Leiden partition
  * under a batch of edge insertions/deletions, touching only affected
  * vertices.
  *
  * Delta convention matches the reference (signed weight: alpha > 0
  * insert, alpha < 0 delete — /root/reference/src/core/algorithm/
  * hit_leiden.rs:167-180). Delta activation seeds the movement frontier
  * exactly as inc_movement's first loop (hit_leiden.rs:166-186).
  *
  * Within [[update]], per-batch cost is bound by the DELTA, not the
  * graph:
  *
  *  - graph state carried in a [[State]] (canonical edges, degrees,
  *    total weight, the level-1 supergraph) is maintained by
  *    [[EdgeOps.mergeDelta]]-style broadcast merges and arithmetic
  *    patches, with no full-table shuffle;
  *  - movement/refinement are frontier-limited (and their per-sweep
  *    gathers broadcast the frontier, [[Leiden.movement]]); a batch
  *    that moves and splits nothing runs no relabel, merge round or
  *    re-seat ([[level0]]);
  *  - the supergraph is maintained through the reference's own delta
  *    machinery: [[IncAggregation.apply]] (hit_leiden.rs:487-563) emits
  *    a signed supergraph delta from the batch + the refinement
  *    re-seatings, merged into the live supergraph;
  *  - upper levels are maintained over that (orders-of-magnitude
  *    smaller) supergraph: a warm solve over its driver-side mirror once
  *    it fits ([[Leiden.Config.localSolveEdges]]), the delta-scoped
  *    distributed branch above that bound, and a full re-solve only
  *    when no maintained state exists (after a distributed cold run,
  *    or for a caller that clears it).
  *
  * The remaining per-batch O(V) work (assignment carry, the supernode
  * community seed aggregation) is over the VERTEX table, which at link-
  * graph scale is far smaller than the edge table; at petabyte scale
  * both canon and assignment live as bucketed tables and these become
  * bucket-pruned merges too — the durable edge-side form exists as
  * [[graft.graph.BucketedEdges]].
  *
  * Across batches the bound does not hold yet. [[graft.run.Engine.update]]
  * starts every batch from the checkpoint. It carries the level-1 state
  * (the supergraph, the composition or, past the driver bound, the
  * level-1 assignment), so a batch reads what the previous one
  * committed; the cold checkpoint of a driver-local solve carries it
  * too. It holds no degrees, so [[hydrate]] rebuilds them from the whole
  * edge table on every resume: one O(E) pass per batch. Without the
  * durable-edge option the checkpoint also rewrites the whole edge table
  * every batch. Carrying the degrees with the assignment is direction 1
  * of ROADMAP.md.
  */
object Incremental {

  /** Driver-side mirror of a LOCAL-SOLVE-SIZED supergraph: canonical
    * (src, dst, weight) primitive arrays sorted by (src, dst). Only ever
    * built when the supergraph already passes `localSolveEdges` (i.e. it
    * is driver-collectable by definition); maintained per batch by a
    * linear signed-delta merge, which removes the per-batch re-collect +
    * re-pack of millions of unchanged edges from the warm path. The
    * content invariant (cache == superCanon table) is exact: the merge
    * applies the same w0+dw sum and the same |w| > eps drop as
    * [[EdgeOps.mergeDelta]], and two-operand float addition is
    * commutative, so not even the float rounding differs. */
  final case class SuperEdges(src: Array[Long], dst: Array[Long],
      w: Array[Double])

  /** Maintained upper-level composition for the DEFAULT live path: the
    * level-1 supergraph itself is the sorted-array mirror
    * ([[SuperEdges]], merged per batch by [[mergeSuperArrays]]); this
    * carries the composed (subcomm -> community) map the last warm
    * solve produced, so the next batch seeds its warm solve directly —
    * no O(V) carried-community aggregation + collect per batch
    * (hit_leiden.rs:565-599 def_update: the upper state is maintained,
    * not re-derived). A FRESH instance is built every batch from the
    * solve output and never mutated, so a caller that kept the
    * pre-batch State can re-apply its batch — value semantics without
    * a deep copy. */
  final case class UpperComm(composed: mutable.LongMap[Long])

  /** Linear merge of a canonical signed delta into the sorted cache. */
  private[algo] def mergeSuperArrays(c: SuperEdges,
      delta: Array[(Long, Long, Double)], eps: Double): SuperEdges = {
    val d = delta.sortBy(e => (e._1, e._2))
    val n = c.src.length; val m = d.length
    val oSrc = new Array[Long](n + m)
    val oDst = new Array[Long](n + m)
    val oW = new Array[Double](n + m)
    var i = 0; var j = 0; var k = 0
    def cmp(ci: Int, dj: Int): Int = {
      val s = java.lang.Long.compare(c.src(ci), d(dj)._1)
      if (s != 0) s else java.lang.Long.compare(c.dst(ci), d(dj)._2)
    }
    def emit(s: Long, t: Long, wt: Double): Unit =
      if (math.abs(wt) > eps) { oSrc(k) = s; oDst(k) = t; oW(k) = wt; k += 1 }
    while (i < n && j < m) {
      val r = cmp(i, j)
      if (r < 0) { emit(c.src(i), c.dst(i), c.w(i)); i += 1 }
      else if (r > 0) { emit(d(j)._1, d(j)._2, d(j)._3); j += 1 }
      else { emit(c.src(i), c.dst(i), c.w(i) + d(j)._3); i += 1; j += 1 }
    }
    while (i < n) { emit(c.src(i), c.dst(i), c.w(i)); i += 1 }
    while (j < m) { emit(d(j)._1, d(j)._2, d(j)._3); j += 1 }
    SuperEdges(java.util.Arrays.copyOf(oSrc, k),
      java.util.Arrays.copyOf(oDst, k), java.util.Arrays.copyOf(oW, k))
  }

  /** Durable-canon option: the level-0 edge table lives in a
    * [[graft.graph.BucketedEdges]] bucket-partitioned parquet store and
    * every delta merge is a bucket-pruned read-merge-overwrite of only the
    * touched buckets — the executed form of the petabyte-scale story
    * (reference durable-state intent: src/core/graph/backend.rs). */
  final case class DurableCanon(path: String, nBuckets: Int)

  /** Durable-assignment option: the (v, community, subcomm) table lives
    * in a [[graft.state.BucketedAssign]] bucket-partitioned store and
    * each warm batch upserts only its changed rows — with the edge-side
    * [[DurableCanon]] this completes the durable PartitionState contract
    * (reference src/core/partition/state.rs:4-16). */
  final case class DurableAssign(path: String, nBuckets: Int)

  /** Persistent engine state between batches.
    *
    * @param canon  live canonical edge table (level 0)
    * @param assign (v, community, subcomm) for every vertex
    * @param m2     cached 2 * total weight
    * @param deg    (v, deg) weighted degrees (absent: derived on demand)
    * @param superCanon live level-1 supergraph = contract(canon, subcomm)
    *   (absent: derived on demand — after a distributed cold run, or
    *   from a checkpoint that predates the committed supergraph)
    * @param maxId  id watermark for fresh subcommunity allocation
    *   (largest-component-keeps-id splits allocate above it)
    * @param durable when set, `canon` is backed by (and [[update]] merges
    *   into) the bucket-partitioned store at this path
    */
  final case class State(canon: DataFrame, assign: DataFrame, m2: Double,
      deg: Option[DataFrame] = None, superCanon: Option[DataFrame] = None,
      maxId: Long = Long.MinValue,
      /** batches applied since the last full flatten of the degree
        * overlay — the vertex-table analog of movement's lazy-overlay
        * cadence: the per-batch degree patch stays a lazy broadcast-join
        * chain (delta-sized work) and is materialized O(V) only every
        * 4th batch. */
      epoch: Int = 0,
      durable: Option[DurableCanon] = None,
      /** driver-side sorted-array mirror of superCanon, present only
        * while the supergraph is local-solve-sized (see [[SuperEdges]]);
        * purely an optimization — absent after resume, rebuilt by one
        * collect of the committed supergraph */
      superCache: Option[SuperEdges] = None,
      /** maintained composed (subcomm -> community) map for the DEFAULT
        * live path (see [[UpperComm]]); committed with every checkpoint
        * that holds it, the identity after a driver-local cold solve.
        * Absent after a distributed cold run, or past the driver bound:
        * the next batch then takes the re-solve fallback. */
      upper: Option[UpperComm] = None,
      /** maintained DISTRIBUTED level-1 assignment
        * (v = supernode, community, subcomm), present only while the
        * supergraph exceeds `localSolveEdges` (r6: the delta-scoped
        * per-level maintenance past the driver bound — reference
        * hit_leiden.rs:104-136, 565-599). Each over-bound batch runs the
        * frontier-limited movement/refinement over the supergraph with
        * the supergraph DELTA as the activation, instead of a full
        * re-solve whose cost is proportional to supergraph size. Pruned
        * every batch to the supergraph's vertices plus the batch's
        * delta endpoints. Persisted by the engine's
        * checkpoint; absent while the supergraph fits the driver bound
        * (or after a cold run) — the next over-bound batch initializes
        * it with one full re-solve. */
      upperAssign: Option[DataFrame] = None,
      /** `m2` is the value the last checkpoint committed rather than one
        * derived from `canon`. The two differ only when a durable store
        * ran one batch ahead of that checkpoint (crash between its merge
        * and the commit); [[update]]'s replay then keeps this m2 as the
        * pre-delta value instead of un-merging it. */
      m2Committed: Boolean = false,
      /** the quality (modularity, or CPM when the config selects it) and
        * community count of `assign`, when the batch that produced this
        * state scored it on the driver from the level-1 mirror and the
        * composition ([[mirrorScore]]); absent otherwise. Not committed:
        * a checkpoint's manifest carries the quality. */
      score: Option[(Double, Long)] = None)

  /** Fill derivable fields absent after a resume or an old-format call:
    * degrees, the live supergraph when the checkpoint carries none
    * (contract by subcomm — the invariant
    * superCanon == contract(canon, assign.subcomm) holds at every batch
    * boundary) and the id watermark, which clears every label of the
    * assignment and of the maintained upper assignment. */
  def hydrate(st: State, eps: Double = 1e-9): State = {
    val deg = st.deg.getOrElse(
      EdgeOps.degrees(EdgeOps.symmetrize(st.canon)).ckpt)
    val sup = st.superCanon.getOrElse(
      contractBySubcomm(st.canon, st.assign, eps).ckpt)
    val maxId =
      if (st.maxId != Long.MinValue) st.maxId
      else st.upperAssign.foldLeft(
          maxLabel(st.assign, "v", "community", "subcomm")) { (m, ua) =>
        math.max(m, maxLabel(ua, "community", "subcomm"))
      }
    st.copy(deg = Some(deg), superCanon = Some(sup), maxId = maxId)
  }

  private def maxLabel(df: DataFrame, cols: String*): Long = {
    val r = df.agg(greatest(cols.map(c => max(c)): _*)).collect()
    if (r.isEmpty || r(0).isNullAt(0)) 0L else r(0).getLong(0)
  }

  private def contractBySubcomm(canon: DataFrame, assign: DataFrame,
      eps: Double): DataFrame = {
    val sc = assign.select(col("v"), col("subcomm"))
    EdgeOps.compress(canon
      .join(sc.select(col("v").as("src"), col("subcomm").as("scu")), "src")
      .join(sc.select(col("v").as("dst"), col("subcomm").as("scv")), "dst")
      .select(col("scu").as("src"), col("scv").as("dst"), col("weight")),
      eps)
  }

  def initial(edges: DataFrame, cfg: Leiden.Config = Leiden.Config(),
      sink: MetricsSink = MetricsSink.discard,
      durable: Option[DurableCanon] = None): State = {
    val canon0 = EdgeOps.compress(edges, cfg.eps).ckpt
    // durable mode: seed the bucket store and compute off a reader over
    // it, so the solved state is provably derived from the durable bytes
    val canon = durable.fold(canon0) { d =>
      graft.graph.BucketedEdges.write(canon0, d.path, d.nBuckets)
      graft.graph.BucketedEdges.read(edges.sparkSession, d.path).ckpt
    }
    val m2 = 2.0 * EdgeOps.totalWeight(canon)
    val verts = EdgeOps.vertices(canon)
    val init = verts.select(col("v"), col("v").as("community"),
      col("v").as("subcomm")).ckpt
    if (m2 == 0.0)
      return hydrate(State(canon, init, 0.0, durable = durable), cfg.eps)
    val adj = EdgeOps.symmetrize(canon).ckpt
    val deg = EdgeOps.degrees(adj).ckpt
    val mv = Leiden.movement(adj, deg, m2, init, verts, cfg, sink, 0)
    val ref = Leiden.refinement(adj, deg, m2, mv.assign, verts, cfg, sink, 0,
      isInitial = true)
    // the state's superCanon must be the SAME materialized table the
    // cache mirrors (resolveSuper only moves communities, never
    // subcomms, so contract-by-subcomm of the final assignment equals
    // this one — but recomputing it would re-run float sums in a
    // different aggregation order and break the cache's exactness)
    val sc0 = contractBySubcomm(canon, ref.assign, cfg.eps).ckpt
    val so = resolveSuper(sc0, ref.assign, cfg, sink)
    hydrate(State(canon, so.out, m2, deg = Some(deg), superCanon = Some(sc0),
      durable = durable, superCache = so.cache, upper = so.upper,
      upperAssign = so.upperAssign), cfg.eps)
  }

  /** resolveSuper result: the composed base assignment plus whichever
    * maintained upper-state form the taken path produces, the count
    * of fresh ids it allocated above the caller's watermark, and the
    * driver score ([[mirrorScore]]) when the path ends holding the mirror
    * and the composition. */
  private final case class SuperOut(out: DataFrame,
      cache: Option[SuperEdges], upper: Option[UpperComm],
      upperAssign: Option[DataFrame], freshUsed: Long,
      score: Option[(Double, Long)] = None)

  /** Collect a local-solve-sized supergraph into the driver-side mirror,
    * sorted by (src, dst) so per-batch delta merges are a linear
    * two-pointer pass. */
  private def collectSuperEdges(superCanon: DataFrame): SuperEdges = {
    val rows = superCanon.select("src", "dst", "weight").collect()
    val sorted = Array.range(0, rows.length)
      .sortBy(i => (rows(i).getLong(0), rows(i).getLong(1)))
    SuperEdges(sorted.map(rows(_).getLong(0)), sorted.map(rows(_).getLong(1)),
      sorted.map(rows(_).getDouble(2)))
  }

  /** The state a cold checkpoint commits for the partition `r` solved.
    * Its subcommunities are the connected components of the communities
    * along intra-community edges: the largest keeps the community id, the
    * others take fresh ids above the largest label, as refinement's
    * phase 1 allocates them. Every committed subcommunity is then
    * connected, the start condition of [[level0]]'s refinement skip; on
    * connected communities subcomm = community.
    *
    * After a level-0 driver-local solve, the split, the composition
    * (subcomm -> community) and the supergraph (`es` contracted by
    * subcommunity, canonical, summed, |w| > eps, sorted by (src, dst) as
    * the mirror [[update]] maintains) are driver arithmetic over the
    * solve's own arrays ([[Leiden.splitLocal]]), no Spark job; the first
    * update takes the warm mirror solve. After a distributed solve,
    * refinement's phase 1 ([[Leiden.split]]) splits the whole assignment,
    * and the first update re-solves the upper levels. The assignment's
    * row count and the watermark are recorded either way. */
  private[graft] def coldState(r: Leiden.Result, cfg: Leiden.Config,
      durable: Option[DurableCanon]): State = {
    val spark = r.canon.sparkSession
    import spark.implicits._
    val assign0 = r.assignment.select(col("v"), col("community"),
      col("community").as("subcomm"))
    r.level0 match {
      case Some((g, comm)) =>
        val maxLabel = comm.iterator.map { case (v, c) => math.max(v, c) }
          .maxOption.getOrElse(Long.MinValue)
        val intra = g.es.collect {
          case (u, v, _) if u != v && comm(u) == comm(v) => (u, v)
        }
        val (relab, fresh) = Leiden.splitLocal(comm.keysIterator.toArray,
          comm, intra, maxLabel)
        val sub = mutable.LongMap.empty[Long]
        relab.foreach { case (v, s) => sub(v) = s }
        def subOf(v: Long) = sub.getOrElse(v, comm(v))
        val assign =
          if (relab.isEmpty) assign0
          else assign0.join(broadcast(relab.toSeq.toDF("v", "newSc")),
              Seq("v"), "left")
            .select(col("v"), col("community"),
              coalesce(col("newSc"), col("subcomm")).as("subcomm"))
        val upper = mutable.LongMap.empty[Long]
        comm.foreach { case (v, c) => upper(subOf(v)) = c }
        val ss = LocalGraph.sortedDistinct(upper.keysIterator.toArray)
        val nS = ss.length.toLong
        def ix(v: Long) = java.util.Arrays.binarySearch(ss, subOf(v)).toLong
        // (src, dst) as one key in subcommunity-id order: src index * S + dst
        val keys = g.es.map { case (u, v, _) =>
          val (a, b) = (ix(u), ix(v))
          math.min(a, b) * nS + math.max(a, b)
        }
        val uk = LocalGraph.sortedDistinct(keys.clone())
        val w = new Array[Double](uk.length)
        for (i <- g.es.indices)
          w(java.util.Arrays.binarySearch(uk, keys(i))) += g.es(i)._3
        val keep = uk.indices.filter(i => math.abs(w(i)) > cfg.eps).toArray
        State(r.canon, Ckpt.withRows(assign, comm.size.toLong), 2.0 * r.m,
          maxId = if (maxLabel == Long.MinValue) maxLabel else maxLabel + fresh,
          durable = durable, upper = Some(UpperComm(upper)),
          superCache = Some(SuperEdges(keep.map(i => ss((uk(i) / nS).toInt)),
            keep.map(i => ss((uk(i) % nS).toInt)), keep.map(w))))
      case None =>
        // the largest label rides on the assignment's counted checkpoint
        val (assign, lab) = Ckpt.observed(assign0,
          "max" -> greatest(max("v"), max("community")))
        val maxLabel = if (lab.isNullAt(lab.fieldIndex("max"))) 0L
          else lab.getAs[Long]("max")
        val sp = Leiden.split(EdgeOps.symmetrize(r.canon), assign, assign,
          cfg, maxLabel)
        State(r.canon, sp.assign, 2.0 * r.m, maxId = maxLabel + sp.freshUsed,
          durable = durable)
    }
  }

  /** Compose a (subcomm, newComm) upper-level result onto the base
    * assignment. LEFT join with a carried-community fallback: every
    * solver path derives its vertex set from supergraph EDGES, so a
    * subcommunity a deletion batch left edge-free (an isolated supernode)
    * never appears in `superRes` — an inner join would silently drop its
    * vertices from the assignment. Isolated supernodes keep their carried
    * community (they have no neighbors to merge with, so that IS the
    * solve result). */
  private def composeOnto(assign: DataFrame, superRes: DataFrame)
      : Composed = {
    val (cp, obs) = Ckpt.observed(assign
      .select(col("v"), col("subcomm"), col("community").as("oldComm"))
      .join(superRes, Seq("subcomm"), "left")
      .select(col("v"),
        coalesce(col("newComm"), col("oldComm")).as("community"),
        col("subcomm"), col("newComm").isNull.as("unseen")),
      "unseen" -> sum(when(col("unseen"), 1L).otherwise(0L)))
    val unseen = if (obs.isNullAt(obs.fieldIndex("unseen"))) 0L
      else obs.getAs[Long]("unseen")
    Composed(Ckpt.withRows(cp.select("v", "community", "subcomm"), cp.rows),
      () =>
        if (unseen == 0) Array.empty
        else cp.where(col("unseen")).select("subcomm", "community")
          .distinct().collect().map(r => (r.getLong(0), r.getLong(1))))
  }

  /** [[composeOnto]]'s result: the composed (v, community, subcomm)
    * assignment, counted, and the distinct (subcomm, community) pairs of
    * its rows whose subcommunity the solve did not see (it has no
    * supergraph edge), collected on call; no job when there are none. */
  private final case class Composed(out: DataFrame,
      unseen: () => Array[(Long, Long)])

  /** Quality and community count of a batch that ends holding the level-1
    * mirror `ce` and the composition `composed` of its vertices, on the
    * driver: the supergraph scores as the base graph
    * ([[Quality.modularityFromArrays]]/[[Quality.cpmFromArrays]]; m, W_in
    * and Σ d_C² are exact sums for integer weights, so the value equals
    * [[Quality.score]] over the composed assignment bit for bit). The
    * subcommunities the mirror cannot see are `unseen` (see [[Composed]])
    * and count with their communities; CPM takes subcommunity sizes from
    * `szM`. None when one unseen subcommunity spans two communities: a
    * supernode then has no single community. */
  private def mirrorScore(ce: SuperEdges,
      composed: scala.collection.Map[Long, Long],
      unseen: Array[(Long, Long)], szM: Map[Long, Long],
      cfg: Leiden.Config): Option[(Double, Long)] = {
    if (unseen.map(_._1).distinct.length != unseen.length) return None
    val live = mutable.LongMap.empty[Long]
    var i = 0
    while (i < ce.src.length) {
      live(ce.src(i)) = composed(ce.src(i))
      live(ce.dst(i)) = composed(ce.dst(i))
      i += 1
    }
    unseen.foreach { case (sc, c) => live(sc) = c }
    val q =
      if (cfg.useCpm) Quality.cpmFromArrays(ce.src, ce.dst, ce.w, live,
        cfg.gamma, szM.getOrElse(_, 1L))
      else Quality.modularityFromArrays(ce.src, ce.dst, ce.w, live, cfg.gamma)
    Some((q, live.valuesIterator.toSet.size.toLong))
  }

  /** Solve the (small) supergraph with the carried communities as the
    * seed and compose the result back onto the base assignment. A batch
    * can only refine the partition, never regress below it — but
    * movement only moves vertices toward *neighbor* communities
    * (hit_leiden.rs:234-240), so a community a deletion internally
    * disconnected would never split on its own: enforce Leiden's
    * connectivity guarantee on the seed first by replacing each carried
    * community with its connected components on the supergraph. */
  private def resolveSuper(superCanon: DataFrame, assign: DataFrame,
      cfg: Leiden.Config, sink: MetricsSink,
      cache: Option[SuperEdges] = None,
      deltaH: Option[DataFrame] = None,
      upperPrev: Option[DataFrame] = None,
      freshIdBase: Long = 0L): SuperOut = {
    val spark = superCanon.sparkSession
    import spark.implicits._
    // lazy: the local-solve path collects it in ONE action; only the
    // distributed path (which reads it several times) checkpoints it
    val carried0 = assign.groupBy(col("subcomm").as("v"))
      .agg(min(col("community")).as("community"))

    // without a mirror the supergraph overlay is evaluated ONCE: its
    // checkpoint counts it, and the local path collects that table
    lazy val (superM, superW) = {
      val (m, r) = Ckpt.observed(superCanon, "w" -> sum("weight"))
      (m, if (r.isNullAt(r.fieldIndex("w"))) 0.0 else r.getAs[Double]("w"))
    }
    val nSuper = cache.fold(superM.rows)(_.src.length.toLong)
    var cacheOut: Option[SuperEdges] = None
    var upperOut: Option[UpperComm] = None
    var upperAssignOut: Option[DataFrame] = None
    var freshUsed = 0L
    var sizesOut = Map.empty[Long, Long]
    val superRes =
      if (cfg.localSolveEdges > 0 && nSuper <= cfg.localSolveEdges) {
        // supergraph fits: connectivity repair (union-find) AND the full
        // hierarchy solve run sequentially on PRIMITIVE arrays — one
        // collect (or none, when the driver-side cache is warm) instead
        // of a dozen fixed-cost distributed jobs per batch
        val ce = cache.getOrElse(collectSuperEdges(superM))
        cacheOut = Some(ce)
        val cmM = carried0.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val szM =
          if (cfg.useCpm) assign.groupBy(col("subcomm").as("v"))
            .agg(count(lit(1)).as("size")).collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          else Map.empty[Long, Long]
        sizesOut = szM
        val repaired = LocalLeiden.repairConnectivity(ce.src, ce.dst, cmM)
        val solved = LocalLeiden.solve(ce.src, ce.dst, ce.w, szM, repaired,
          cfg, canonicalSorted = true)
        // stash the composed map — the next batch seeds its warm
        // mirror solve from it (no carried collect)
        val m = mutable.LongMap.empty[Long]
        solved.foreach { case (k, v) => m(k) = v }
        upperOut = Some(UpperComm(m))
        val out = solved.toSeq.toDF("v", "community")
        out
      } else if (deltaH.isDefined && upperPrev.isDefined) {
        // DELTA-SCOPED distributed upper maintenance (r6, VERDICT r5 ask
        // #2; reference hit_leiden.rs:104-136, 565-599): past the driver
        // bound, the maintained level-1 assignment is updated by the
        // SAME frontier-limited machinery the base level uses —
        // activation = the supergraph delta's endpoints, movement +
        // refinement scoped to them — instead of a full re-solve whose
        // cost is proportional to supergraph size. Per-batch job count
        // is fixed; only a handful of jobs scan the O(E_1) supergraph
        // once (materialize, degree, total weight), every other step is
        // delta-bounded (and the movement sweeps go driver-local
        // whenever the delta frontier fits the byte budget).
        val m2s = 2.0 * superW
        val adj1 = Ckpt.withRows(EdgeOps.symmetrize(superM), 2 * superM.rows)
        val deg1 = EdgeOps.degrees(adj1).ckpt
        val dV1 = EdgeOps.vertices(deltaH.get).ckpt
        // evict supernodes that left the supergraph: the maintained rows
        // stay one per supergraph vertex (plus this delta's endpoints),
        // and an id that disappears and later returns — naming a
        // different vertex set — re-enters as a singleton below
        val prev = upperPrev.get.join(
          deg1.select("v").unionAll(dV1.select("v")), Seq("v"), "left_semi")
          .ckpt
        // supernodes this batch introduced enter as singletons
        val newSup = dV1.join(prev.select("v"), Seq("v"), "left_anti").ckpt
        val up0 =
          if (newSup.rows == 0) prev
          else prev.unionAll(newSup.select(col("v"),
            col("v").as("community"), col("v").as("subcomm")))
        // scoped connectivity repair (the delta-bounded form of the
        // re-solve path's full pre-repair below): only communities the
        // delta touches can have been disconnected by a deletion —
        // replace each with its connected components on the supergraph.
        // Untouched communities pass through. As in refinement's splits,
        // the largest fragment keeps the community label and the others
        // take fresh ids above the watermark: a component's min member
        // could equal the (drifted) label of an untouched community and
        // silently merge the two.
        val affComms = broadcast(up0
          .join(broadcast(dV1), Seq("v"), "left_semi")
          .select("community").distinct()).ckpt
        val members = up0.join(affComms, Seq("community"), "left_semi")
          .ckpt
        val memComm = members.select(col("v"), col("community"))
        val intra = superM
          .join(memComm.withColumnRenamed("v", "src")
            .withColumnRenamed("community", "cu"), "src")
          .join(memComm.withColumnRenamed("v", "dst")
            .withColumnRenamed("community", "cv"), "dst")
          .where(col("cu") === col("cv"))
          .select("src", "dst")
        val frags = ConnectedComponents
          .run(intra, vertices = Some(members.select("v")),
            localSolveVerts = 100000)
          .components
          .join(memComm, "v")
        import org.apache.spark.sql.expressions.Window
        val fragSizes = frags.groupBy("community", "component")
          .agg(count(lit(1)).as("n"))
        val freshFrags = fragSizes
          .withColumn("rn", row_number().over(Window
            .partitionBy("community").orderBy(desc("n"), asc("component"))))
          .where(col("rn") > 1)
          .select(col("community"), col("component"),
            (lit(freshIdBase) + row_number().over(
              Window.orderBy("community", "component"))).as("newComm"))
          .ckpt
        val repairFresh = freshFrags.rows
        val repChanged = frags
          .join(broadcast(freshFrags), Seq("community", "component"))
          .select(col("v"), col("newComm"))
          .ckpt
        val up1 =
          if (repChanged.rows == 0) up0
          else up0.join(broadcast(repChanged), Seq("v"), "left")
            .select(col("v"),
              coalesce(col("newComm"), col("community")).as("community"),
              col("subcomm"))
        // activation: delta endpoints + repair-moved supernodes
        val activated = dV1.select("v")
          .unionAll(repChanged.select("v")).distinct()
        val sizes1 =
          if (cfg.useCpm) Some(assign.groupBy(col("subcomm").as("v"))
            .agg(count(lit(1)).as("size")).ckpt)
          else None
        val mv1 = Leiden.movement(adj1, deg1, m2s, up1.ckpt, activated,
          cfg, sink, 1, nodeSize = sizes1)
        val aff1 = activated.unionAll(mv1.affected).distinct().ckpt
        val ref1 = Leiden.refinement(adj1, deg1, m2s, mv1.assign, aff1,
          cfg, sink, 1, isInitial = false, nodeSize = sizes1,
          freshIdBase = freshIdBase + repairFresh)
        freshUsed = repairFresh + ref1.freshUsed
        val upNext = ref1.assign.ckpt
        upperAssignOut = Some(upNext)
        upNext.select(col("v"), col("community"))
      } else {
        val carriedCk = carried0.ckpt
        val superNodes = carriedCk.select("v")
        val intraSuper = superM
          .join(carriedCk.select(col("v").as("src"),
            col("community").as("cu")), "src")
          .join(carriedCk.select(col("v").as("dst"),
            col("community").as("cv")), "dst")
          .where(col("cu") === col("cv"))
          .select("src", "dst")
        val carried = ConnectedComponents
          .run(intraSuper, vertices = Some(superNodes))
          .components
          .select(col("v"), col("component").as("community"))
        val sizes =
          if (cfg.useCpm) Some(assign.groupBy(col("subcomm").as("v"))
            .agg(count(lit(1)).as("size")).ckpt)
          else None
        // the supergraph IS level >= 1 of the hierarchy: its own level 0
        // may local-solve as soon as it fits. Initialize the maintained
        // distributed level-1 assignment from this solve (subcomms
        // restart as singletons; the next batch's scoped refinement
        // re-derives them) so subsequent over-bound batches take the
        // delta-scoped branch above.
        val solved = Leiden.run(superM,
          cfg.copy(localSolveMinLevel = 0), sink,
          initial = Some(carried), initialSizes = sizes).assignment
        upperAssignOut = Some(solved.select(col("v"), col("community"),
          col("v").as("subcomm")).ckpt)
        solved
      }

    val c = composeOnto(assign, superRes.select(col("v").as("subcomm"),
      col("community").as("newComm")))
    SuperOut(c.out, cacheOut, upperOut, upperAssignOut, freshUsed,
      for (ce <- cacheOut; up <- upperOut; q <- mirrorScore(ce, up.composed,
        c.unseen(), sizesOut, cfg)) yield q)
  }

  /** Warm upper-level solve over the maintained mirror — the DEFAULT
    * live path (replaces the per-batch re-solve): seed communities come
    * from the maintained composition ([[UpperComm]], no O(V) carried
    * aggregation + collect), connectivity repair runs dense
    * ([[LocalLeiden.repairDense]], no per-batch sort/boxing) and the
    * hierarchy solve runs pre-densified ([[LocalLeiden.solveDense]], no
    * per-batch dedup/sort pack). All driver CPU on primitive arrays;
    * the only Spark work a caller pays is the composition join.
    *
    * @return (full (subcomm -> community) composition rows, next
    *         maintained composition) */
  private def warmSolveSuper(cache: SuperEdges,
      composedOld: mutable.LongMap[Long], freshSeeds: Map[Long, Long],
      szM: Map[Long, Long], cfg: Leiden.Config)
      : (Array[(Long, Long)], UpperComm) = {
    val nE = cache.src.length
    if (nE == 0) {
      // every supernode is isolated: composition keeps old labels
      val m = mutable.LongMap.empty[Long]
      composedOld.foreach { case (k, v) => m(k) = v }
      freshSeeds.foreach { case (k, v) => if (!m.contains(k)) m(k) = v }
      return (Array.empty, UpperComm(m))
    }
    // verts: the mirror is sorted by (src, dst), so distinct srcs are a
    // linear scan; dsts need one sort; then a two-array merge
    val sSrc = {
      val a = new Array[Long](nE)
      var m = 0; var e = 0
      while (e < nE) {
        if (m == 0 || cache.src(e) != a(m - 1)) { a(m) = cache.src(e); m += 1 }
        e += 1
      }
      java.util.Arrays.copyOf(a, m)
    }
    val sDst = {
      val a = cache.dst.clone()
      java.util.Arrays.sort(a)
      var m = 0; var j = 0
      while (j < a.length) {
        if (m == 0 || a(j) != a(m - 1)) { a(m) = a(j); m += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(a, m)
    }
    val verts = {
      val a = new Array[Long](sSrc.length + sDst.length)
      var i = 0; var j = 0; var m = 0
      while (i < sSrc.length && j < sDst.length) {
        val x = if (sSrc(i) <= sDst(j)) { val v = sSrc(i); i += 1; v }
          else { val v = sDst(j); j += 1; v }
        if (m == 0 || x != a(m - 1)) { a(m) = x; m += 1 }
      }
      while (i < sSrc.length) {
        if (m == 0 || sSrc(i) != a(m - 1)) { a(m) = sSrc(i); m += 1 }
        i += 1
      }
      while (j < sDst.length) {
        if (m == 0 || sDst(j) != a(m - 1)) { a(m) = sDst(j); m += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(a, m)
    }
    val n = verts.length
    // dense endpoints: src rides the sort order (two-pointer), dst
    // binary-searches
    val dSrc = new Array[Int](nE)
    val dDst = new Array[Int](nE)
    var vi = 0
    var e = 0
    while (e < nE) {
      while (verts(vi) != cache.src(e)) vi += 1
      dSrc(e) = vi
      dDst(e) = java.util.Arrays.binarySearch(verts, cache.dst(e))
      e += 1
    }
    // seed labels: maintained composition, fresh-seat seeds for level-1
    // nodes this batch introduced, identity fallback
    val labels = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = verts(i)
      labels(i) = composedOld.getOrElse(v,
        freshSeeds.getOrElse(v, v))
      i += 1
    }
    LocalLeiden.repairDense(verts, dSrc, dDst, labels)
    val sizes =
      if (cfg.useCpm)
        Array.tabulate(n)(i => szM.getOrElse(verts(i), 1L).toDouble)
      else Array.fill(n)(1.0)
    val out = LocalLeiden.solveDense(verts, dSrc, dDst, cache.w, sizes,
      labels, cfg)
    // next maintained composition: old entries (isolated supernodes keep
    // their label for future re-connection) overwritten by the solve
    val composedNew = mutable.LongMap.empty[Long]
    composedOld.foreach { case (k, v) => composedNew(k) = v }
    val rows = new Array[(Long, Long)](out.size)
    var r = 0
    out.foreach { case (k, v) =>
      composedNew(k) = v
      rows(r) = (k, v); r += 1
    }
    (rows, UpperComm(composedNew))
  }

  /** Driver bytes per compressed delta row in [[driverPrologue]]: the
    * collected row, the probe rows of its endpoints, their entries in the
    * driver maps and the local relations. Measured (1M-vertex state,
    * local[4], 50k-500k-row deltas): the driver thread allocates 2.8-4.4
    * KB per row, an upper bound on what it holds at once. At the 512 MB
    * budget cap 5 KB admits 104,857 rows, where the driver prologue stops
    * being the faster one (warm runs, driver vs distributed): 10k rows
    * 0.7 s vs 1.6 s, 100k rows 3.7 s vs 4.2 s, 150k rows 4.9 s vs 4.4 s,
    * 200k rows 7.7 s vs 5.8 s, 500k rows 12.3 s vs 5.4 s; the driver's
    * local relations also cost each plan that reads them. */
  private[graft] val DeltaRowBytes = 5120L

  /** What a delta batch brings before movement.
    *
    * @param newVerts (v) endpoint ids absent from the assignment
    * @param dMax the largest endpoint id
    * @param deltaDeg (v, dd) weighted-degree change of every endpoint
    * @param degNew (v, deg) degrees of the endpoints that have no row in
    *   the degree table
    * @param activated (v) the movement frontier: endpoints of inserts
    *   across communities and of deletes within one (hit_leiden.rs:166-186)
    * @param k0 (v) endpoints of delta edges inside one subcommunity
    * @param held what the prologue holds on the driver, when it ran there
    */
  private[graft] final case class Prologue(newVerts: DataFrame, dMax: Long,
      deltaDeg: DataFrame, degNew: DataFrame, activated: DataFrame,
      k0: DataFrame, held: Option[Held])

  /** The driver prologue's results as driver values, for the level-0
    * phases: movement enters from `frontier`, refinement takes its
    * affected subcommunities from `k0Scs`, and a batch that re-seats
    * nothing builds its supergraph delta from `delta` and `subcomm`.
    *
    * @param frontier the rows of `activated`, degrees post-delta
    * @param k0 `k0`'s ids, ascending
    * @param k0Scs the distinct subcommunities of `k0`
    * @param delta the compressed delta's (src, dst, weight) rows
    * @param subcomm an endpoint's subcommunity before the batch (a new id
    *   is its own)
    */
  private[graft] final case class Held(frontier: Leiden.FrontierRows,
      k0: Array[Long], k0Scs: Array[Long],
      delta: Array[(Long, Long, Double)], subcomm: Long => Long)

  /** The assignment plus the new ids as singletons (lazy union). Its row
    * count is recorded when both parts' counts are known. */
  private def withNewVerts(assign: DataFrame, newVerts: DataFrame)
      : DataFrame = {
    val nNew = newVerts.rows
    if (nNew == 0) assign
    else {
      val u = assign.unionAll(newVerts.select(col("v"),
        col("v").as("community"), col("v").as("subcomm")))
      Ckpt.known(assign).fold(u)(n => Ckpt.withRows(u, n + nNew))
    }
  }

  /** The prologue of a delta that fits the driver: one collect of the
    * compressed delta and ONE probe (a broadcast semi join of its
    * endpoint ids) of their assignment rows and degrees; the rest is
    * driver arithmetic. */
  private[graft] def driverPrologue(state: State, deltaC: DataFrame)
      : Prologue = {
    val spark = deltaC.sparkSession
    import spark.implicits._
    val rows = deltaC.select(EdgeOps.SRC, EdgeOps.DST, EdgeOps.W).collect()
    val src = rows.map(_.getLong(0))
    val dst = rows.map(_.getLong(1))
    val w = rows.map(_.getDouble(2))
    val ids = (src ++ dst).distinct.sorted
    // a broadcast semi join, not a literal IN list: the id set ships once
    // per executor, and planning stays flat in the delta's size (100k ids
    // against 10k-row tables, local[4]: 1.2 s semi-joined, 11.9 s literal)
    val idRel = broadcast(Ckpt.local(spark, ids))
    val probe = state.assign.join(idRel, Seq("v"), "left_semi")
      .select(col("v"), col("community"), col("subcomm"),
        lit(null).cast("double").as("deg"))
      .unionAll(state.deg.get.join(idRel, Seq("v"), "left_semi")
        .select(col("v"), lit(null).cast("long"), lit(null).cast("long"),
          col("deg")))
      .collect()
    val comm = mutable.LongMap.empty[Long]
    val sc = mutable.LongMap.empty[Long]
    val degOld = mutable.LongMap.empty[Double]
    probe.foreach { r =>
      val v = r.getLong(0)
      if (r.isNullAt(3)) { comm(v) = r.getLong(1); sc(v) = r.getLong(2) }
      else degOld(v) = r.getDouble(3)
    }
    // delta degrees (a self-loop counts twice, as in EdgeOps.degrees of
    // the symmetrized delta); new endpoints are their own singletons
    val dd = mutable.LongMap.empty[Double]
    val act = mutable.LongMap.empty[Unit]
    val k0 = mutable.LongMap.empty[Unit]
    for (i <- rows.indices) {
      val (u, v) = (src(i), dst(i))
      dd(u) = dd.getOrElse(u, 0.0) + w(i)
      dd(v) = dd.getOrElse(v, 0.0) + w(i)
      val (cu, cv) = (comm.getOrElse(u, u), comm.getOrElse(v, v))
      if ((w(i) > 0 && cu != cv) || (w(i) < 0 && cu == cv)) {
        act(u) = (); act(v) = ()
      }
      if (sc.getOrElse(u, u) == sc.getOrElse(v, v)) { k0(u) = (); k0(v) = () }
    }
    val newIds = ids.filterNot(comm.contains)
    val actIds = act.keysIterator.toArray.sorted
    // every endpoint without a degree row gets one: the new ids, and an
    // assigned vertex whose edges were all deleted before a resume
    // (hydrate derives degrees from the edges, so it has no row)
    val degNewIds = ids.filterNot(degOld.contains)
    val k0Ids = k0.keysIterator.toArray.sorted
    val subcomm = (v: Long) => sc.getOrElse(v, v)
    val frontier = Leiden.FrontierRows(actIds,
      actIds.map(v => comm.getOrElse(v, v)), actIds.map(subcomm),
      actIds.map(v => degOld.getOrElse(v, 0.0) + dd(v)))
    Prologue(Ckpt.local(spark, newIds), ids.last,
      ids.toSeq.map(v => (v, dd(v))).toDF("v", "dd"),
      degNewIds.toSeq.map(v => (v, dd(v))).toDF("v", "deg"),
      Ckpt.local(spark, actIds), Ckpt.local(spark, k0Ids),
      Some(Held(frontier, k0Ids, k0Ids.map(subcomm).distinct,
        rows.indices.map(i => (src(i), dst(i), w(i))).toArray, subcomm)))
  }

  /** The prologue of a bulk delta (backfill, re-ingest): a distributed
    * anti join finds the new ids, and the delta's activation joins
    * broadcast it so the assignment streams map-side, never shuffles. */
  private[graft] def distPrologue(state: State, deltaC: DataFrame)
      : Prologue = {
    val (dV, dAgg) = Ckpt.observed(EdgeOps.vertices(deltaC),
      "dMax" -> max("v"))
    val newVerts = dV.join(state.assign.select("v"), Seq("v"), "left_anti")
      .ckpt
    val deltaDeg = EdgeOps.degrees(EdgeOps.symmetrize(deltaC))
      .withColumnRenamed("deg", "dd").ckpt
    // endpoints without a degree row: new ids, and assigned vertices
    // whose edges were all deleted before a resume
    val degNew = deltaDeg
      .join(state.deg.get.select("v"), Seq("v"), "left_anti")
      .select(col("v"), col("dd").as("deg")).ckpt
    val assign0 = withNewVerts(state.assign, newVerts)
    val d1 = broadcast(deltaC)
      .join(assign0.select(col("v").as("src"), col("community").as("cu"),
        col("subcomm").as("scu")), "src")
    val d = broadcast(d1)
      .join(assign0.select(col("v").as("dst"), col("community").as("cv"),
        col("subcomm").as("scv")), "dst")
      .ckpt
    val activated = d.where(
      (col("weight") > 0 && col("cu") =!= col("cv")) ||
        (col("weight") < 0 && col("cu") === col("cv")))
      .select(explode(array(col("src"), col("dst"))).as("v")).distinct()
      .ckpt
    val k0 = d.where(col("scu") === col("scv"))
      .select(explode(array(col("src"), col("dst"))).as("v")).distinct()
    Prologue(newVerts, dAgg.getAs[Long]("dMax"), deltaDeg, degNew,
      activated, k0, None)
  }

  /** The prologue that fits: [[driverPrologue]] for a delta within the
    * driver byte budget, else [[distPrologue]]. */
  private def prologue(state: State, deltaC: DataFrame): Prologue =
    if (graft.util.Bcast.fits(deltaC.rows, DeltaRowBytes))
      driverPrologue(state, deltaC)
    else distPrologue(state, deltaC)

  /** A warm batch's level 0 up to aggregation (see [[level0]]).
    *
    * @param assign0 the pre-batch assignment plus the new ids
    * @param deg post-delta weighted degrees
    * @param freshIdBase the watermark refinement allocated split ids above
    */
  private[graft] final case class Level0(pro: Prologue, assign0: DataFrame,
      deg: DataFrame, adj: DataFrame, mv: Leiden.MovementOut,
      ref: Leiden.RefinementOut, freshIdBase: Long)

  /** Prologue, frontier-limited movement and refinement of one batch at
    * level 0, against the hydrated pre-batch `state`, the batch's
    * compressed delta, the merged edge table and the post-delta 2m
    * (non-zero). With the driver prologue, movement enters from the
    * frontier's rows and refinement from K's subcommunities, both held
    * on the driver.
    *
    * Refinement runs only when it can change something. Every committed
    * subcommunity is connected along its intra-subcommunity edges (the
    * cold checkpoint commits components, [[Leiden.refinement]] keeps them
    * connected), its phase 1 splits along those edges only, and movement
    * changes communities, never subcommunities. So when the driver
    * prologue's delta deletes no edge inside a subcommunity, phase 1
    * splits nothing and phase 2 has no refined vertex: the result is
    * movement's assignment with an empty, counted refined set, and a
    * zero-round `leiden.refinement` metric records the decision. */
  private[graft] def level0(state: State, deltaC: DataFrame,
      newCanon: DataFrame, m2: Double, cfg: Leiden.Config,
      sink: MetricsSink): Level0 = {
    val spark = deltaC.sparkSession
    val pro = prologue(state, deltaC)
    // new-singleton rows are delta-sized; the union is applied lazily on
    // top of the (checkpointed) carried assignment — no O(V) rewrite here
    val assign0 = withNewVerts(state.assign, pro.newVerts)

    // degree patch: broadcast left-outer add for existing vertices plus
    // delta-only degrees for new ones — no vertex-table shuffle. Kept as
    // a LAZY overlay (each consumer replays a map-side broadcast join
    // over the last materialized table) and flattened O(V) only every
    // 4th batch: the last per-batch term that scaled with |V| not |delta|.
    val degPatched = state.deg.get
      .join(broadcast(pro.deltaDeg), Seq("v"), "left")
      .select(col("v"),
        (col("deg") + coalesce(col("dd"), lit(0.0))).as("deg"))
    val deg0 = degPatched.unionAll(pro.degNew)
    val deg = if (state.epoch % 4 == 3) deg0.ckpt else deg0

    val adj = Ckpt.withRows(EdgeOps.symmetrize(newCanon), 2 * newCanon.rows)

    val mv = Leiden.movement(adj, deg, m2, assign0, pro.activated, cfg, sink,
      0, entry = pro.held.map(_.frontier))
    // the watermark must clear every vertex id seen so far INCLUDING the
    // ones this batch introduced (they arrive as their own singleton
    // subcomm/community ids): allocating fresh split ids from the stale
    // state.maxId could alias a new vertex's id and silently contract two
    // unrelated subcommunities together in the supergraph
    val freshIdBase = math.max(state.maxId, pro.dMax)
    // every committed subcommunity is connected, and phase 1 splits only
    // along intra-subcommunity edges: with none deleted it splits nothing,
    // and phase 2 has no refined vertex to merge. Decided from the delta
    // the driver prologue holds; after the distributed one it refines
    val splitsNothing = pro.held.exists(h => h.delta.forall {
      case (u, v, w) => w >= 0 || u == v || h.subcomm(u) != h.subcomm(v)
    })
    val ref =
      if (splitsNothing) {
        sink.add(IterMetric("leiden.refinement", 0, 0, messages = -1,
          movesAccepted = 0, frontier = -1, qualityDelta = 0.0,
          seconds = 0.0))
        Leiden.RefinementOut(mv.assign,
          Ckpt.local(spark, Array.empty[Long]), 0)
      } else {
        // K = K0 + movement's K; on the driver when both are
        val (affected, affectedScs) = (pro.held, mv.affectedIds) match {
          case (Some(h), Some(k)) =>
            (Ckpt.local(spark, (h.k0 ++ k).distinct),
              Some((h.k0Scs ++ mv.affectedScs.get).distinct))
          case _ => (pro.k0.unionAll(mv.affected).distinct().ckpt, None)
        }
        Leiden.refinement(adj, deg, m2, mv.assign, affected, cfg, sink, 0,
          isInitial = false, freshIdBase = freshIdBase,
          affectedScs = affectedScs)
      }
    Level0(pro, assign0, deg, adj, mv, ref, freshIdBase)
  }

  /** Apply one signed delta batch, warm-starting from `state`.
    *
    * Faithful to the reference's per-batch pipeline (hit_leiden.rs:85-151
    * at level 0 + inc_aggregation/def_update for the hierarchy): delta
    * activation -> frontier movement -> refinement (largest-keeps-id
    * splits + singleton merges) -> IncAggregation supergraph delta ->
    * upper levels -> composition. The upper levels take one of three
    * paths: the warm solve over the maintained mirror (the live path),
    * the delta-scoped distributed branch above `localSolveEdges`, or the
    * re-solve over the maintained supergraph (the fallback when no upper
    * state is maintained, as after a distributed cold run; a caller that
    * clears `upper` gets it as the oracle for the warm solve).
    *
    * The prologue (new ids, delta degrees, activation, K0) is gated on the
    * compressed delta's driver bytes ([[DeltaRowBytes]] per row against
    * [[graft.util.Bcast.budgetBytes]]). Below the budget the delta
    * is collected once and everything comes from it plus ONE probe of
    * the endpoints' assignment rows and degrees
    * ([[driverPrologue]]); the results enter the plans as local relations
    * with known row counts, movement gets |assign|, |adj| and the
    * frontier's rows without a job, refinement gets K's subcommunities,
    * and a batch whose refinement re-seats no vertex builds its
    * supergraph delta on the driver ([[IncAggregation.deltaOnly]]). A
    * bulk delta (backfill, re-ingest) takes the distributed prologue
    * ([[distPrologue]]). Both derive the same sets and the same
    * integer-weight sums.
    */
  def update(state0: State, delta: DataFrame,
      cfg: Leiden.Config = Leiden.Config(),
      sink: MetricsSink = MetricsSink.discard,
      /** monotone batch id for durable-mode idempotency: a merge already
        * recorded in the store (crash between merge and checkpoint
        * commit) is skipped on replay instead of double-applied */
      batchId: Option[Long] = None): State = {

    // the delta's row count and total weight ride on its checkpoint
    val (deltaC, dAgg) = Ckpt.observed(EdgeOps.compress(delta, cfg.eps),
      "dW" -> sum("weight"))
    if (deltaC.rows == 0) return hydrate(state0, cfg.eps)
    val dW = dAgg.getAs[Double]("dW")

    // durable replay detection: if the store already recorded this batch
    // (crash AFTER the bucket merge but BEFORE the checkpoint commit),
    // state0's canon — read back from the store — is one batch AHEAD of
    // the committed assignment, and so is its m2 unless it is the
    // committed one (`m2Committed`). Rebuild the pre-delta view (a
    // delta-sized signed un-merge overlay, no store write) so the batch
    // replays identically, and the store merge below no-ops.
    val replayed = state0.durable.exists(d => batchId.exists(b =>
      graft.graph.BucketedEdges.lastApplied(delta.sparkSession, d.path)
        .exists(_ >= b)))
    val state =
      if (!replayed) hydrate(state0, cfg.eps)
      else {
        // EXACTNESS CONTRACT (ADVICE r5): this signed un-merge is exact
        // only for integer-valued weights below 2^53 — (w + d) - d == w
        // holds exactly for integers in double, so the reconstructed
        // pre-state (and hence the replayed Outcome) is bit-identical to
        // the pre-crash batch. With fractional weights the un-merge can
        // be off by an ulp and reordered float sums can flip gain ties:
        // the replay would still be a VALID solve of the same graph, but
        // not guaranteed identical to what the store recorded. Every
        // ingest path in this engine produces multiplicity (integer)
        // weights; a future fractional-weight source must either disable
        // durable replay or reconcile against the stored assignment.
        val negDelta = deltaC.select(col(EdgeOps.SRC), col(EdgeOps.DST),
          negate(col(EdgeOps.W)).as(EdgeOps.W))
        val preCanon = EdgeOps.mergeDelta(state0.canon, negDelta, cfg.eps)
          .ckpt
        // deg/superCanon were not set by readState; hydrate re-derives
        // them from the reconstructed pre-delta canon
        val preM2 = if (state0.m2Committed) state0.m2 else state0.m2 - 2.0 * dW
        hydrate(state0.copy(canon = preCanon, m2 = preM2,
          deg = None, superCanon = None, superCache = None), cfg.eps)
      }

    // --- graph-state maintenance: delta-bound, no full-table shuffles
    // in-memory default: broadcast merge onto the checkpointed table.
    // durable mode: bucket-pruned staged merge into the BucketedEdges
    // store — only the delta's buckets are read and rewritten, and a
    // batch already applied under `batchId` is skipped — then the live
    // canon is a fresh reader over the store.
    val newCanon = state.durable match {
      case Some(d) =>
        graft.graph.BucketedEdges.mergeDelta(delta.sparkSession, d.path,
          deltaC, d.nBuckets, cfg.eps, batchId)
        graft.graph.BucketedEdges.read(delta.sparkSession, d.path).ckpt
      case None =>
        // NOTE (r6, measured): deferring this ckpt to the every-4th-batch
        // cadence (like the degree overlay) made warm batches 1.5-2.5x
        // SLOWER — movement/refinement run many jobs per batch and each
        // replayed the stacked broadcast anti/semi-join overlay, paying a
        // broadcast build per layer per job. The per-batch O(E)
        // materialization is the cheaper side of that trade here.
        EdgeOps.mergeDelta(state.canon, deltaC, cfg.eps).ckpt
    }
    val m2 = state.m2 + 2.0 * dW
    val spark = delta.sparkSession
    import spark.implicits._
    if (m2 == 0.0)
      return hydrate(State(newCanon,
        withNewVerts(state.assign, prologue(state, deltaC).newVerts), 0.0,
        durable = state.durable), cfg.eps)

    // --- prologue (new endpoints, delta degrees, delta activation
    // hit_leiden.rs:166-186, K0) and frontier-limited movement +
    // refinement at level 0
    val Level0(pro, assign0, deg, adj, _, ref, freshIdBase) =
      level0(state, deltaC, newCanon, m2, cfg, sink)
    val maxId = freshIdBase + ref.freshUsed
    val assign1 = ref.assign

    // --- supergraph maintenance via the reference's delta machinery.
    // R must contain EXACTLY the changed vertices (hit_leiden.rs:509-511
    // dedup guard assumes it); refinement's refined set is a superset
    // when a phase-2 merge lands a vertex back on its old id. A refined
    // set counted empty re-seats nothing: when the prologue holds the
    // delta on the driver, deltaH is the mapped delta built there.
    val noReseat = Ckpt.known(ref.refined).contains(0L)
    val (deltaH, dRows) = pro.held.filter(_ => noReseat) match {
      case Some(h) =>
        val rows = IncAggregation.deltaOnly(h.delta, h.subcomm, cfg.eps)
        (rows.toSeq.toDF("src", "dst", "weight"), Some(rows))
      case None =>
        val sPre0 = assign0.select(col("v"), col("subcomm").as("sc"))
        val sCur = assign1.select(col("v"), col("subcomm").as("sc"))
        val refR = broadcast(assign1
          .join(broadcast(ref.refined.select("v").distinct()), Seq("v"),
            "left_semi"))
          .join(sPre0.withColumnRenamed("sc", "scPre"), "v")
          .where(col("subcomm") =!= col("scPre"))
          .select("v").ckpt
        // the warm mirror path collects the delta-sized deltaH anyway —
        // evaluate the delta join pipeline ONCE via that collect
        // (materialize=false) and hand downstream consumers a local
        // relation; the fallback path (nothing maintained) keeps the
        // ckpt'd DataFrame
        val willCollect = state.superCache.isDefined || state.upper.isDefined
        val (deltaH0, _) = IncAggregation(adj, deltaC, sPre0, sCur, refR,
          cfg.eps, materialize = !willCollect)
        val rows =
          if (willCollect)
            Some(deltaH0.collect().map(r =>
              (r.getLong(0), r.getLong(1), r.getDouble(2))))
          else None
        (rows.fold(deltaH0)(_.toSeq.toDF("src", "dst", "weight")), rows)
    }
    // the mirror path never SCANS superCanon (the sorted-array mirror is
    // the live level-1 graph), so the O(E_1) materialization runs on the
    // deg-overlay cadence instead of every batch; between flattens the
    // lazy mergeDelta overlay (broadcast anti/semi joins) stacks at most
    // 4 deep, and fallback/resume/checkpoint consumers evaluate it as-is
    val superPrev = state.superCanon.get
    val newSuper0 = EdgeOps.mergeDelta(superPrev, deltaH, cfg.eps)
    val newSuper = if (state.epoch % 4 == 3) newSuper0.ckpt else newSuper0
    // maintain the driver-side mirror with the SAME signed delta — a
    // fallback re-solve then skips its multi-million-row re-collect.
    // First batch after resume (VERDICT r5 #7): the persisted upper
    // composition survives the checkpoint but the mirror does not —
    // rebuild it from the pre-delta supergraph (one collect, gated on the
    // manifest's row count; the same sort resolveSuper's local init
    // applies) so the warm mirror solve engages instead of a full
    // re-solve. The committed supergraph is the mirror's own rows; one
    // hydrate derived re-aggregates weights in a fresh order, exact for
    // the integer-valued weights every ingest produces.
    val rebuiltCache: Option[SuperEdges] =
      if (state.superCache.isEmpty && state.upper.isDefined &&
          cfg.localSolveEdges > 0 &&
          superPrev.rows <= cfg.localSolveEdges)
        Some(collectSuperEdges(superPrev))
      else None
    val mergedCache = dRows.flatMap(d => state.superCache
      .orElse(rebuiltCache).map(mergeSuperArrays(_, d, cfg.eps)))

    // --- upper levels. DEFAULT live path (reference hit_leiden.rs:85-151
    // + 565-599 def_update): the maintained MIRROR is the level-1
    // supergraph, the maintained composition seeds a warm in-memory
    // hierarchy solve (dense repair + pre-densified solve, all primitive
    // arrays) — no carried aggregation, no collect, no per-batch
    // sort/pack. Otherwise resolveSuper: the delta-scoped branch past the
    // driver bound, or the re-solve (no maintained state, as after a
    // distributed cold run), which REBUILDS the maintained state when it
    // lands local.
    val useMirror = state.upper.isDefined &&
      cfg.localSolveEdges > 0 &&
      mergedCache.exists(_.src.length <= cfg.localSolveEdges)
    val so =
      if (useMirror) {
        val mc = mergedCache.get
        val composedOld = state.upper.get.composed
        // community seeds for level-1 nodes this batch introduces (fresh
        // split seats / new singletons): their community in the
        // post-movement base assignment — one delta-sized lookup
        val newIds = dRows.get.iterator.flatMap(e => Iterator(e._1, e._2))
          .filter(v => !composedOld.contains(v)).toSet
        val seed: Map[Long, Long] =
          if (newIds.isEmpty) Map.empty
          else assign1
            .where(col("subcomm").isInCollection(newIds))
            .groupBy("subcomm").agg(min("community"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val szM =
          if (cfg.useCpm) assign1.groupBy(col("subcomm").as("v"))
            .agg(count(lit(1)).as("size")).collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          else Map.empty[Long, Long]
        val (rows, upperNew) = warmSolveSuper(mc, composedOld, seed, szM,
          cfg)
        val c = composeOnto(assign1,
          broadcast(rows.toSeq.toDF("subcomm", "newComm")))
        SuperOut(c.out, mergedCache, Some(upperNew), None, 0L,
          mirrorScore(mc, upperNew.composed, c.unseen(), szM, cfg))
      } else resolveSuper(newSuper, assign1, cfg, sink, mergedCache,
        deltaH = Some(deltaH), upperPrev = state.upperAssign,
        freshIdBase = maxId)
    State(newCanon, so.out, m2, deg = Some(deg), superCanon = Some(newSuper),
      maxId = maxId + so.freshUsed, epoch = state.epoch + 1,
      durable = state.durable, superCache = so.cache, upper = so.upper,
      upperAssign = so.upperAssign, score = so.score)
  }

  /** Deterministic cumulative delta batches replicating the reference's
    * benchmark splitter `paper_split(initial_ratio, batch_size, rounds,
    * seed)` (/root/reference/src/benchmark/dynamic_graph.rs:62-115):
    * shuffle edges by a seeded hash, first `initialRatio` = the initial
    * graph, then `rounds` batches of `batchSize` as insertions.
    *
    * Fully distributed AND skew-free: the global rank is computed as a
    * per-bucket row_number plus driver-side bucket offsets, where buckets
    * are the hash's top 16 bits (so bucket order IS hash order). The
    * driver reduction is bounded by 2^16 rows regardless of |E|; no
    * single-partition window anywhere.
    */
  def paperSplit(edges: DataFrame, initialRatio: Double, batchSize: Int,
      rounds: Int, seed: Long = 42L): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val spark = edges.sparkSession
    import spark.implicits._
    val hashed = edges
      .withColumn("_h", xxhash64(col("src"), col("dst"), lit(seed)))
      .withColumn("_b", shiftrightunsigned(col("_h"), 48))
      .localCheckpoint(true)
    val counts = hashed.groupBy("_b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (b, n) =>
      val off = acc; acc += n; (b, off)
    }
    val offDf = offsets.toSeq.toDF("_b", "_off")
    val ranked = hashed.join(broadcast(offDf), "_b").withColumn("_rn",
      row_number().over(Window.partitionBy("_b")
        .orderBy(col("_h"), col("src"), col("dst"))) + col("_off"))
      .drop("_off")
    val total = acc
    val nInit = (total * initialRatio).toLong
    val init = ranked.where(col("_rn") <= nInit)
      .drop("_h", "_b", "_rn").ckpt
    val batches = (0 until rounds).map { r =>
      ranked.where(col("_rn") > nInit + r.toLong * batchSize &&
        col("_rn") <= nInit + (r + 1).toLong * batchSize)
        .drop("_h", "_b", "_rn").ckpt
    }
    (init, batches)
  }
}
