package graft.algo

import graft.util.Ckpt.DFCkpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.EdgeOps

/** Faithful delta-form supergraph maintenance — the reference's
  * inc_aggregation (/root/reference/src/core/algorithm/hit_leiden.rs:
  * 487-563) as a pure relational job. The reference's def_update
  * (hit_leiden.rs:565-599) has no separate form here: the maintained
  * composition and its warm solve in [[Incremental.update]] play its
  * part.
  *
  * Note the reference never actually reaches inc_aggregation in its
  * public run() (PartitionState::identity pins levels=1, so the level
  * loop exits before aggregation); it is implemented here to complete
  * the specified contract. Guard semantics follow the code exactly: a refined vertex v
  * emits (-w on the previous subcommunity pair, +w on the current pair)
  * for each neighbor n unless both are refined-and-changed and v > n
  * (dedup: `cur(n)==pre(n) || v < n`, hit_leiden.rs:509-511).
  *
  * Invariant (tested): contract(G, sPre) + deltaH == contract(G, sPre')
  * when deltaG is empty and R = {v : sCur(v) != sPre(v)}.
  */
object IncAggregation {

  /** @param adj   symmetrized adjacency of the level graph
    * @param delta signed delta edges (may be empty)
    * @param sPre  (v, sc) previous subcommunity mapping
    * @param sCur  (v, sc) current subcommunity mapping
    * @param refined (v) the R set
    * @param materialize checkpoint deltaH before returning (default).
    *   A caller that immediately collects deltaH (the warm mirror path)
    *   passes false so the delta join pipeline is evaluated ONCE — by
    *   its own collect — instead of ckpt + collect.
    * @return (deltaH canonical signed edges, sPre' updated mapping)
    *
    * An empty R re-seats nothing, so deltaH is the delta branch alone. A
    * caller that knows R is empty and holds the delta and the previous
    * subcommunities on the driver builds it with [[deltaOnly]] instead,
    * with no job.
    */
  def apply(adj: DataFrame, delta: DataFrame, sPre: DataFrame,
      sCur: DataFrame, refined: DataFrame,
      eps: Double = 1e-9, materialize: Boolean = true): (DataFrame, DataFrame) = {

    val preSrc = sPre.select(col("v").as("src"), col("sc").as("preU"))
    val preDst = sPre.select(col("v").as("dst"), col("sc").as("preN"))
    val curSrc = sCur.select(col("v").as("src"), col("sc").as("curU"))
    val curDst = sCur.select(col("v").as("dst"), col("sc").as("curN"))

    // 1. delta edges mapped through the previous mapping (lines 499-504).
    // Delta-bound shapes throughout: the (small) delta/refined sides are
    // broadcast-built, so the V-sized mapping tables stream map-side and
    // are never shuffled.
    val deltaMapped = broadcast(broadcast(delta).join(preSrc, "src"))
      .join(preDst, "dst")
      .select(col("preU").as("src"), col("preN").as("dst"),
        coalesce(col("weight"), lit(1.0)).as("weight"))

    // 2. refined vertices re-seat their incident edges (lines 507-525).
    // Self-loops are handled in a separate branch: the symmetrized
    // adjacency stores a self-loop as two identical rows, and the
    // reference's dedup guard (`cur==pre || i<j`) drops BOTH when the
    // vertex is refined-and-changed — which would lose the -w/+w
    // re-seating of its self-loop entirely. Emit it exactly once instead
    // (distinct collapses the two identical rows).
    val rAdj0 = adj
      .where(col("src") =!= col("dst"))
      .join(broadcast(refined.select(col("v").as("src"))), Seq("src"),
        "left_semi")
    val rAdj = broadcast(broadcast(broadcast(broadcast(rAdj0)
      .join(preSrc, "src"))
      .join(preDst, "dst"))
      .join(curSrc, "src"))
      .join(curDst, "dst")
      .where(col("curN") === col("preN") || col("src") < col("dst"))
    val negEdges = rAdj.select(col("preU").as("src"), col("preN").as("dst"),
      negate(col("weight")).as("weight"))
    val posEdges = rAdj.select(col("curU").as("src"), col("curN").as("dst"),
      col("weight"))
    val rLoop = broadcast(broadcast(
      adj.where(col("src") === col("dst")).distinct()
        .join(broadcast(refined.select(col("v").as("src"))), Seq("src"),
          "left_semi"))
      .join(preSrc, "src"))
      .join(curSrc, "src")
    val negLoops = rLoop.select(col("preU").as("src"), col("preU").as("dst"),
      negate(col("weight")).as("weight"))
    val posLoops = rLoop.select(col("curU").as("src"), col("curU").as("dst"),
      col("weight"))

    // 3. compress (lines 533-546) — EdgeOps.compress is exactly it
    val deltaH0 = EdgeOps.compress(
      deltaMapped.unionAll(negEdges).unionAll(posEdges)
        .unionAll(negLoops).unionAll(posLoops), eps)
    val deltaH = if (materialize) deltaH0.ckpt else deltaH0

    // 4. sPre' = sPre overridden by sCur on R (lines 527-531). Returned
    // LAZY: when R = {v: sCur != sPre} (the live-path contract) this
    // equals sCur and callers use that directly.
    val nextPre = sPre
      .join(broadcast(refined.withColumn("_r", lit(1))), Seq("v"), "left")
      .join(sCur.select(col("v"), col("sc").as("scCur")), "v")
      .select(col("v"),
        when(col("_r").isNotNull, col("scCur")).otherwise(col("sc")).as("sc"))
    (deltaH, nextPre)
  }

  /** Step 1 and the compress of step 3 on the driver, for an empty R:
    * each delta row (u, v, w) becomes (pre(u), pre(v), w), and the rows
    * merge as [[EdgeOps.compress]] merges them (canonical endpoint order,
    * weights summed, |w| <= eps dropped; the sums equal the distributed
    * ones exactly for integer-valued weights). Sorted by (src, dst). */
  def deltaOnly(delta: Array[(Long, Long, Double)], pre: Long => Long,
      eps: Double): Array[(Long, Long, Double)] = {
    val sums = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    delta.foreach { case (u, v, w) =>
      val (pu, pv) = (pre(u), pre(v))
      val k = (math.min(pu, pv), math.max(pu, pv))
      sums(k) = sums.getOrElse(k, 0.0) + w
    }
    sums.iterator.collect { case ((s, d), w) if math.abs(w) > eps =>
      (s, d, w)
    }.toArray.sortBy(e => (e._1, e._2))
  }
}
