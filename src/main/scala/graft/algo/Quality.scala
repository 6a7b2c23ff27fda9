package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{EdgeOps, LocalGraph}
import graft.util.{Bcast, Ckpt}

/** Partition quality functions: modularity and CPM.
  *
  * The reference's run() emits a placeholder quality_score of 1.0
  * (/root/reference/src/core/algorithm/hit_leiden.rs:69-75, acknowledged
  * pending in README.md:152); its move *gain* however is real generalized
  * modularity (hit_leiden.rs:250-255), and the HIT-Leiden paper defines
  * both quality functions (Def. 1,
  * docs/papers/2601.08554/2601.08554-docling.md:143). We implement real
  * scoring — one pass each, no iteration:
  *
  *   modularity: Q = W_in/m − γ · Σ_C (d_C / 2m)²
  *   CPM:        Q = W_in − γ · Σ_C n_C·(n_C−1)/2
  *
  * where m = total edge weight, W_in = total intra-community weight
  * (self-loops count once), d_C = Σ weighted degree of members (self-loop
  * counts 2w), n_C = member count.
  */
object Quality {

  /** @param canonical canonical undirected edge table (src<=dst, merged)
    * @param assign (v, community)
    * @param localSolveEdges when > 0 and [[LocalGraph.collect]] admits the
    *   canonical table under this edge cap (and the driver byte budget),
    *   both inputs are collected and the three sums run on the driver —
    *   two collects instead of the distributed pass ([[score]]). The
    *   value is identical for integer-valued weights (exact sums in any
    *   order — the compressed-multiplicity graphs every caller scores);
    *   fractional weights could differ in the last ulp, same as the
    *   distributed path's own shuffle-order nondeterminism. Off by
    *   default; tiny-graph callers opt in.
    */
  def modularity(canonical: DataFrame, assign: DataFrame,
      gamma: Double = 1.0, localSolveEdges: Long = 0): Double = {
    localParts(canonical, assign, localSolveEdges) match {
      case Some((g, commOf)) =>
        modularityFromArrays(g.src, g.dst, g.w, commOf, gamma)
      case None => score(canonical, assign, gamma)._1
    }
  }

  /** Distributed quality and community count in ONE action: m and W_in
    * are observed on the edge ⟕ assignment scan that feeds one
    * per-community aggregate (d_C, n_C), whose collected row holds
    * Σ d_C², Σ n_C(n_C−1)/2 and the number of communities. Edges with an
    * unassigned endpoint count in m only; assigned vertices without
    * edges form communities of degree 0. The sums are exact for
    * integer-valued weights, so the value equals
    * [[modularityFromArrays]]/[[cpmFromArrays]] bit for bit there.
    * @return (modularity, or CPM when `useCpm`; distinct communities of
    *   `assign`) */
  def score(canonical: DataFrame, assign: DataFrame, gamma: Double = 1.0,
      useCpm: Boolean = false): (Double, Long) = {
    val a = assign.select(col("v"), col("community"))
    // an assignment of known, small size is broadcast into both joins
    val aJ = Ckpt.known(assign).fold(a)(n => Bcast.ifFits(a, n, 16))
    val ends = canonical.select(col("src"), col("dst"), col("weight"))
      .join(aJ.select(col("v").as("src"), col("community").as("cu")),
        Seq("src"), "left")
      .join(aJ.select(col("v").as("dst"), col("community").as("cv")),
        Seq("dst"), "left")
    val obs = ends.observe("graft_quality", sum("weight").as("m"),
      sum(when(col("cu") === col("cv"), col("weight"))).as("wIn"))
    // each edge adds w to the degree of both endpoint communities (a
    // self-loop 2w); each assigned vertex adds one member
    val perComm = obs.select(explode(array(
        struct(col("cu").as("community"), col("weight").as("d")),
        struct(col("cv").as("community"), col("weight").as("d")))).as("e"))
      .select(col("e.community"), col("e.d"), lit(0L).as("n"))
      .where(col("community").isNotNull)
      .unionAll(a.select(col("community"), lit(0.0).as("d"),
        lit(1L).as("n")))
      .groupBy("community").agg(sum("d").as("d"), sum("n").as("n"))
    val sums = perComm.agg(sum(col("d") * col("d")),
      sum(col("n") * (col("n") - 1) / 2), count(lit(1)))
    val r = sums.collect()(0)
    // the action's own plan holds the observed accumulators
    val o = sums.queryExecution.observedMetrics("graft_quality")
    def dbl(row: org.apache.spark.sql.Row, i: Int) =
      if (row.isNullAt(i)) 0.0 else row.getDouble(i)
    val (m, wIn) = (dbl(o, 0), dbl(o, 1))
    val q =
      if (useCpm) wIn - gamma * dbl(r, 1)
      else if (m == 0.0) 0.0
      else wIn / m - gamma * dbl(r, 0) / (4.0 * m * m)
    (q, r.getLong(2))
  }

  /** Modularity of the all-singletons partition in closed form: with
    * every vertex its own community, intra-community weight is the
    * self-loop weight alone and d_C = d_v, so
    *   Q = W_self/m − γ · Σ_v (d_v / 2m)²
    * — two aggregations over the canonical table, no assignment join.
    * Same value as `modularity(canonical, v→v)` (the generic path is
    * equivalence-tested against this in FastPathEquivalenceSpec); used
    * where the singleton baseline is wanted without paying the join. */
  def singletonModularity(canonical: DataFrame, gamma: Double = 1.0): Double = {
    val mRow = canonical.agg(sum("weight"),
      sum(when(col("src") === col("dst"), col("weight")))).collect()(0)
    val m = if (mRow.isNullAt(0)) 0.0 else mRow.getDouble(0)
    if (m == 0.0) return 0.0
    val wSelf = if (mRow.isNullAt(1)) 0.0 else mRow.getDouble(1)
    val adj = EdgeOps.symmetrize(canonical)
    val sqRow = EdgeOps.degrees(adj)
      .agg(sum(col("deg") * col("deg"))).collect()(0)
    val sumSq = if (sqRow.isNullAt(0)) 0.0 else sqRow.getDouble(0)
    wSelf / m - gamma * sumSq / (4.0 * m * m)
  }

  /** Constant Potts Model quality (unnormalized, standard form).
    * `localSolveEdges`: same adaptive driver-side path as [[modularity]]. */
  def cpm(canonical: DataFrame, assign: DataFrame,
      gamma: Double = 1.0, localSolveEdges: Long = 0): Double = {
    localParts(canonical, assign, localSolveEdges) match {
      case Some((g, commOf)) => cpmFromArrays(g.src, g.dst, g.w, commOf, gamma)
      case None => score(canonical, assign, gamma, useCpm = true)._1
    }
  }

  /** Driver-side modularity over canonical edges held as primitive
    * arrays + an assignment map — the same sums as the distributed path,
    * exact for integer-valued weights. Mirrors the inner-join semantics:
    * edges with an unassigned endpoint don't count in wIn; unassigned
    * vertices carry no degree. Callers that already hold the graph on the
    * driver (driver queries, Leiden's level-0 local solve, the warm
    * batch's level-1 mirror with its composition) score for free through
    * this. A supergraph scores as its base graph: contraction keeps m,
    * intra-community weight and community degrees. */
  private[graft] def modularityFromArrays(src: Array[Long], dst: Array[Long],
      w: Array[Double], commOf: scala.collection.Map[Long, Long],
      gamma: Double): Double = {
    var m = 0.0
    var wIn = 0.0
    val degOf = scala.collection.mutable.HashMap.empty[Long, Double]
    var i = 0
    while (i < src.length) {
      val (s, d) = (src(i), dst(i))
      m += w(i)
      val cs = commOf.get(s); val cd = commOf.get(d)
      if (cs.isDefined && cd.isDefined && cs.get == cd.get) wIn += w(i)
      // symmetrized degree: w at each endpoint (self-loop twice)
      if (cs.isDefined) degOf(s) = degOf.getOrElse(s, 0.0) + w(i)
      if (cd.isDefined) degOf(d) = degOf.getOrElse(d, 0.0) + w(i)
      i += 1
    }
    if (m == 0.0) return 0.0
    val cdeg = scala.collection.mutable.HashMap.empty[Long, Double]
    degOf.foreach { case (v, dv) =>
      val c = commOf(v)
      cdeg(c) = cdeg.getOrElse(c, 0.0) + dv
    }
    var sumSq = 0.0
    cdeg.valuesIterator.foreach(d => sumSq += d * d)
    wIn / m - gamma * sumSq / (4.0 * m * m)
  }

  /** Driver-side CPM — see [[modularityFromArrays]]. Every key of
    * `commOf` adds `sizeOf(key)` members to its community: 1 for a vertex,
    * the member count for a supernode. */
  private[graft] def cpmFromArrays(src: Array[Long], dst: Array[Long],
      w: Array[Double], commOf: scala.collection.Map[Long, Long],
      gamma: Double, sizeOf: Long => Long = _ => 1L): Double = {
    var wIn = 0.0
    var i = 0
    while (i < src.length) {
      val cs = commOf.get(src(i)); val cd = commOf.get(dst(i))
      if (cs.isDefined && cd.isDefined && cs.get == cd.get) wIn += w(i)
      i += 1
    }
    val csize = scala.collection.mutable.HashMap.empty[Long, Long]
    commOf.foreach { case (k, c) =>
      csize(c) = csize.getOrElse(c, 0L) + sizeOf(k)
    }
    var pairs = 0.0
    // n*(n-1)/2 over longs: n(n-1) is even, so the integer division is
    // the exact binomial (matches the SQL BIGINT arithmetic)
    csize.valuesIterator.foreach(s => pairs += (s * (s - 1) / 2).toDouble)
    wIn - gamma * pairs
  }

  /** Collect gate for the local paths: [[LocalGraph.collect]] with the
    * caller's edge cap and no vertex cap, then the assignment. */
  private def localParts(canonical: DataFrame, assign: DataFrame,
      localSolveEdges: Long): Option[(LocalGraph,
      scala.collection.mutable.HashMap[Long, Long])] = {
    if (localSolveEdges <= 0) return None
    LocalGraph.collect(canonical, Long.MaxValue, maxEdges = localSolveEdges)
      .map { g =>
        val commOf = scala.collection.mutable.HashMap.empty[Long, Long]
        assign.select(col("v"), col("community")).collect()
          .foreach(r => commOf.put(r.getLong(0), r.getLong(1)))
        (g, commOf)
      }
  }
}
