package graft.algo

import graft.util.Ckpt.DFCkpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{EdgeOps, LocalGraph}
import graft.run.{IterMetric, MetricsSink}

/** Weighted PageRank as a DataFrame power iteration.
  *
  * The reference repo does not ship PageRank; the north rule adds it. The
  * semantics implemented (and oracled in tests by a sequential in-test
  * power iteration) are the standard ones:
  *
  *   r_{t+1}(v) = (1-d)/N + d * ( sum_{u->v} r_t(u) * w(u,v)/wdeg(u)
  *                                + danglingMass_t / N )
  *
  * over the symmetrized adjacency (an undirected link graph: each edge
  * contributes mass both ways, proportionally to weight). Dangling
  * vertices (isolated vertices supplied via `vertices`) spread their mass
  * uniformly. Scores over all supplied vertices sum to 1 at every step.
  *
  * Scale notes: the per-iteration plan is one hash join + one hash
  * aggregation on dst. Both join sides are exchanged every iteration: a
  * local checkpoint does not keep the `repartition` of the static shares
  * table (with AQE on its plan reports `UnknownPartitioning(0)`). `ranks`
  * is localCheckpoint'ed every iteration to keep the plan flat; the
  * adjacency is cached once by the caller. Convergence is the
  * L1 delta, a single scalar agg piggybacked on the same pass.
  */
object PageRank {

  final case class Result(ranks: DataFrame, iterations: Int)

  /** @param edges canonical undirected edge table (src, dst, weight)
    * @param vertices optional full vertex universe (v) — include to give
    *   isolated vertices their (1-d)/N + dangling share; defaults to the
    *   vertices present in `edges`.
    * @param numIter fixed iteration count when tol <= 0, else a cap.
    * @param tol L1 convergence threshold (sum |r_t+1 - r_t| < tol stops).
    * @param localSolveVerts vertex cap of the driver-local path, 0 = off:
    *   a graph that [[graft.graph.LocalGraph.collect]] admits (edges within
    *   the driver byte budget; universe = the caller's vertex set, edges
    *   leaving it dropped on both paths, else the edge endpoints) is
    *   solved in one collect, with the distributed path's result. */
  def run(
      edges: DataFrame,
      vertices: Option[DataFrame] = None,
      damping: Double = 0.85,
      numIter: Int = 20,
      tol: Double = 0.0,
      sink: MetricsSink = MetricsSink.discard,
      localSolveVerts: Long = 0): Result = {

    val canon = EdgeOps.compress(edges)
    if (localSolveVerts <= 0)
      return runDistributed(canon, vertices, damping, numIter, tol, sink)
    val canonC = canon.ckpt
    LocalGraph.collect(canonC, localSolveVerts, vertices) match {
      case Some(g) =>
        val spark = edges.sparkSession
        import spark.implicits._
        val (ranks, its) =
          localPageRank(g.vs, g.es, damping, numIter, tol, sink)
        Result(g.vs.indices.map(i => (g.vs(i), ranks(i))).toDF("v", "rank"),
          its)
      // the gate refused: reuse the materialized canon
      case None => runDistributed(canonC, vertices, damping, numIter, tol,
        sink)
    }
  }

  private def runDistributed(
      canon: DataFrame,
      vertices: Option[DataFrame],
      damping: Double,
      numIter: Int,
      tol: Double,
      sink: MetricsSink): Result = {

    val verts = vertices.map(_.select(col("v")).distinct())
      .getOrElse(EdgeOps.vertices(canon))
      .ckpt
    // the LocalGraph vertex rule: an edge with an endpoint outside an
    // explicit vertex set is dropped before degrees and shares, so no rank
    // mass leaves the set
    val inSet = vertices.fold(canon) { _ =>
      canon.join(verts.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(verts.select(col("v").as("dst")), Seq("dst"), "left_semi")
    }
    val adj = EdgeOps.symmetrize(inSet)
      .ckpt
    val n = verts.rows.toDouble
    if (n == 0) return Result(verts.withColumn("rank", lit(0.0)), 0)

    // out-weight per vertex; isolated vertices have none -> dangling
    val wdeg = EdgeOps.degrees(adj)
    // pre-join the per-edge share w/wdeg(src) once (static across
    // iterations). The repartition by the join key does NOT survive the
    // checkpoint (see the scaladoc): every superstep re-exchanges shares
    // along with the ranks table
    val parts = canon.sparkSession.sessionState.conf.numShufflePartitions
    val shares = adj.join(wdeg, adj("src") === wdeg("v"))
      .select(col("src"), col("dst"), (col("weight") / col("deg")).as("share"))
      .repartition(parts, col("src"))
      .ckpt
    val dangling = verts.join(wdeg, Seq("v"), "left_anti").ckpt
    // computing dangling mass costs one driver job per iteration; skip it
    // entirely for the (overwhelmingly common) no-dangling case
    val hasDangling = dangling.rows > 0

    var ranks = verts.withColumn("rank", lit(1.0 / n)).ckpt
    var it = 0
    var converged = false
    while (it < numIter && !converged) {
      val t0 = System.nanoTime()
      val dMass = if (!hasDangling) 0.0 else {
        val r = dangling.join(ranks, "v").agg(sum("rank")).collect()(0)
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }

      // shuffle_hash: build on the small ranks side; SMJ would re-sort
      // the static 2|E|-row shares table every iteration
      val contribs = shares.join(ranks.hint("shuffle_hash"),
          shares("src") === ranks("v"))
        .select(col("dst").as("v"), (col("share") * col("rank")).as("c"))
      val sums = contribs.groupBy("v").agg(sum("c").as("mass"))
      val newRanks = verts.join(sums, Seq("v"), "left")
        .select(col("v"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("mass"), lit(0.0)) + lit(dMass / n)))
            .as("rank"))
        .ckpt

      val delta =
        if (tol > 0.0) {
          newRanks.join(ranks.withColumnRenamed("rank", "old"), "v")
            .agg(sum(abs(col("rank") - col("old")))).collect()(0).getDouble(0)
        } else -1.0
      sink.add(IterMetric("pagerank", 0, it, messages = -1,
        movesAccepted = -1, frontier = n.toLong, qualityDelta = delta,
        seconds = (System.nanoTime() - t0) / 1e9))
      ranks = newRanks
      it += 1
      if (tol > 0.0 && delta >= 0.0 && delta < tol) converged = true
    }
    Result(ranks, it)
  }

  /** Driver-side mirror of the distributed superstep: symmetrized CSR
    * with per-edge shares w/wdeg(src), dangling mass spread uniformly,
    * r' = (1-d)/n + d*(gathered + dMass/n). Same semantics as
    * runDistributed, but per-vertex sums run in deterministic CSR order
    * instead of shuffle-merge order, so values can differ from it in the
    * last float ulps — the nondeterminism the distributed path already
    * has between its own runs (parity pinned to 1e-12 in
    * FastPathEquivalenceSpec). `vs` is sorted ([[LocalGraph]]); returns
    * ranks indexed as `vs` plus the iteration count. */
  private[graft] def localPageRank(
      vs: Array[Long],
      es: Array[(Long, Long, Double)],
      damping: Double,
      numIter: Int,
      tol: Double,
      sink: MetricsSink): (Array[Double], Int) = {
    val n = vs.length
    if (n == 0) return (Array.empty, 0)
    def idx(v: Long): Int = java.util.Arrays.binarySearch(vs, v)
    // directed adjacency = both directions of every canonical edge
    // (self-loops twice, exactly EdgeOps.symmetrize)
    val outDeg = new Array[Int](n)
    es.foreach { case (s, d, _) => outDeg(idx(s)) += 1; outDeg(idx(d)) += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + outDeg(i); i += 1 }
    val nbr = new Array[Int](off(n))
    val ew = new Array[Double](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    es.foreach { case (s, d, w) =>
      val si = idx(s); val di = idx(d)
      nbr(fill(si)) = di; ew(fill(si)) = w; fill(si) += 1
      nbr(fill(di)) = si; ew(fill(di)) = w; fill(di) += 1
    }
    // weighted degree = sum of incident weights (self-loop counts 2w);
    // per-edge share w/wdeg(src) precomputed exactly as the distributed
    // `shares` projection does, so each edge contributes (w/wdeg)*r with
    // the same per-edge rounding
    val wdeg = new Array[Double](n)
    i = 0
    while (i < n) {
      var k = off(i)
      while (k < off(i + 1)) { wdeg(i) += ew(k); k += 1 }
      i += 1
    }
    val share = new Array[Double](off(n))
    i = 0
    while (i < n) {
      var k = off(i)
      while (k < off(i + 1)) { share(k) = ew(k) / wdeg(i); k += 1 }
      i += 1
    }
    var ranks = Array.fill(n)(1.0 / n)
    var it = 0
    var converged = false
    while (it < numIter && !converged) {
      val t0 = System.nanoTime()
      var dMass = 0.0
      i = 0
      while (i < n) { if (off(i) == off(i + 1)) dMass += ranks(i); i += 1 }
      val mass = new Array[Double](n)
      i = 0
      while (i < n) {
        if (off(i) < off(i + 1)) {
          val r = ranks(i)
          var k = off(i)
          while (k < off(i + 1)) { mass(nbr(k)) += share(k) * r; k += 1 }
        }
        i += 1
      }
      val next = new Array[Double](n)
      var delta = 0.0
      i = 0
      while (i < n) {
        next(i) = (1.0 - damping) / n +
          damping * (mass(i) + dMass / n)
        delta += math.abs(next(i) - ranks(i))
        i += 1
      }
      sink.add(IterMetric("pagerank", 0, it, messages = -1,
        movesAccepted = -1, frontier = n.toLong,
        qualityDelta = if (tol > 0.0) delta else -1.0,
        seconds = (System.nanoTime() - t0) / 1e9))
      ranks = next
      it += 1
      if (tol > 0.0 && delta < tol) converged = true
    }
    (ranks, it)
  }
}
