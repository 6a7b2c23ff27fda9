package graft.algo

import graft.util.Ckpt
import graft.util.Ckpt.DFCkpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{EdgeOps, LocalGraph}
import graft.run.{IterMetric, MetricsSink}

/** Synchronous weighted label propagation (community detection baseline).
  *
  * Not present in the reference repo; added per the north rule. Semantics
  * (deterministic, so output is exactly reproducible across runs and
  * parallelism levels — the analog of the reference's deterministic
  * tie-breaking, /root/reference/src/core/algorithm/deterministic.rs:1-21):
  *
  *  - every vertex starts labeled with its own id;
  *  - each superstep, v adopts the label with the largest total incident
  *    weight among its neighbors' current labels; ties break to the
  *    smallest label id;
  *  - stop when no label changes or maxIter is hit (synchronous LPA can
  *    2-cycle on bipartite structures, hence the cap).
  *
  * One superstep = gather join + hash agg on (v,label) + deterministic
  * argmax via max_by(struct(weight, -label)) — no window shuffle needed.
  */
object LabelPropagation {

  final case class Result(labels: DataFrame, iterations: Int)

  /** @param localSolveVerts vertex cap of the driver-local path, 0 = off:
    *   a graph that [[graft.graph.LocalGraph.collect]] admits (edges within
    *   the driver byte budget; universe = the caller's vertex set, edges
    *   leaving it dropped on both paths, else the edge endpoints) is
    *   solved in one collect, with the distributed path's result.
    *   Exact here: integer-valued weight sums, the same argmax tie policy. */
  def run(
      edges: DataFrame,
      vertices: Option[DataFrame] = None,
      maxIter: Int = 10,
      sink: MetricsSink = MetricsSink.discard,
      localSolveVerts: Long = 0): Result = {

    val canon = EdgeOps.compress(edges).where(col("src") =!= col("dst"))
      .ckpt

    if (localSolveVerts > 0)
      LocalGraph.collect(canon, localSolveVerts, vertices) match {
        case Some(g) =>
          val spark = edges.sparkSession
          import spark.implicits._
          val (local, its) = localLpa(g.vs, g.es, maxIter, sink)
          return Result(local.toSeq.toDF("v", "label"), its)
        case None =>
      }
    val verts = vertices.map(_.select(col("v")).distinct())
      .getOrElse(EdgeOps.vertices(canon))
      .ckpt
    // small vertex sets: broadcast the label table into the gather so the
    // adjacency streams map-side every round — zero per-round shuffle of
    // either table. The ckpt drops stats, so this must be explicit; gated
    // on the (known) vertex count because at web scale the label table is
    // V-sized and must shuffle.
    val nVerts = verts.rows
    // ~32 B per (v, label) row against the heap-derived budget
    val bcastLabels = graft.util.Bcast.fits(nVerts, bytesPerRow = 32)
    // static side repartitioned by the per-round join key; the checkpoint
    // does not keep it, so a shuffled round exchanges it (see PageRank)
    // — only worth a shuffle when the per-round join itself shuffles
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val adj0 = EdgeOps.symmetrize(canon)
    val adj =
      (if (bcastLabels) adj0 else adj0.repartition(parts, col("dst"))).ckpt

    var labels = verts.withColumn("label", col("v")).ckpt
    var it = 0
    var done = nVerts == 0
    while (!done && it < maxIter) {
      val t0 = System.nanoTime()
      val byDst = labels.select(col("v").as("dst"), col("label"))
      val gathered =
        if (bcastLabels) adj.join(broadcast(byDst), "dst")
        else adj.join(byDst.hint("shuffle_hash"), "dst")
      val msgs = gathered
        .groupBy(col("src").as("v"), col("label"))
        .agg(sum(col("weight")).as("w"))
      // argmax weight, tie -> min label: max_by on (w, -label) is a single
      // hash agg, deterministic because (w, -label) pairs are unique per v
      val best = msgs.groupBy("v")
        .agg(max_by(col("label"), struct(col("w"), negate(col("label"))))
          .as("newLabel"))
      // the previous label rides along through the checkpoint so the
      // convergence count is observed by its own job (same as CC)
      val (stepped, sr) = Ckpt.observed(labels.join(best, Seq("v"), "left")
        .select(col("v"), col("label").as("old"),
          coalesce(col("newLabel"), col("label")).as("label")),
        "changed" -> count(when(col("label") =!= col("old"), 1)))
      val changed = sr.getAs[Long]("changed")
      val next = stepped.drop("old")
      sink.add(IterMetric("lpa", 0, it, messages = -1, movesAccepted = changed,
        frontier = -1, qualityDelta = 0.0,
        seconds = (System.nanoTime() - t0) / 1e9))
      labels = next
      it += 1
      done = changed == 0
    }
    Result(labels, it)
  }

  /** Driver-side mirror of one-superstep-per-round synchronous LPA:
    * gather total incident weight per (v, neighbor-label), argmax by
    * (w, -label), apply synchronously, stop on zero changes or maxIter.
    * Exactly the distributed loop's semantics (see run()). */
  private[graft] def localLpa(
      vs: Array[Long],
      es: Array[(Long, Long, Double)],
      maxIter: Int,
      sink: MetricsSink): (Map[Long, Long], Int) = {
    // densify to 0..n-1 (`vs` is sorted, [[LocalGraph]]) and pack a
    // symmetrized CSR once; the sweep then runs on primitive arrays (no
    // per-edge boxing per iteration)
    val n = vs.length
    def dense(v: Long): Int = java.util.Arrays.binarySearch(vs, v)
    val degOut = new Array[Int](n)
    es.foreach { case (s, d, _) =>
      degOut(dense(s)) += 1; degOut(dense(d)) += 1
    }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + degOut(i); i += 1 }
    val nbr = new Array[Int](off(n))
    val wgt = new Array[Double](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    es.foreach { case (s, d, w) =>
      val ds = dense(s); val dd = dense(d)
      nbr(fill(ds)) = dd; wgt(fill(ds)) = w; fill(ds) += 1
      nbr(fill(dd)) = ds; wgt(fill(dd)) = w; fill(dd) += 1
    }
    // labels as dense indices (label id = vs(idx)); init = self.
    // Min-label ties on original ids == min dense index (order-preserving
    // densification), so the tie policy survives the remap.
    var labels = Array.tabulate(n)(identity)
    val accW = new Array[Double](n) // per-vertex scratch, label-indexed
    val touched = new Array[Int](n)
    var it = 0
    var done = n == 0
    while (!done && it < maxIter) {
      val t0 = System.nanoTime()
      val next = new Array[Int](n)
      var changed = 0L
      var v = 0
      while (v < n) {
        var k = off(v); var nTouched = 0
        var bl = -1; var bw = 0.0
        while (k < off(v + 1)) {
          val l = labels(nbr(k))
          if (accW(l) == 0.0) { touched(nTouched) = l; nTouched += 1 }
          accW(l) += wgt(k)
          k += 1
        }
        var t = 0
        while (t < nTouched) {
          val l = touched(t); val w = accW(l)
          if (bl < 0 || w > bw || (w == bw && l < bl)) { bl = l; bw = w }
          accW(l) = 0.0
          t += 1
        }
        val nl = if (bl < 0) labels(v) else bl
        if (nl != labels(v)) changed += 1
        next(v) = nl
        v += 1
      }
      labels = next
      sink.add(IterMetric("lpa", 0, it, messages = -1,
        movesAccepted = changed, frontier = -1, qualityDelta = 0.0,
        seconds = (System.nanoTime() - t0) / 1e9))
      it += 1
      done = changed == 0
    }
    (Array.tabulate(n)(v => vs(v) -> vs(labels(v))).toMap, it)
  }
}
