package graft.algo

import graft.util.Ckpt
import graft.util.Ckpt.DFCkpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{EdgeOps, LocalGraph}
import graft.run.{IterMetric, MetricsSink}

/** Connected components over an undirected edge table.
  *
  * Semantics match the reference's refinement BFS (component membership,
  * /root/reference/src/core/algorithm/hit_leiden.rs:324-344) but the
  * algorithm is distributed: hash-min label propagation with a
  * pointer-jumping (label-of-label) step each round, so convergence is
  * O(log n) supersteps instead of O(diameter) — the difference between
  * 20 and 20,000 shuffles on a 100 TB web-graph-shaped input.
  *
  * Output: (v LONG, component LONG) where component = min vertex id in
  * the component (deterministic, stable across reruns and parallelism).
  *
  * Each round is: one gather join + agg (neighbor min), one self-join
  * (pointer jump), one change-count agg. `labels` is localCheckpoint'ed
  * per round to keep lineage flat.
  */
object ConnectedComponents {

  final case class Result(components: DataFrame, iterations: Int)

  /** @param edges canonical or raw undirected edge table (src, dst[, weight])
    * @param vertices optional vertex universe; isolated vertices become
    *   their own singleton components.
    * @param localSolveVerts vertex cap of the driver-local path, 0 = off:
    *   a graph that [[graft.graph.LocalGraph.collect]] admits (edges within
    *   the driver byte budget; universe = the caller's vertex set, edges
    *   leaving it dropped on both paths, else the edge endpoints) is
    *   solved in one collect, with the distributed path's result. */
  def run(
      edges: DataFrame,
      vertices: Option[DataFrame] = None,
      maxIter: Int = 50,
      sink: MetricsSink = MetricsSink.discard,
      localSolveVerts: Long = 0): Result = {

    val canon = EdgeOps.simple(edges).ckpt

    if (localSolveVerts > 0)
      LocalGraph.collect(canon, localSolveVerts, vertices) match {
        case Some(g) =>
          val spark = edges.sparkSession
          import spark.implicits._
          return Result(LocalLeiden.localComponents(g.vs,
            g.es.map(e => (e._1, e._2))).toSeq.toDF("v", "component"), 1)
        case None =>
      }
    val verts = vertices.map(_.select(col("v")).distinct())
      .getOrElse(EdgeOps.vertices(canon))
      .ckpt

    // the static adjacency, repartitioned by the per-round join key (dst);
    // the checkpoint does not keep that partitioning (see PageRank), so
    // each round exchanges the edges along with the labels table
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val adj = canon.select(col("src"), col("dst"))
      .unionAll(canon.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("dst"))
      .ckpt

    var labels = verts.withColumn("component", col("v")).ckpt
    var it = 0
    var done = verts.rows == 0
    while (!done && it < maxIter) {
      val t0 = System.nanoTime()
      // gather: min label over neighborhood. shuffle_hash hint: the static
      // adjacency side must not be re-sorted every round (SMJ would)
      val nbrMin = adj.join(labels.hint("shuffle_hash"),
          adj("dst") === labels("v"))
        .groupBy(adj("src").as("v"))
        .agg(min(col("component")).as("nmin"))
      // checkpoint before the self-join: both jump sides read the
      // materialized 1-row-per-vertex table instead of recomputing the
      // full gather twice
      val stepped = labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"), col("component").as("old"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"))
        .ckpt
      // pointer jump: component <- component(component); component ids are
      // always vertex ids of the same component, so the lookup total-joins.
      // The previous label rides along so the convergence count is
      // observed by this checkpoint's own job.
      val (jumped, jr) = Ckpt.observed(stepped.alias("a")
        .join(stepped.select(col("v").as("cv"), col("component").as("cc")),
          col("a.component") === col("cv"), "left")
        .select(col("a.v").as("v"), col("a.old").as("old"),
          coalesce(col("cc"), col("a.component")).as("component")),
        "changed" -> count(when(col("component") =!= col("old"), 1)))
      val changed = jr.getAs[Long]("changed")
      val next = jumped.drop("old")
      sink.add(IterMetric("cc", 0, it, messages = -1, movesAccepted = changed,
        frontier = -1, qualityDelta = 0.0,
        seconds = (System.nanoTime() - t0) / 1e9))
      labels = next
      it += 1
      done = changed == 0
    }
    Result(labels, it)
  }
}
