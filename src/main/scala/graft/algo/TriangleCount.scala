package graft.algo

import graft.util.Ckpt.DFCkpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{EdgeOps, LocalGraph}

/** Exact triangle counting over an undirected simple graph.
  *
  * Not in the reference repo; added per the north rule ("triangle counts
  * exactly"). Algorithm: degree-based edge orientation + per-edge
  * adjacency-list intersection (the "edge iterator" with orientation).
  * Orienting every edge from its lower-(degree, id) endpoint to its
  * higher one bounds each vertex's out-degree by O(sqrt(E)), which is
  * what keeps the per-edge work from exploding on hub vertices at web
  * scale (a pure id orientation would put every hub's closing work in
  * one task; degree orientation is the skew handling).
  *
  * Each triangle {a,b,c} with oriented edges a->b, a->c, b->c is found
  * exactly once: at edge (a,b) as c in N+(a) /\ N+(b). The intersection
  * form evaluates |E| rows (each doing O(outdeg) set work) instead of
  * materializing the |wedges| >> |E| wedge stream a self-join would —
  * measured 5x faster at sf0.1 (93M wedges, 39.5M triangles) with
  * identical results.
  */
object TriangleCount {

  /** Total triangle count in the graph.
    * @param localSolveVerts vertex cap of the driver-local path, 0 = off:
    *   a graph that [[graft.graph.LocalGraph.collect]] admits (edges within
    *   the driver byte budget; universe = the caller's vertex set, edges
    *   leaving it dropped on both paths, else the edge endpoints) is
    *   solved in one collect, with the distributed path's result. */
  def total(edges: DataFrame, localSolveVerts: Long = 0): Long = {
    // needUniverse=false: the total doesn't credit per-vertex rows, so
    // the simple graph's own endpoints suffice — no distinct-vertex job
    localCounts(edges, localSolveVerts, needUniverse = false) match {
      case Some((total, _, _)) => return total
      case None =>
    }
    val r = closing(edges).select(size(col("cs")).cast("long").as("n"))
      .agg(sum("n")).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** (v, triangles): number of triangles each vertex participates in.
    * Vertices in no triangle (including isolated ones in `edges`) get 0.
    *
    * Credit assignment per closing row (u, w, cs): u and w each gain
    * |cs| (they sit in every triangle the edge closes), each c in cs
    * gains 1 — so every triangle credits exactly its three vertices.
    */
  def perVertex(edges: DataFrame, localSolveVerts: Long = 0): DataFrame = {
    localCounts(edges, localSolveVerts) match {
      case Some((_, vs, perV)) =>
        val spark = edges.sparkSession
        import spark.implicits._
        return vs.indices.map(i => (vs(i), perV(i))).toDF("v", "triangles")
      case None =>
    }
    val verts = EdgeOps.vertices(edges)
    val cl = closing(edges)
    val credits = cl
      .select(col("u").as("v"), size(col("cs")).cast("long").as("n"))
      .unionAll(cl.select(col("w").as("v"),
        size(col("cs")).cast("long").as("n")))
      .unionAll(cl.select(explode(col("cs")).as("v"), lit(1L).as("n")))
    val perV = credits.groupBy("v").agg(sum("n").as("triangles"))
    verts.join(perV, Seq("v"), "left")
      .select(col("v"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Driver-side exact count over the simple graph: canonical distinct
    * edges collected, (deg, id)-oriented out-neighbor bitsets, each edge
    * (u, w) closes |N+(u) /\ N+(w)| triangles — the identical counting
    * scheme as [[closing]], pure integer arithmetic, so total and
    * per-vertex credits are exactly equal to the distributed path's.
    * Returns (total, sorted vertex universe, per-vertex counts) when
    * [[LocalGraph.collect]] admits the graph, else None. */
  private def localCounts(edges: DataFrame, localSolveVerts: Long,
      needUniverse: Boolean = true)
      : Option[(Long, Array[Long], Array[Long])] = {
    if (localSolveVerts <= 0) return None
    val simple = EdgeOps.simple(edges).ckpt
    // perVertex credits the full universe, self-loop-only vertices too
    val universe =
      if (needUniverse) Some(EdgeOps.vertices(edges)) else None
    LocalGraph.collect(simple, localSolveVerts, universe).map(bitsetCounts)
  }

  private def bitsetCounts(g: LocalGraph): (Long, Array[Long], Array[Long]) = {
    val (vs, es) = (g.vs, g.es)
    val n = vs.length
    def pos(v: Long): Int = java.util.Arrays.binarySearch(vs, v)
    val deg = new Array[Int](n)
    es.foreach { case (u, w, _) => deg(pos(u)) += 1; deg(pos(w)) += 1 }
    // orient u -> w iff (deg(u), u) < (deg(w), w); out-bitsets bounded by
    // the orientation's O(sqrt(E)) out-degree cap
    val words = (n + 63) >> 6
    val out = new Array[Array[Long]](n)
    def bits(i: Int): Array[Long] = {
      if (out(i) == null) out(i) = new Array[Long](words)
      out(i)
    }
    def lt(a: Int, b: Int): Boolean =
      deg(a) < deg(b) || (deg(a) == deg(b) && vs(a) < vs(b))
    es.foreach { case (uu, ww, _) =>
      val a = pos(uu); val b = pos(ww)
      val (u, w) = if (lt(a, b)) (a, b) else (b, a)
      bits(u)(w >> 6) |= 1L << (w & 63)
    }
    var total = 0L
    val perV = new Array[Long](n)
    es.foreach { case (uu, ww, _) =>
      val a = pos(uu); val b = pos(ww)
      val (u, w) = if (lt(a, b)) (a, b) else (b, a)
      val bu = out(u); val bw = out(w)
      if (bu != null && bw != null) {
        var k = 0
        var cnt = 0L
        while (k < words) {
          var inter = bu(k) & bw(k)
          if (inter != 0L) {
            cnt += java.lang.Long.bitCount(inter)
            // credit each closing vertex c
            while (inter != 0L) {
              val c = (k << 6) + java.lang.Long.numberOfTrailingZeros(inter)
              perV(c) += 1
              inter &= inter - 1
            }
          }
          k += 1
        }
        if (cnt > 0) { total += cnt; perV(u) += cnt; perV(w) += cnt }
      }
    }
    (total, vs, perV)
  }

  /** For each oriented edge (u, w): cs = N+(u) /\ N+(w), the vertices
    * closing a triangle over it. Edges whose w has no out-neighbors are
    * dropped (they close nothing — inner join). */
  private def closing(edges: DataFrame): DataFrame = {
    val simple = EdgeOps.simple(edges)

    // unweighted degree on the symmetrized view
    val deg = simple.select(col("src").as("v"))
      .unionAll(simple.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))

    // orient u -> v iff (deg(u), u) < (deg(v), v)
    val withDeg = simple
      .join(deg.select(col("v").as("src"), col("deg").as("dsrc")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("ddst")), "dst")
    val oriented = withDeg.select(
      when(struct(col("dsrc"), col("src")) < struct(col("ddst"), col("dst")),
        struct(col("src").as("u"), col("dst").as("w")))
        .otherwise(struct(col("dst").as("u"), col("src").as("w")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
      .ckpt

    // out-adjacency lists: <= V rows, O(E) total payload, every list
    // bounded by the orientation's O(sqrt(E)) out-degree cap
    val adjList = oriented.groupBy(col("u"))
      .agg(collect_list(col("w")).as("nbrs")).ckpt

    // The ckpt drops plan statistics (GraftStatsReset), so Catalyst sees
    // defaultSizeInBytes and never auto-broadcasts; gate explicitly on
    // the (known) materialized size. Payload is O(E) list entries per
    // side and BOTH projections are broadcast at once, so the byte
    // estimate is 2 x ~24 B per oriented edge against the heap-derived
    // budget (graft.util.Bcast). Above the budget both joins shuffle.
    val nOriented = oriented.rows
    def side(df: DataFrame): DataFrame =
      graft.util.Bcast.ifFits(df, nOriented, bytesPerRow = 48)
    // the probe side drives the whole closing pipeline (both joins chain
    // inside one codegen stage when broadcast): AQE's size-based
    // coalescing packs this few-MB table into 1-2 partitions and would
    // run the O(E * outdeg) evaluation nearly single-threaded, so spread
    // it across the session parallelism explicitly
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    oriented.repartition(parts)
      .join(side(adjList.select(col("u"), col("nbrs").as("nu"))), "u")
      .join(side(adjList.select(col("u").as("w"), col("nbrs").as("nw"))),
        "w")
      .select(col("u"), col("w"),
        array_intersect(col("nu"), col("nw")).as("cs"))
  }
}
