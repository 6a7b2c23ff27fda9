package graft.graph

import graft.util.Bcast
import graft.util.Ckpt.DFCkpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** A graph collected to the driver for a one-core solve over flat arrays
  * (the reference's `InMemoryGraph`, in_memory.rs:4-61).
  *
  * @param es the edges in the table's collect order, weight 1.0 when the
  *   table has no weight column
  * @param universe the vertex universe, sorted ascending and distinct;
  *   evaluated on first use of [[vs]], so callers that read only the
  *   edges never sort the endpoints */
final class LocalGraph(val es: Array[(Long, Long, Double)],
    universe: => Array[Long]) {
  lazy val vs: Array[Long] = universe
}

/** The one driver-local gate: every fast path that collects a graph and
  * solves it on the driver asks [[collect]] for it, and `None` sends the
  * caller to its distributed path. In order:
  *   1. edges: at most `maxEdges`, and their estimated driver bytes
  *      within [[graft.util.Bcast.budgetBytes]];
  *   2. universe: the explicit vertex set if given, with edges that leave
  *      it dropped (the distributed paths never gather across them), else
  *      the edge endpoints;
  *   3. at most `maxVerts` vertices in it. An explicit set is counted on
  *      the cluster before the collect; so is the endpoint set of a large
  *      edge table that could exceed the cap.
  */
object LocalGraph {

  /** Driver bytes per collected edge at the collect's peak: the `Row`
    * (~104 B) and the boxed `(Long, Long, Double)` built from it (~72 B).
    * The endpoint array behind [[LocalGraph.vs]] (16 B) is built after
    * the `Row`s are garbage. */
  private val BytesPerEdge = 176L

  /** Edge count above which a vertex cap is pre-counted on the cluster. */
  private val PreCountEdges = 1_000_000L

  /** Step 1 of [[collect]] on an edge count the caller already has: true
    * iff `nEdges` edges pass `maxEdges` and the driver byte budget. */
  def admits(nEdges: Long, maxEdges: Long): Boolean =
    nEdges <= maxEdges && Bcast.fits(nEdges, BytesPerEdge)

  /** @param canon a materialized canonical edge table (src, dst[, weight])
    * @param vertices optional explicit vertex universe (v) */
  def collect(canon: DataFrame, maxVerts: Long,
      vertices: Option[DataFrame] = None,
      maxEdges: Long = Long.MaxValue): Option[LocalGraph] = {
    val nEdges = canon.rows
    if (!admits(nEdges, maxEdges)) return None
    vertices match {
      case None =>
        // fewer than maxVerts/2 edges cannot have more than maxVerts
        // endpoints: no count (and, uncapped, no endpoint sort) needed
        val capped = 2 * nEdges > maxVerts
        if (capped && nEdges > PreCountEdges &&
            EdgeOps.vertices(canon).count() > maxVerts) return None
        val es = edges(canon)
        val g = new LocalGraph(es, endpoints(es))
        if (capped && g.vs.length > maxVerts) None else Some(g)
      case Some(vdf) =>
        val verts = vdf.select(col("v")).distinct().ckpt
        if (verts.rows > maxVerts) return None
        val vs = sortedDistinct(verts.collect().map(_.getLong(0)))
        def in(v: Long) = java.util.Arrays.binarySearch(vs, v) >= 0
        Some(new LocalGraph(edges(canon).filter(e => in(e._1) && in(e._2)),
          vs))
    }
  }

  private def edges(canon: DataFrame): Array[(Long, Long, Double)] = {
    val w = if (canon.columns.contains("weight")) col("weight") else lit(1.0)
    canon.select(col("src"), col("dst"), w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  }

  private def endpoints(es: Array[(Long, Long, Double)]): Array[Long] = {
    val ends = new Array[Long](es.length * 2)
    for (i <- es.indices) { ends(2 * i) = es(i)._1; ends(2 * i + 1) = es(i)._2 }
    sortedDistinct(ends)
  }

  /** Sorts `a` in place and returns its distinct values. */
  private[graft] def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, n)
  }
}
