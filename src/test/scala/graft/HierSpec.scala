package graft

import org.apache.spark.sql.functions._
import graft.algo.{Incremental, Leiden, Quality}
import graft.graph.EdgeOps
import graft.util.Ckpt.DFCkpt

/** The maintained upper hierarchy — the warm mirror solve below the
  * driver bound and the delta-scoped distributed branch above it —
  * against the supergraph re-solve path it replaces.
  */
class HierSpec extends SparkSpecBase {

  private def sbm(n: Long, seed: Long = 7): org.apache.spark.sql.DataFrame =
    graft.source.CodeTableSynth.sbmEdges(spark, n, nBlocks = 4,
      degIntra = 4, degInter = 1, seed = seed)

  /** The re-solve oracle: an update from a state with no maintained
    * composition takes the supergraph re-solve, as after a resume. */
  private def resolveUpdate(st: Incremental.State,
      b: org.apache.spark.sql.DataFrame): Incremental.State =
    Incremental.update(st.copy(upper = None), b)

  private def modularity(st: Incremental.State): Double =
    Quality.modularity(st.canon,
      st.assign.select(col("v"), col("community")), 1.0)

  /** every community's induced subgraph must be connected (the Leiden
    * guarantee the top-level repair enforces) */
  private def assertConnected(st: Incremental.State): Unit = {
    val assign = toMapLL(st.assign.select(col("v"), col("community")))
    val es = st.canon.collect().map(r => (r.getLong(0), r.getLong(1)))
    val byComm = assign.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    byComm.foreach { case (c, members) =>
      if (members.size > 1) {
        val intra = es.filter { case (u, v) =>
          members.contains(u) && members.contains(v)
        }
        val comp = graft.algo.LocalLeiden.localComponents(
          members.toArray, intra)
        assert(comp.values.toSet.size == 1,
          s"community $c is disconnected: ${comp.values.toSet.size} parts")
      }
    }
  }

  test("hier path: N insert batches track the re-solve path within the " +
      "0.001 quality band, deterministic across runs") {
    val g = sbm(600)
    val (init, batches) = Incremental.paperSplit(g, 0.7, 60, 4)
    var hier = Incremental.initial(init)
    assert(hier.upper.isDefined,
      "local path must build the maintained composition")
    var solve = hier
    var hier2 = Incremental.initial(init)
    // the reference's equivalence band (quality delta <= 0.001,
    // equivalence.rs:21-27), held EVERY batch — fresh-seat rebuild keeps
    // the live path at re-solve quality, not merely drifting within it
    var k = 0
    for (b <- batches) {
      hier = Incremental.update(hier, b)
      solve = resolveUpdate(solve, b)
      hier2 = Incremental.update(hier2, b)
      k += 1
      val qh = modularity(hier)
      val qs = modularity(solve)
      assert(math.abs(qh - qs) <= 0.001 + 1e-9,
        s"batch $k: hier quality $qh vs re-solve $qs — outside the " +
          "0.001 equivalence band")
    }
    // determinism: identical runs produce identical assignments
    val a = toMapLL(hier.assign.select(col("v"), col("community")))
    val b = toMapLL(hier2.assign.select(col("v"), col("community")))
    assert(a == b, "hierarchy path is not deterministic")
    // every vertex still assigned
    assert(hier.assign.count() == solve.assign.count())
    assertConnected(hier)
  }

  test("delta-scoped distributed upper maintenance past the driver " +
      "bound: tracks per-batch re-solve within the 0.001 band, stays " +
      "connected, covers every vertex") {
    // localSolveEdges = 4 keeps every supergraph over the driver bound,
    // forcing the r6 delta-scoped distributed branch on every batch;
    // the baseline run clears the maintained upper assignment before
    // each update, which IS the old per-batch full re-solve behavior
    val g = sbm(400, seed = 13)
    val (init, batches) = Incremental.paperSplit(g, 0.7, 50, 3)
    val cfg = Leiden.Config(localSolveEdges = 4)
    var delta = Incremental.initial(init, cfg)
    assert(delta.upperAssign.isDefined,
      "over-bound initial must seed the maintained upper assignment")
    var resolve = Incremental.initial(init, cfg)
    var k = 0
    for (b <- batches) {
      delta = Incremental.update(delta, b, cfg)
      assert(delta.upperAssign.isDefined,
        s"batch $k lost the maintained upper assignment")
      resolve = Incremental.update(resolve.copy(upperAssign = None), b, cfg)
      k += 1
      // pruned every batch: exactly one row per supergraph vertex
      val ua = delta.upperAssign.get.select("v").collect().map(_.getLong(0))
      val superVerts = EdgeOps.vertices(delta.superCanon.get).collect()
        .map(_.getLong(0)).toSet
      assert(ua.length == ua.toSet.size,
        s"batch $k: duplicate upper-assignment rows")
      assert(ua.toSet == superVerts,
        s"batch $k: upper assignment has ${ua.toSet.size} supernodes, " +
          s"supergraph ${superVerts.size}")
      val qd = modularity(delta)
      val qr = modularity(resolve)
      assert(math.abs(qd - qr) <= 0.001 + 1e-9,
        s"batch $k: delta-scoped $qd vs re-solve $qr — outside the " +
          "0.001 equivalence band")
      assert(delta.assign.count() == resolve.assign.count(),
        s"batch $k coverage")
    }
    assertConnected(delta)
  }

  test("delta-scoped distributed upper: deletion that disconnects a " +
      "community triggers the scoped repair") {
    // same bridge-deletion shape as the hier-path test below, but with
    // the supergraph forced over the driver bound so the r6 distributed
    // delta-scoped branch (and its scoped connectivity repair) handles
    // the split
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (10L, 11L, 1.0), (11L, 12L, 1.0), (12L, 10L, 1.0),
      (2L, 10L, 3.0))
    val cfg = Leiden.Config(localSolveEdges = 0)
    var st = Incremental.initial(g, cfg)
    assert(st.upperAssign.isDefined)
    st = Incremental.update(st, edges((2L, 10L, -3.0)), cfg)
    assertConnected(st)
    val assign = toMapLL(st.assign.select(col("v"), col("community")))
    assert(assign(0L) == assign(1L) && assign(1L) == assign(2L))
    assert(assign(10L) == assign(11L) && assign(11L) == assign(12L))
    assert(assign(0L) != assign(10L),
      s"deleted bridge left both triangles in one community: $assign")
  }

  test("delta-scoped repair: a split fragment never takes the stale " +
      "label of an untouched community") {
    // community 0 = triangles {0,1,2} and {10,11,12} joined by a bridge;
    // the untouched triangle {20,21,22} carries the drifted label 10 —
    // the min member of the fragment the bridge deletion splits off
    val g = EdgeOps.compress(edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (10L, 11L, 1.0), (11L, 12L, 1.0), (12L, 10L, 1.0),
      (2L, 10L, 3.0),
      (20L, 21L, 1.0), (21L, 22L, 1.0), (22L, 20L, 1.0))).ckpt
    val s = spark
    import s.implicits._
    val assign = Seq(0L, 1L, 2L, 10L, 11L, 12L, 20L, 21L, 22L)
      .map(v => (v, if (v >= 20L) 10L else 0L, v))
      .toDF("v", "community", "subcomm").ckpt
    val cfg = Leiden.Config(localSolveEdges = 0)
    var st = Incremental.State(g, assign,
      m2 = 2.0 * EdgeOps.totalWeight(g), upperAssign = Some(assign))
    st = Incremental.update(st, edges((2L, 10L, -3.0)), cfg)
    assertConnected(st)
    val comm = toMapLL(st.assign.select(col("v"), col("community")))
    assert(comm(10L) != comm(20L),
      s"split fragment merged with the untouched community: $comm")
    assert(comm(0L) != comm(10L), s"bridge deletion did not split: $comm")
    assert(comm.values.max <= st.maxId,
      s"a community label is above the id watermark ${st.maxId}: $comm")
  }

  test("hier path: deletion batch that disconnects a community triggers " +
      "the scoped top-level repair") {
    // two triangles joined by a single bridge: one community initially;
    // deleting the bridge must split it into two connected communities
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (10L, 11L, 1.0), (11L, 12L, 1.0), (12L, 10L, 1.0),
      (2L, 10L, 3.0))
    var st = Incremental.initial(g)
    st = Incremental.update(st, edges((2L, 10L, -3.0)))
    assertConnected(st)
    val assign = toMapLL(st.assign.select(col("v"), col("community")))
    assert(assign(0L) == assign(1L) && assign(1L) == assign(2L))
    assert(assign(10L) == assign(11L) && assign(11L) == assign(12L))
    assert(assign(0L) != assign(10L),
      s"deleted bridge left both triangles in one community: $assign")
  }

  test("hier path: mixed insert/delete batches stay in band and keep " +
      "the id watermark monotone") {
    val g = sbm(400, seed = 13)
    val (init, batches) = Incremental.paperSplit(g, 0.75, 40, 2)
    var hier = Incremental.initial(init)
    var solve = hier
    var lastMax = hier.maxId
    for (b <- batches) {
      // insertions plus a deletion echo of half the previous edges
      hier = Incremental.update(hier, b)
      solve = resolveUpdate(solve, b)
      assert(hier.maxId >= lastMax, "id watermark went backwards")
      lastMax = hier.maxId
      val del = b.limit(10).select(col("src"), col("dst"),
        negate(col("weight")).as("weight"))
      hier = Incremental.update(hier, del)
      solve = resolveUpdate(solve, del)
    }
    val qh = modularity(hier)
    val qs = modularity(solve)
    assert(math.abs(qh - qs) <= 0.001,
      s"hier quality $qh vs re-solve $qs after mixed batches")
    assertConnected(hier)
  }

  test("hier cache absent (resume) falls back to re-solve and rebuilds") {
    val g = sbm(300, seed = 5)
    val (init, batches) = Incremental.paperSplit(g, 0.8, 30, 2)
    var st = Incremental.initial(init)
    // simulate resume: hierarchy (and mirror) gone
    st = st.copy(superCache = None, upper = None)
    st = Incremental.update(st, batches.head)
    assert(st.upper.isDefined,
      "re-solve must rebuild the maintained composition")
    st = Incremental.update(st, batches(1))
    assert(st.assign.count() > 0)
    assertConnected(st)
  }
}
