package graft

import org.apache.spark.sql.functions._
import graft.algo.{Incremental, Leiden, Quality}
import graft.graph.EdgeOps
import graft.run.MetricsSink
import graft.util.Bcast
import graft.util.Ckpt.DFCkpt

/** Incremental (HIT) contract: delta batches replayed against warm state
  * vs a cold full recompute (reference policy: quality delta <= 0.001,
  * /root/reference/src/core/validation/equivalence.rs:21-27;
  * paper_split shape /root/reference/src/benchmark/dynamic_graph.rs:62-115).
  */
class IncrementalSpec extends SparkSpecBase {

  test("paper_split: ring-100 -> 80 initial edges, 4 cumulative batches of 5") {
    val ring = edges((0L until 100L).map(i => (i, (i + 1) % 100, 1.0)): _*)
    val (init, batches) = Incremental.paperSplit(ring, 0.8, 5, 4)
    assert(init.count() == 80)
    assert(batches.map(_.count()).toSeq == Seq(5L, 5L, 5L, 5L))
    // batches are disjoint and union to the full ring
    val all = batches.foldLeft(init)(_ unionAll _)
    assert(all.count() == 100)
    assert(all.select("src", "dst").distinct().count() == 100)
  }

  test("warm-start replay quality within 0.001 of cold recompute") {
    val es = new scala.util.Random(7).shuffle(
      (0L until 60L).flatMap { i =>
        // two planted blocks of 30 with a few cross edges
        val blk = i / 30
        Seq((i, blk * 30 + (i + 1) % 30, 1.0), (i, blk * 30 + (i + 7) % 30, 1.0))
      } ++ Seq((0L, 35L, 1.0), (10L, 45L, 1.0), (20L, 55L, 1.0)))
    val g = edges(es: _*)
    val (init, batches) = Incremental.paperSplit(g, 0.8, 8, 3)

    var state = Incremental.initial(init)
    for (b <- batches) state = Incremental.update(state, b)

    val cumulative = batches.foldLeft(init)(_ unionAll _)
    val canon = EdgeOps.compress(cumulative)
    val warmQ = Quality.modularity(canon,
      state.assign.select(col("v"), col("community")))
    val cold = Incremental.initial(cumulative)
    val coldQ = Quality.modularity(canon,
      cold.assign.select(col("v"), col("community")))

    // tolerance: the reference's 0.001 gate compares two modes on the SAME
    // state; incremental-vs-cold drift is bounded instead by the paper's
    // reported run-to-run modularity noise of ~0.02
    // (docs/papers/2601.08554/2601.08554-docling.md:520)
    assert(math.abs(warmQ - coldQ) <= 0.02 + 1e-9,
      s"warm=$warmQ cold=$coldQ")
    // invariants: every vertex assigned exactly once
    val n = EdgeOps.vertices(canon).count()
    assert(state.assign.count() == n)
    assert(state.assign.select("v").distinct().count() == n)
  }

  test("deletion delta: removing the bridge re-splits communities") {
    // two triangles + strong bridge -> one community; delete bridge ->
    // two communities (delta-activation on deleted intra-community edge,
    // hit_leiden.rs:173-176)
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 1.0))
    val bridge = edges((2L, 3L, 5.0))
    var state = Incremental.initial(EdgeOps.compress(g.unionAll(bridge)))
    // with the strong bridge, 2 and 3 must share a community (the optimal
    // partition at gamma=1 pairs them: {0,1},{2,3},{4,5})
    val before = canonicalPartition(
      toMapLL(state.assign.select(col("v"), col("community"))))
    assert(before(2L) == before(3L), s"before=$before")

    state = Incremental.update(state, edges((2L, 3L, -5.0)))
    val after = canonicalPartition(
      toMapLL(state.assign.select(col("v"), col("community"))))
    assert(after == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L), s"after=$after")
    // the graph itself dropped the bridge (compress + epsilon)
    assert(state.canon.where(col("src") === 2 && col("dst") === 3).count() == 0)
  }

  test("largest component keeps the subcommunity id on a split") {
    // subcommunity 9 = {1,2,3,4,5} (id 9 is historical — no member is 9,
    // exercising id stability rather than min-member relabeling) split
    // into {1,2,3} (triangle) and {4,5}: the larger fragment must KEEP id
    // 9 (hit_leiden.rs:352-370), the smaller gets a fresh id above the
    // watermark
    val canon = EdgeOps.compress(edges(
      (1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0), (4L, 5L, 1.0)))
    val adj = EdgeOps.symmetrize(canon)
    val deg = EdgeOps.degrees(adj)
    val s = spark
    import s.implicits._
    val assign = Seq((1L, 9L, 9L), (2L, 9L, 9L), (3L, 9L, 9L),
      (4L, 9L, 9L), (5L, 9L, 9L)).toDF("v", "community", "subcomm")
    val affected = Seq(3L, 4L).toDF("v")
    val ref = Leiden.refinement(adj, deg, m2 = 8.0, assign, affected,
      Leiden.Config(), graft.run.MetricsSink.discard, level = 0,
      isInitial = false, freshIdBase = 100L)
    val sc = toMapLL(ref.assign.select("v", "subcomm"))
    assert(sc(1L) == 9L && sc(2L) == 9L && sc(3L) == 9L,
      s"largest fragment lost its id: $sc")
    assert(sc(4L) == 101L && sc(5L) == 101L, s"fresh id wrong: $sc")
    assert(ref.freshUsed == 1L)
    val refined = ref.refined.collect().map(_.getLong(0)).toSet
    assert(refined == Set(4L, 5L))
  }

  test("superCanon invariant: state supergraph == contract(canon, subcomm)") {
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 1.0), (2L, 3L, 5.0))
    var state = Incremental.initial(g)
    state = Incremental.update(state, edges((2L, 3L, -5.0), (0L, 4L, 0.5)))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sc = state.assign.select(col("v"), col("subcomm"))
    val expect = m(EdgeOps.compress(state.canon
      .join(sc.select(col("v").as("src"), col("subcomm").as("su")), "src")
      .join(sc.select(col("v").as("dst"), col("subcomm").as("sv")), "dst")
      .select(col("su").as("src"), col("sv").as("dst"), col("weight"))))
    val got = m(state.superCanon.get)
    assert(got == expect, s"got=$got expect=$expect")
  }

  test("fresh split ids never alias vertex ids the batch itself introduced") {
    // initial graph tops out at id 5 (watermark 5). The batch introduces
    // NEW vertices 6,7,8 AND disconnects vertex 1 from its subcommunity,
    // forcing a fresh split id. Pre-fix, the fresh id was allocated at
    // watermark+1 = 6 — exactly new vertex 6's singleton subcomm id — and
    // the supergraph contraction silently glued {1} to {6,7,8}.
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (0L, 2L, 1.0),
      (3L, 4L, 1.0), (3L, 5L, 1.0), (4L, 5L, 1.0))
    var state = Incremental.initial(g)
    state = Incremental.update(state, edges(
      (6L, 7L, 1.0), (6L, 8L, 1.0), (7L, 8L, 1.0),
      (0L, 1L, -1.0), (1L, 2L, -1.0)))
    val comm = toMapLL(state.assign.select(col("v"), col("community")))
    // vertex 1 is now edge-free: it must sit alone, NOT inside the new
    // 6-7-8 triangle's community
    assert(comm(1L) != comm(6L) && comm(1L) != comm(7L) &&
      comm(1L) != comm(8L), s"aliased fresh id glued 1 to {6,7,8}: $comm")
    assert(comm(6L) == comm(7L) && comm(7L) == comm(8L), s"comm=$comm")
    assert(comm(0L) == comm(2L), s"comm=$comm")
    // the watermark advanced past both the new vertex ids and the split
    assert(state.maxId >= 8L, s"maxId=${state.maxId}")
    // isolated-supernode fallback: vertex 1 still has an assignment row
    assert(state.assign.where(col("v") === 1L).count() == 1)
  }

  test("insertion delta merges two components") {
    val g = edges((0L, 1L, 1.0), (1L, 2L, 1.0), (3L, 4L, 1.0), (4L, 5L, 1.0))
    var state = Incremental.initial(g)
    state = Incremental.update(state, edges((2L, 3L, 2.0), (0L, 5L, 2.0),
      (1L, 4L, 2.0)))
    assert(state.assign.count() == 6)
    val canon = state.canon
    assert(canon.count() == 7)
  }

  test("delta prologue: the driver path == the forced-distributed path " +
      "on a hand-built delta") {
    // two 6-cliques joined by a weight-2 bridge (5, 6); pendant 12 on 5
    val cliques = for (b <- Seq(0L, 6L); i <- 0L until 6L; j <- i + 1 until 6L)
      yield (b + i, b + j, 1.0)
    val s0 = Incremental.initial(edges(cliques ++ Seq((5L, 6L, 2.0),
      (12L, 5L, 1.0)): _*))
    val delta = edges(
      // deletions of existing edges: 5 and 12 sit in one community, so
      // only the delete activation puts them on the frontier; the
      // pendant cut leaves 12 to refinement's split
      (5L, 0L, -1.0), (5L, 1L, -1.0), (5L, 2L, -1.0), (5L, 3L, -1.0),
      (12L, 5L, -1.0),
      (0L, 7L, -1.0),                 // deletion of an absent pair
      (3L, 3L, 1.0),                  // self-loop
      (100L, 101L, 1.0),              // edge between two brand-new ids
      (2L, 9L, 1.0), (9L, 2L, -1.0),  // rows that net to zero
      (4L, 8L, 1.0), (4L, 8L, 1.0),   // repeated rows
      (102L, 10L, 1.0))               // new id onto an existing vertex
    val next = edges((100L, 0L, 1.0), (101L, 1L, 1.0), (5L, 6L, -1.0),
      (102L, 11L, 1.0))
    def facts(st: Incremental.State) =
      (st.assign.collect().map(r =>
        r.getAs[Long]("v") -> (r.getAs[Long]("community"),
          r.getAs[Long]("subcomm"))).toMap, st.maxId, st.m2)
    // the first movement sweep's frontier is the delta activation
    def frontier0(sink: MetricsSink) = sink.all
      .find(m => m.algo == "leiden.movement" && m.iteration == 0)
      .map(_.frontier)
    val (sinkD, sinkF) = (new MetricsSink, new MetricsSink)
    val driver = Incremental.update(s0, delta, sink = sinkD)
    val driver2 = Incremental.update(driver, next)
    // a 64-byte budget refuses the delta collect: distributed prologue
    val (dist, dist2) = withByteBudget(64L) {
      val d = Incremental.update(s0, delta, sink = sinkF)
      (d, Incremental.update(d, next))
    }
    assert(frontier0(sinkD).isDefined && frontier0(sinkD) == frontier0(sinkF),
      s"activation: ${frontier0(sinkD)} vs ${frontier0(sinkF)}")
    assert(facts(driver) == facts(dist), "the prologues' next states differ")
    assert(facts(driver2) == facts(dist2),
      "the following batch diverged after the two prologues")
    val comm = facts(driver)._1
    assert(comm.size == 16, "three new ids join the thirteen")
    assert(comm(12L)._2 != comm(0L)._2, s"12 split off: $comm")
  }

  test("delta prologue: a mid-size delta (150k distinct ids) takes the " +
      "driver path and matches the distributed prologue") {
    // a 100k-vertex ring; 100k delta rows with endpoints in [0, 400k)
    // (each endpoint map is injective there), one row in five a deletion
    val nV = 100000L
    val canon = EdgeOps.compress(spark.range(0, nV).select(
      col("id").as("src"), ((col("id") + 1) % nV).as("dst"),
      lit(1.0).as("weight"))).ckpt
    val assign = spark.range(0, nV).select(col("id").as("v"),
      (col("id") / 50).cast("long").as("community"),
      (col("id") / 10).cast("long").as("subcomm")).ckpt
    val st = Incremental.hydrate(
      Incremental.State(canon, assign, 2.0 * nV))
    val deltaC = EdgeOps.compress(spark.range(0, 100000L).select(
      ((col("id") * 7919L + 1L) % 400000L).as("src"),
      ((col("id") * 104729L + 3L) % 400000L).as("dst"),
      when(col("id") % 5 === 0, -1.0).otherwise(1.0).as("weight"))).ckpt
    // within the driver prologue's byte gate at the budget's 512 MB cap
    assert(withByteBudget(512L << 20)(
      Bcast.fits(deltaC.rows, Incremental.DeltaRowBytes)), deltaC.rows)
    val drv = Incremental.driverPrologue(st, deltaC)
    val dist = Incremental.distPrologue(st, deltaC)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("v").collect().map(_.getLong(0)).sorted.toSeq
    def byV(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ids(drv.deltaDeg).size >= 150000, ids(drv.deltaDeg).size)
    assert(ids(drv.newVerts) == ids(dist.newVerts))
    assert(drv.dMax == dist.dMax)
    assert(byV(drv.deltaDeg) == byV(dist.deltaDeg))
    assert(byV(drv.degNew) == byV(dist.degNew))
    assert(ids(drv.activated).nonEmpty &&
      ids(drv.activated) == ids(dist.activated))
    val held = drv.held.get
    assert(ids(drv.k0) == ids(dist.k0) && held.k0.toSeq == ids(dist.k0))
    // the endpoints' assignment rows; a new id is its own singleton
    def rowsOf(vs: org.apache.spark.sql.DataFrame) = vs
      .join(st.assign, Seq("v"), "left")
      .select(col("v"), coalesce(col("community"), col("v")),
        coalesce(col("subcomm"), col("v")))
    assert(held.k0Scs.toSet == rowsOf(dist.k0).collect()
      .map(_.getLong(2)).toSet)
    // the frontier's rows, as movement would collect them: community,
    // subcomm and post-delta degree
    val deg0 = st.deg.get.join(dist.deltaDeg, Seq("v"), "left")
      .select(col("v"), (col("deg") + coalesce(col("dd"), lit(0.0)))
        .as("deg"))
      .unionAll(dist.degNew)
    val want = rowsOf(dist.activated).join(deg0, "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    val fr = held.frontier
    assert(fr.ids.toSeq == fr.ids.sorted.toSeq)
    assert(fr.ids.indices.map(i =>
      fr.ids(i) -> ((fr.comm(i), fr.subcomm(i), fr.deg(i)))).toMap == want)
  }

  test("resume: a vertex whose edges were all deleted gets its degree row " +
      "back when a later batch re-attaches it, on both prologues") {
    // triangles 0-1-2 and 3-4-5, pendant 6 on 0
    val g = edges((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 1.0), (6L, 0L, 1.0))
    val cut = edges((6L, 0L, -1.0))
    val reattach = edges((6L, 3L, 1.0), (6L, 4L, 1.0), (6L, 5L, 1.0))
    def facts(st: Incremental.State) =
      (st.assign.collect().map(r =>
        r.getAs[Long]("v") -> (r.getAs[Long]("community"),
          r.getAs[Long]("subcomm"))).toMap,
        toMapLD(st.deg.get), st.maxId, st.m2)
    // the driver prologue, then a 64-byte budget that refuses the delta
    // collect: the distributed prologue
    for ((name, budget) <- Seq("driver" -> None, "distributed" -> Some(64L))) {
      def run[T](f: => T): T = budget.fold(f)(withByteBudget(_)(f))
      val (mem, resumed) = run {
        val st1 = Incremental.update(Incremental.initial(g), cut)
        // a resume derives degrees and the supergraph from the edges, so
        // vertex 6, now edgeless, has no degree row
        val r1 = Incremental.hydrate(st1.copy(deg = None, superCanon = None))
        assert(!toMapLD(r1.deg.get).contains(6L))
        (Incremental.update(st1, reattach), Incremental.update(r1, reattach))
      }
      assert(toMapLD(resumed.deg.get).get(6L).contains(3.0),
        s"$name prologue: post-delta degree of 6 is " +
          toMapLD(resumed.deg.get).get(6L))
      assert(facts(resumed) == facts(mem),
        s"$name prologue: the resumed state differs from the in-memory one")
    }
  }
}
