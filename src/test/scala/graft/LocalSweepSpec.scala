package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algo.{Incremental, Leiden, Quality}
import graft.graph.EdgeOps
import graft.run.MetricsSink
import graft.util.Ckpt.DFCkpt

/** Driver-local movement sweeps (Leiden.localMovePhase) and refinement
  * rounds — the warm-update hot path — against the shuffled BSP sweep
  * and distributed rounds a frontier past the byte budget takes. The
  * local loops claim EXACT parity (same snapshots, gain argmax, revert
  * gating), so these tests compare assignments exactly, not just
  * quality bands.
  */
class LocalSweepSpec extends SparkSpecBase {

  test("gateParity matches Spark's pmod(xxhash64(v, lit(sweep)), 2)") {
    import spark.implicits._
    val vs = Seq(0L, 1L, 2L, 7L, 42L, 1001L, 99999L, Long.MaxValue / 7,
      123456789L, 33L)
    for (sweep <- 0 until 6) {
      val fromSpark = vs.toDF("v")
        .select(col("v"),
          pmod(xxhash64(col("v"), lit(sweep)), lit(2)).as("p"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1) == 1L)).toMap
      vs.foreach { v =>
        assert(Leiden.Xx.gateParity(v, sweep) == fromSpark(v),
          s"parity mismatch at v=$v sweep=$sweep")
      }
    }
  }

  /** A byte budget below every per-row width: each broadcast gate
    * refuses every non-empty table, so movement runs only the shuffled
    * BSP sweep and refinement only its distributed rounds. */
  private def shuffled[T](f: => T): T = withByteBudget(8L)(f)

  test("withByteBudget: a nested call leaves the outer budget in force") {
    import graft.util.Bcast
    val default = Bcast.budgetBytes
    withByteBudget(4096L) {
      withByteBudget(8L)(assert(Bcast.budgetBytes == 8L))
      assert(Bcast.budgetBytes == 4096L)
    }
    assert(Bcast.budgetBytes == default &&
      !sys.props.contains("graft.bcast.budgetBytes"))
  }

  test("warm updates: local sweeps == forced-distributed sweeps exactly") {
    val g = graft.source.CodeTableSynth.sbmEdges(spark, 500, nBlocks = 4,
      degIntra = 4, degInter = 1, seed = 11)
    val (init, batches) = Incremental.paperSplit(g, 0.7, 50, 3)
    for (cfg <- Seq(Leiden.Config(), Leiden.Config(useCpm = true))) {
      val tag = if (cfg.useCpm) "cpm" else "modularity"
      var stL = Incremental.initial(init, cfg)
      var stD = stL
      var k = 0
      val sink = new MetricsSink
      for (b <- batches) {
        stL = Incremental.update(stL, b, cfg, sink)
        stD = shuffled(Incremental.update(stD, b, cfg))
        k += 1
        val aL = toMapLL(stL.assign.select(col("v"), col("community")))
        val aD = toMapLL(stD.assign.select(col("v"), col("community")))
        val nDiff = aL.count { case (v, c) => !aD.get(v).contains(c) }
        assert(aL == aD, s"$tag batch $k: local-sweep assignment diverges " +
          s"from the distributed path ($nDiff vertices differ)")
        val sL = toMapLL(stL.assign.select(col("v"), col("subcomm")))
        val sD = toMapLL(stD.assign.select(col("v"), col("subcomm")))
        assert(sL == sD, s"$tag batch $k: subcomm divergence")
      }
      // a level-0 sweep applied moves, so the local phase's prefetch
      // after a moving sweep ran
      assert(sink.all.exists(m => m.algo == "leiden.movement" &&
        m.level == 0 && m.movesAccepted > 0), s"$tag: no level-0 move")
      val (qL, _) = Quality.score(stL.canon,
        stL.assign.select(col("v"), col("community")), cfg.gamma, cfg.useCpm)
      val (qD, _) = Quality.score(stD.canon,
        stD.assign.select(col("v"), col("community")), cfg.gamma, cfg.useCpm)
      assert(math.abs(qL - qD) < 1e-12, s"$tag quality diverges: $qL vs $qD")
    }
  }

  test("deletion batch through the local path stays exact vs distributed") {
    val g = graft.source.CodeTableSynth.sbmEdges(spark, 300, nBlocks = 4,
      degIntra = 4, degInter = 1, seed = 3)
    val (init, batches) = Incremental.paperSplit(g, 0.8, 30, 1)
    val st0 = Incremental.initial(init)
    val ins = batches.head
    var stL = Incremental.update(st0, ins)
    var stD = shuffled(Incremental.update(st0, ins))
    val del = ins.limit(12).select(col("src"), col("dst"),
      negate(col("weight")).as("weight"))
    stL = Incremental.update(stL, del)
    stD = shuffled(Incremental.update(stD, del))
    val aL = toMapLL(stL.assign.select(col("v"), col("community")))
    val aD = toMapLL(stD.assign.select(col("v"), col("community")))
    assert(aL == aD, "deletion batch diverges between sweep paths")
  }

  test("no-op insert and splitting deletion: local == shuffled; the no-op " +
      "batch prefetches nothing and its refinement returns its input") {
    val g = graft.source.CodeTableSynth.sbmEdges(spark, 300, nBlocks = 4,
      degIntra = 4, degInter = 1, seed = 3)
    for (cfg <- Seq(Leiden.Config(), Leiden.Config(useCpm = true))) {
      val tag = if (cfg.useCpm) "cpm" else "modularity"
      // level 0 of a batch as Incremental.update runs it (driver prologue)
      def level0(st: Incremental.State, b: DataFrame) = {
        val deltaC = EdgeOps.compress(b, cfg.eps).ckpt
        Incremental.level0(st, deltaC,
          EdgeOps.mergeDelta(st.canon, deltaC, cfg.eps).ckpt,
          st.m2 + 2.0 * EdgeOps.totalWeight(deltaC), cfg, MetricsSink.discard)
      }
      def parity(st: Incremental.State, b: DataFrame, what: String) = {
        val l = Incremental.update(st, b, cfg)
        val d = shuffled(Incremental.update(st, b, cfg))
        for (c <- Seq("community", "subcomm"))
          assert(toMapLL(l.assign.select("v", c)) ==
            toMapLL(d.assign.select("v", c)),
            s"$tag $what: local and shuffled ${c}s differ")
        l
      }
      val st0 = Incremental.initial(g, cfg)
      val rows = st0.assign.collect().map(r => (r.getAs[Long]("v"),
        r.getAs[Long]("community"), r.getAs[Long]("subcomm")))
      val commOf = rows.map(r => r._1 -> r._2).toMap
      val degOf = toMapLD(st0.deg.get)
      // subcommunities, largest first, members by degree
      val bySc = rows.groupBy(_._3).values.toSeq
        .map(_.map(_._1).sortBy(v => (-degOf(v), v)))
        .sortBy(m => (-m.length, m.head))
      val a = bySc.head
      val b = bySc.find(m => commOf(m.head) != commOf(a.head)).get
      // an edge inside the largest subcommunity (K0) and one between the
      // best-attached members of two communities (the frontier)
      val ins = edges((a(0), a(1), 1.0), (a(0), b(0), 1.0))
      val (l0, bySite) = withJobsBySite(level0(st0, ins))
      assert(l0.mv.sweeps == 1 && l0.mv.moves == 0,
        s"$tag: the insert moved (${l0.mv.moves} moves)")
      // the frontier's one adjacency gather (its collect and the
      // broadcasts it builds); a prefetch would add gathers
      assert(bySite.getOrElse("Leiden.gatherNew", 0) == 3, s"$tag: a sweep " +
        s"that moved nothing gathered more than its frontier: $bySite")
      assert(l0.mv.assign eq l0.assign0)
      assert(l0.ref.assign eq l0.mv.assign, s"$tag: an unsplit refinement " +
        "relabelled its input")
      assert(l0.ref.refined.rows == 0 && l0.ref.rounds == 0)
      val st1 = parity(st0, ins, "no-op insert")
      // the largest subcommunity's best-attached member loses every edge
      // inside it: refinement splits it off under a fresh id
      val inA = a.toSet
      val cut = st1.canon
        .where((col("src") === a(0) && col("dst").isin(a.tail: _*)) ||
          (col("dst") === a(0) && col("src").isin(a.tail: _*)))
        .select(col("src"), col("dst"), negate(col("weight")).as("weight"))
      assert(inA.size > 1 && cut.count() > 0)
      val l0c = level0(st1, cut)
      assert(l0c.ref.freshUsed > 0 && !(l0c.ref.assign eq l0c.mv.assign),
        s"$tag: the deletion split nothing")
      parity(st1, cut, "splitting deletion")
    }
  }
}
