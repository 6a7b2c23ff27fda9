package graft

import org.apache.spark.sql.functions._
import graft.algo.{Incremental, Leiden, Quality}

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

  test("warm updates: local sweeps == forced-distributed sweeps exactly") {
    val g = graft.source.CodeTableSynth.sbmEdges(spark, 500, nBlocks = 4,
      degIntra = 4, degInter = 1, seed = 11)
    val (init, batches) = Incremental.paperSplit(g, 0.7, 50, 3)
    for (cfg <- Seq(Leiden.Config(), Leiden.Config(useCpm = true))) {
      val tag = if (cfg.useCpm) "cpm" else "modularity"
      var stL = Incremental.initial(init, cfg)
      var stD = stL
      var k = 0
      for (b <- batches) {
        stL = Incremental.update(stL, b, cfg)
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
}
