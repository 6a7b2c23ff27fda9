package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algo.IncAggregation
import graft.graph.EdgeOps

/** Delta-form supergraph maintenance: the contract(G,sPre)+deltaH ==
  * contract(G,sPre') invariant, delta mapping, and def_update joins. */
class IncAggregationSpec extends SparkSpecBase {

  def mapping(rows: (Long, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("v", "sc")
  }

  def contract(canon: DataFrame, s: DataFrame): Map[(Long, Long), Double] =
    canon.join(s.select(col("v").as("src"), col("sc").as("su")), "src")
      .join(s.select(col("v").as("dst"), col("sc").as("sv")), "dst")
      .select(least(col("su"), col("sv")).as("a"),
        greatest(col("su"), col("sv")).as("b"), col("weight"))
      .groupBy("a", "b").agg(sum("weight").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap

  test("invariant: contract(G,sPre) + deltaH == contract(G,sPre')") {
    // path 0-1-2-3 plus (1,3); refinement moved 2 and 3 from their own
    // singletons into subcommunity 1
    val canon = EdgeOps.compress(edges(
      (0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 1.0), (1L, 3L, 0.5)))
    val adj = EdgeOps.symmetrize(canon)
    val sPre = mapping(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L)
    val sCur = mapping(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L)
    val s = spark
    import s.implicits._
    val refined = Seq(2L, 3L).toDF("v") // exactly the changed vertices
    val emptyDelta = edges()

    val (deltaH, nextPre) = IncAggregation(adj, emptyDelta, sPre, sCur,
      refined)
    // sPre' == sCur on refined, unchanged elsewhere
    assert(toMapLL(nextPre.select("v", "sc")) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L))

    val before = contract(canon, sPre)
    val after = contract(canon, nextPre.select(col("v"), col("sc")))
    val dh = deltaH.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val combined = (before.keySet ++ dh.keySet).map { k =>
      k -> (before.getOrElse(k, 0.0) + dh.getOrElse(k, 0.0))
    }.filter(kv => math.abs(kv._2) > 1e-9).toMap
    assert(combined == after, s"combined=$combined after=$after dh=$dh")
  }

  test("invariant holds with a self-loop on a refined-and-changed vertex") {
    // aggregated supergraphs always carry self-loops; vertex 2 has one and
    // is re-seated into subcommunity 1 — the -w/+w for (2,2) must be
    // emitted exactly once (the symmetrized dedup guard drops both copies
    // without the dedicated branch)
    val canon = EdgeOps.compress(edges(
      (0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 2L, 1.5), (1L, 1L, 0.5)))
    val adj = EdgeOps.symmetrize(canon)
    val sPre = mapping(0L -> 0L, 1L -> 1L, 2L -> 2L)
    val sCur = mapping(0L -> 0L, 1L -> 1L, 2L -> 1L)
    val s = spark
    import s.implicits._
    val refined = Seq(2L).toDF("v")
    val (deltaH, nextPre) = IncAggregation(adj, edges(), sPre, sCur, refined)
    val before = contract(canon, sPre)
    val after = contract(canon, nextPre.select(col("v"), col("sc")))
    val dh = deltaH.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val combined = (before.keySet ++ dh.keySet).map { k =>
      k -> (before.getOrElse(k, 0.0) + dh.getOrElse(k, 0.0))
    }.filter(kv => math.abs(kv._2) > 1e-9).toMap
    assert(combined == after, s"combined=$combined after=$after dh=$dh")
  }

  test("delta edges map through the previous mapping") {
    val canon = EdgeOps.compress(edges((0L, 1L, 1.0)))
    val adj = EdgeOps.symmetrize(canon)
    val sPre = mapping(0L -> 10L, 1L -> 11L)
    val s = spark
    import s.implicits._
    val refined = Seq.empty[Long].toDF("v")
    val delta = edges((0L, 1L, 2.5))
    val (deltaH, _) = IncAggregation(adj, delta, sPre, sPre, refined)
    val dh = deltaH.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(dh == Map((10L, 11L) -> 2.5))
  }

  test("composite: delta edges AND refinement re-seating in one batch") {
    // H(old) = contract(G_old, sPre); after inserting (0,2) and refining
    // 2 into subcommunity 0: contract(G', sPre') must equal H + deltaH.
    // deltaMapped's +w on the OLD pair cancels against the re-seat's -w
    // for the refined endpoint — the reference's composition (499-525).
    val gOld = EdgeOps.compress(edges((0L, 1L, 1.0), (1L, 2L, 1.0)))
    val delta = edges((0L, 2L, 2.0))
    val gNew = EdgeOps.compress(gOld.unionAll(delta))
    val adjNew = EdgeOps.symmetrize(gNew)
    val sPre = mapping(0L -> 0L, 1L -> 0L, 2L -> 2L)
    val sCur = mapping(0L -> 0L, 1L -> 0L, 2L -> 0L)
    val s = spark
    import s.implicits._
    val refined = Seq(2L).toDF("v")
    val (deltaH, nextPre) = IncAggregation(adjNew, delta, sPre, sCur, refined)
    assert(toMapLL(nextPre.select("v", "sc")) ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    val before = contract(gOld, sPre)
    val after = contract(gNew, sCur)
    val dh = deltaH.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val combined = (before.keySet ++ dh.keySet).map { k =>
      k -> (before.getOrElse(k, 0.0) + dh.getOrElse(k, 0.0))
    }.filter(kv => math.abs(kv._2) > 1e-9).toMap
    assert(combined == after, s"combined=$combined after=$after dh=$dh")
  }
}
