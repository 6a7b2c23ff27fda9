package graft

import org.apache.spark.sql.functions._
import graft.algo.{Incremental, Leiden}
import graft.graph.{BucketedEdges, EdgeOps}
import graft.run.Engine

/** Round-4 hardening: the durable BucketedEdges-backed canon wired under
  * Incremental/Engine, the bulk-delta anti-join probe, the two-sided
  * refinement local-solve guard, and the incremental-aware invariants
  * wired into the Engine verify path.
  */
class DurableIncrementalSpec extends SparkSpecBase {

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def sbm(n: Long): org.apache.spark.sql.DataFrame =
    graft.source.CodeTableSynth.sbmEdges(spark, n, nBlocks = 4,
      degIntra = 4, degInter = 1)

  test("durable canon: N batches over BucketedEdges == in-memory path") {
    val g = sbm(400)
    val (init, batches) = Incremental.paperSplit(g, 0.8, 40, 3)
    val store = tmpDir("durable") + "/canon"

    var mem = Incremental.initial(init)
    var dur = Incremental.initial(init,
      durable = Some(Incremental.DurableCanon(store, nBuckets = 8)))
    for (b <- batches) {
      mem = Incremental.update(mem, b)
      dur = Incremental.update(dur, b)
    }

    // the durable store holds exactly the live canonical edge table
    def canonMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val fromStore = canonMap(BucketedEdges.read(spark, store))
    assert(fromStore == canonMap(mem.canon),
      s"store has ${fromStore.size} edges vs ${canonMap(mem.canon).size}")

    // deterministic tie-breaking => identical assignments, not just
    // equivalent quality
    val a = canonicalPartition(
      toMapLL(mem.assign.select(col("v"), col("community"))))
    val b = canonicalPartition(
      toMapLL(dur.assign.select(col("v"), col("community"))))
    assert(a == b, "durable-canon path diverged from in-memory path")
  }

  test("bulk delta: anti-join probe == literal-predicate probe") {
    val g = sbm(200)
    val (init, batches) = Incremental.paperSplit(g, 0.8, 60, 1)
    val s0 = Incremental.initial(init)
    // same state+delta through both probe paths (threshold 0 forces the
    // distributed anti join a genuine >100k-id backfill would take)
    val viaLiteral = Incremental.update(s0, batches.head)
    val viaAntiJoin = Incremental.update(s0, batches.head,
      bulkIdThreshold = 0L)
    val a = canonicalPartition(
      toMapLL(viaLiteral.assign.select(col("v"), col("community"))))
    val b = canonicalPartition(
      toMapLL(viaAntiJoin.assign.select(col("v"), col("community"))))
    assert(a == b, "bulk-delta probe path changed the result")
    assert(viaAntiJoin.assign.count() == viaLiteral.assign.count())
  }

  test("refinement: dense affected subcommunity exceeding the edge bound " +
      "stays distributed (two-sided local-solve guard)") {
    // K12 clique: 12 members but 66 intra edges. localSolveEdges = 20
    // passes the member gate (12 <= 20) and must FAIL the new edge gate
    // (66 > 20), falling through to distributed CC — identical output.
    val k12 = for (i <- 0L until 12L; j <- i + 1 until 12L)
      yield (i, j, 1.0)
    val canon = EdgeOps.compress(edges(k12: _*))
    val adj = EdgeOps.symmetrize(canon)
    val deg = EdgeOps.degrees(adj)
    val s = spark
    import s.implicits._
    val assign = (0L until 12L).map(v => (v, 99L, 99L))
      .toDF("v", "community", "subcomm")
    val affected = Seq(0L).toDF("v")
    def refine(localSolveEdges: Long) =
      Leiden.refinement(adj, deg, m2 = 132.0, assign, affected,
        Leiden.Config(localSolveEdges = localSolveEdges),
        graft.run.MetricsSink.discard, level = 0,
        isInitial = false, freshIdBase = 1000L)
    val gated = refine(20)        // member gate passes, edge gate rejects
    val distributed = refine(0)   // local solve disabled entirely
    val a = toMapLL(gated.assign.select("v", "subcomm"))
    val b = toMapLL(distributed.assign.select("v", "subcomm"))
    assert(a == b, s"gated=$a distributed=$b")
    // the clique is connected: no split, everyone keeps subcomm 99
    assert(a.values.toSet == Set(99L), s"unexpected split: $a")
  }

  test("engine: validateInvariants exercises the incremental-aware " +
      "maxId form across run + update") {
    val root = tmpDir("validate")
    val cfg = Engine.Config(checkpointRoot = Some(root), runId = "rv",
      validateInvariants = true)
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 1.0), (2L, 3L, 5.0))
    val o0 = Engine.run(g, cfg)
    assert(o0.communityCount > 0)
    // deletion forces a split -> historical/synthetic ids appear; the
    // maxId-aware invariant form must accept them (the strict form would
    // reject a fresh watermark-allocated id)
    val o1 = Engine.update(spark, edges((2L, 3L, -5.0)), cfg)
    assert(o1.batch == 1)
    assert(o1.assignment.count() == 6)
  }

  test("supergraph mirror: cached path == collect path, content exactly " +
      "mirrors superCanon") {
    val g = sbm(400)
    val (init, batches) = Incremental.paperSplit(g, 0.8, 40, 3)
    var cached = Incremental.initial(init)
    var fresh = Incremental.initial(init)
    assert(cached.superCache.isDefined)
    for (b <- batches) {
      cached = Incremental.update(cached, b)
      // strip the mirror each batch: forces the re-collect path
      fresh = Incremental.update(fresh.copy(superCache = None), b)
    }
    val a = canonicalPartition(
      toMapLL(cached.assign.select(col("v"), col("community"))))
    val b = canonicalPartition(
      toMapLL(fresh.assign.select(col("v"), col("community"))))
    assert(a == b, "cached supergraph mirror changed the result")
    // the mirror's content must equal the superCanon table EXACTLY —
    // same keys, bit-identical weights
    val c = cached.superCache.get
    val mirror = (0 until c.src.length)
      .map(i => (c.src(i), c.dst(i)) -> c.w(i)).toMap
    val table = cached.superCanon.get.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(mirror == table,
      s"mirror ${mirror.size} edges vs table ${table.size}")
  }

  test("LocalLeiden.solve canonicalSorted fast path == dedup/sort path") {
    val rnd = new scala.util.Random(11)
    val edges = (for {
      i <- 0L until 200L; j <- i + 1 until 200L
      if rnd.nextDouble() < 0.05
    } yield (i, j, 1.0 + (i + j) % 3)).toArray
    val eS = edges.map(_._1); val eD = edges.map(_._2)
    val eW = edges.map(_._3)
    val viaMap = graft.algo.LocalLeiden.solve(eS, eD, eW, Map.empty,
      Map.empty, Leiden.Config())
    val direct = graft.algo.LocalLeiden.solve(eS, eD, eW, Map.empty,
      Map.empty, Leiden.Config(), canonicalSorted = true)
    assert(viaMap == direct)
  }

  test("engine: durableEdges round-trips run -> update -> resume") {
    val root = tmpDir("engine-durable")
    val store = tmpDir("engine-durable-store") + "/canon"
    val cfg = Engine.Config(checkpointRoot = Some(root), runId = "rd",
      durableEdges = Some(Incremental.DurableCanon(store, nBuckets = 4)),
      validateInvariants = true)
    val g = edges((0L, 1L, 1.0), (1L, 2L, 1.0), (3L, 4L, 1.0),
      (4L, 5L, 1.0))
    Engine.run(g, cfg)
    // batch 0 seeded the durable store with the compressed canon
    assert(BucketedEdges.read(spark, store).count() == 4)
    val o1 = Engine.update(spark, edges((2L, 3L, 2.0)), cfg)
    assert(o1.batch == 1)
    // the merge landed in the store, not a per-batch edge dump
    assert(BucketedEdges.read(spark, store).count() == 5)
    assert(!new java.io.File(s"$root/rd/iter=1/edges").exists())
    val resumed = Engine.resume(spark, cfg).get
    assert(resumed.count() == 6)
  }
}
