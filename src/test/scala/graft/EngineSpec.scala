package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.run.Engine
import graft.algo.Leiden

/** Engine facade: run -> checkpoint -> update -> resume roundtrip. */
class EngineSpec extends SparkSpecBase {

  test("run + update + resume against durable checkpoints") {
    val root = Files.createTempDirectory("graft-engine").toString
    val cfg = Engine.Config(checkpointRoot = Some(root), runId = "r1")

    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 1.0), (2L, 3L, 0.05))
    val o0 = Engine.run(g, cfg)
    assert(o0.batch == 0 && o0.communityCount == 2)
    assert(o0.quality > 0.3)
    assert(o0.metrics.nonEmpty) // per-iteration metrics captured

    // insert a new vertex 6 attached to the second triangle
    val o1 = Engine.update(spark, edges((6L, 3L, 1.0), (6L, 4L, 1.0)), cfg)
    assert(o1.batch == 1)
    assert(o1.assignment.count() == 7)
    val part = canonicalPartition(toMapLL(o1.assignment))
    assert(part(6L) == part(3L)) // new vertex joins the triangle community

    // resume reads back exactly the latest assignment
    val resumed = Engine.resume(spark, cfg).get
    assert(canonicalPartition(toMapLL(resumed)) == part)
  }

  test("resume: persisted upper composition — checkpoint-driven update " +
      "chain equals the in-memory continuation (r6, VERDICT r5 #7)") {
    import graft.algo.Incremental
    val root = Files.createTempDirectory("graft-upper").toString
    val cfg = Engine.Config(checkpointRoot = Some(root), runId = "ru")
    // integer weights only: both chains' float sums are then exact in
    // any aggregation order, so exact partition equality is a fair ask
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 1.0), (2L, 3L, 1.0),
      (7L, 8L, 1.0), (8L, 9L, 1.0), (9L, 7L, 1.0), (5L, 7L, 1.0))
    val b1 = edges((6L, 3L, 1.0), (6L, 4L, 1.0))
    val b2 = edges((10L, 7L, 1.0), (10L, 8L, 1.0))
    // engine chain: every update RE-READS state from the checkpoint, so
    // batch 2 exercises the resume path with the persisted composition
    val _ = Engine.run(g, cfg)
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/ru/iter=0/upper")),
      "cold run has no maintained composition to persist")
    val e1 = Engine.update(spark, b1, cfg)
    assert(e1.batch == 1)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/ru/iter=1/upper")),
      "warm update must persist the maintained upper composition")
    val e2 = Engine.update(spark, b2, cfg)
    // in-memory chain seeded EXACTLY like the engine's cold checkpoint
    // (subcomm = community, state otherwise re-derived) but keeping the
    // maintained upper/mirror alive in memory — the resume-driven chain
    // must agree with it exactly
    val r = Leiden.run(g, cfg.leiden)
    var st = Incremental.State(
      graft.graph.EdgeOps.compress(g),
      r.assignment.select(col("v"), col("community"),
        col("community").as("subcomm")),
      m2 = 2.0 * graft.graph.EdgeOps.totalWeight(
        graft.graph.EdgeOps.compress(g)))
    st = Incremental.update(st, b1, cfg.leiden)
    st = Incremental.update(st, b2, cfg.leiden)
    val mem = canonicalPartition(
      toMapLL(st.assign.select(col("v"), col("community"))))
    val eng = canonicalPartition(toMapLL(e2.assignment))
    assert(eng == mem,
      s"resume-driven chain diverged from in-memory: $eng vs $mem")
  }

  test("resume past the driver bound: the persisted upper assignment " +
      "drives the delta-scoped branch and equals the in-memory chain") {
    import graft.algo.Incremental
    val root = Files.createTempDirectory("graft-upper-dist").toString
    // localSolveEdges = 0 keeps every supergraph over the driver bound
    val cfg = Engine.Config(leiden = Leiden.Config(localSolveEdges = 0),
      checkpointRoot = Some(root), runId = "rd")
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 1.0), (2L, 3L, 1.0),
      (7L, 8L, 1.0), (8L, 9L, 1.0), (9L, 7L, 1.0), (5L, 7L, 1.0))
    val b1 = edges((6L, 3L, 1.0), (6L, 4L, 1.0))
    val b2 = edges((10L, 7L, 1.0), (10L, 8L, 1.0))
    val _ = Engine.run(g, cfg)
    val e1 = Engine.update(spark, b1, cfg)
    // the first batch after this resume starts from the persisted
    // upper assignment, so it takes the delta-scoped branch
    val resumed = Engine.readState(spark, root, "rd", e1.batch)
    assert(resumed.upperAssign.isDefined,
      "over-bound update must persist the maintained upper assignment")
    val e2 = Engine.update(spark, b2, cfg)
    // in-memory chain from the same cold checkpoint, state kept in memory
    var st = Engine.readState(spark, root, "rd", 0)
    assert(st.upperAssign.isEmpty)
    st = Incremental.update(st, b1, cfg.leiden)
    assert(st.upperAssign.isDefined)
    st = Incremental.update(st, b2, cfg.leiden)
    val mem = canonicalPartition(
      toMapLL(st.assign.select(col("v"), col("community"))))
    val eng = canonicalPartition(toMapLL(e2.assignment))
    assert(eng == mem,
      s"resume-driven chain diverged from in-memory: $eng vs $mem")
  }

  test("deterministic mode: exact replay identity + quality-equivalent " +
    "to throughput mode") {
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 1.0), (2L, 3L, 0.05))
    val det = Engine.Config(mode = "deterministic")
    val a = Engine.run(g, det)
    val b = Engine.run(g, det)
    // deterministic policy: exact partition identity (equivalence.rs:14-20)
    assert(toMapLL(a.assignment) == toMapLL(b.assignment))
    // cross-mode: quality delta within the throughput tolerance (:21-27)
    val t = Engine.run(g, Engine.Config(mode = "throughput"))
    assert(math.abs(a.quality - t.quality) <= 0.001 + 1e-9,
      s"det=${a.quality} thr=${t.quality}")
    // refuses graphs over the local-solve bound
    intercept[IllegalArgumentException] {
      Engine.run(g, det.copy(leiden = det.leiden.copy(localSolveEdges = 3)))
    }
  }

  test("config validation rejects bad settings") {
    intercept[IllegalArgumentException] {
      Engine.Config(leiden = Leiden.Config(maxSweeps = 0)).validate()
    }
    intercept[IllegalStateException] {
      Engine.update(spark, edges((0L, 1L, 1.0)),
        Engine.Config(checkpointRoot =
          Some(Files.createTempDirectory("empty").toString)))
    }
  }
}
