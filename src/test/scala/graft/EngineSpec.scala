package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
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
    // a driver-local cold solve, whose checkpoint carries the level-1 state
    val cfg = Engine.Config(checkpointRoot = Some(root), runId = "ru",
      leiden = Leiden.Config(localSolveLevel0Verts = 100))
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
    assert(Files.exists(java.nio.file.Paths.get(s"$root/ru/iter=0/upper")),
      "a driver-local cold run must persist its identity composition")
    val e1 = Engine.update(spark, b1, cfg)
    assert(e1.batch == 1)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/ru/iter=1/upper")),
      "warm update must persist the maintained upper composition")
    val e2 = Engine.update(spark, b2, cfg)
    // in-memory chain seeded like the engine's cold checkpoint
    // (subcomm = community) but without its level-1 state, so its first
    // batch re-solves the upper levels and later ones keep the maintained
    // upper/mirror alive in memory — the resume-driven chain, whose first
    // batch takes the warm solve from the committed state, must agree
    // with it exactly
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
    // ... and graphs over the driver byte budget, which the level-0 local
    // solve cannot collect (64 bytes: not one edge fits)
    val e =
      try {
        sys.props("graft.bcast.budgetBytes") = "64"
        intercept[IllegalArgumentException](Engine.run(g, det))
      } finally sys.props -= "graft.bcast.budgetBytes"
    assert(e.getMessage.contains("byte budget"), e.getMessage)
  }

  test("job budget: one warm Engine.update runs at most 75 % of the " +
      "jobs it took before counted checkpoints and one-pass scoring") {
    import graft.algo.Incremental
    import graft.source.CodeTableSynth
    // the warm batch's time is set by its job count (tens of ms of fixed
    // cost each on small tables), so the count is the regression gate,
    // per phase so that a regression names its phase. Engine.update
    // reaches Leiden only through level-0 movement and refinement; a
    // Leiden call site filed under neither fails the case, so that a new
    // one is given its phase here rather than counted against another.
    // Fixture: a 600-vertex SBM graph, 80 % cold, one 100-edge insert.
    // Jobs for this update (local[4], 4 shuffle partitions): 151 before
    // counted checkpoints, 97 before the driver-side delta prologue and
    // the manifest's m2 and watermark, 70 before the prologue-fed
    // movement entry, the deferred prefetch and the skipped no-op
    // refinement and aggregation steps, 45 before the checkpoint carried
    // the level-1 state (the cold run's identity composition and every
    // batch's supergraph) that the upper levels and hydrate re-derived,
    // 41 before the batch was scored from the level-1 mirror and an
    // insert skipped the refinement that cannot split a connected
    // subcommunity.
    val ParentJobs = 151
    val PrologueJobs = 97
    val EntryJobs = 70
    val Level1Jobs = 45
    val MirrorJobs = 41
    val root = Files.createTempDirectory("graft-jobs").toString
    val g = CodeTableSynth.sbmEdges(spark, 600, 12, seed = 42L)
    val (init, batches) = Incremental.paperSplit(g, 0.8, 100, 1, 42L)
    val cfg = Engine.Config(checkpointRoot = Some(root), runId = "jobs",
      leiden = Leiden.Config(localSolveLevel0Verts = 600))
    Engine.run(init, cfg)
    val (o, bySite) = withJobsBySite(Engine.update(spark, batches.head, cfg))
    assert(o.batch == 1 && o.quality > 0.3)
    val jobs = bySite.values.sum
    val movementSites = Set("Leiden.movement", "Leiden.localMovePhase",
      "Leiden.gatherNew", "Leiden.ensureStats", "Leiden.prefetch")
    val upperSites = Set("Incremental.resolveSuper",
      "Incremental.composeOnto", "Incremental.collectSuperEdges",
      "Incremental.warmSolveSuper")
    def phase(site: String) =
      if (movementSites(site)) "movement"
      else if (site == "Leiden.refinement") "refinement"
      else if (upperSites(site)) "upper"
      else if (site == "Incremental.hydrate") "hydrate"
      else if (site.startsWith("Quality.")) "quality"
      else {
        assert(!site.startsWith("Leiden."), s"unfiled Leiden call site " +
          s"$site: $bySite")
        "rest"
      }
    val byPhase = bySite.groupMapReduce(kv => phase(kv._1))(_._2)(_ + _)
      .withDefaultValue(0)
    info(s"$jobs jobs (before: $ParentJobs, then $PrologueJobs, then " +
      s"$EntryJobs, then $Level1Jobs, then $MirrorJobs); by phase " +
      s"$byPhase; by call site $bySite")
    assert(byPhase("movement") >= 1 && byPhase("movement") <= 10,
      s"movement ran ${byPhase("movement")} jobs: $bySite")
    assert(byPhase("refinement") == 0,
      s"refinement ran ${byPhase("refinement")} jobs: $bySite")
    assert(byPhase("quality") == 0,
      s"quality scoring ran ${byPhase("quality")} jobs: $bySite")
    assert(byPhase("upper") >= 1 && byPhase("upper") <= 4,
      s"upper levels ran ${byPhase("upper")} jobs: $bySite")
    assert(byPhase("hydrate") <= 2,
      s"hydrate ran ${byPhase("hydrate")} jobs: $bySite")
    assert(jobs <= 25,
      s"$jobs jobs for one warm update (before: $MirrorJobs): $bySite")
  }

  test("mirror score: a batch that ends holding the level-1 mirror " +
      "scores on the driver, bit for bit Quality.score") {
    import graft.algo.{Incremental, Quality}
    import graft.graph.EdgeOps
    import graft.source.CodeTableSynth
    import graft.state.Checkpointer
    val g = CodeTableSynth.sbmEdges(spark, 300, 6, seed = 5L)
    val (init, Seq(ins, _)) = Incremental.paperSplit(g, 0.8, 40, 2, 5L)
    val canon0 = EdgeOps.compress(init)
    // the churn batch deletes every edge of one vertex, so its
    // subcommunity leaves the mirror; the last batch re-attaches it
    val x = canon0.groupBy("src").count().orderBy(desc("count"), asc("src"))
      .head().getLong(0)
    val churn = canon0.where(col("src") === x || col("dst") === x)
      .select(col("src"), col("dst"), negate(col("weight")).as("weight"))
    val back = edges((x, 0L, 1.0), (x, 1L, 1.0), (x, 2L, 1.0))
    for (leiden <- Seq(Leiden.Config(localSolveLevel0Verts = 300),
        Leiden.Config(localSolveLevel0Verts = 300, useCpm = true))) {
      val tag = if (leiden.useCpm) "cpm" else "modularity"
      val root = Files.createTempDirectory("graft-score").toString
      val cfg = Engine.Config(leiden = leiden, checkpointRoot = Some(root),
        runId = "q")
      Engine.run(init, cfg)
      for ((delta, k) <- Seq(ins, churn, back).zipWithIndex) {
        val (o, bySite) = withJobsBySite(Engine.update(spark, delta, cfg))
        val committed = spark.read.schema(EdgeOps.Schema)
          .parquet(s"$root/q/iter=${o.batch}/edges")
        val assign = spark.read.schema(Checkpointer.AssignSchema)
          .parquet(s"$root/q/iter=${o.batch}/assignment")
        val (q, n) = Quality.score(committed, assign, leiden.gamma,
          leiden.useCpm)
        assert(o.quality == q && o.communityCount == n,
          s"$tag batch $k: (${o.quality}, ${o.communityCount}) from the " +
            s"mirror, ($q, $n) from Quality.score")
        if (k == 0)
          assert(!bySite.keys.exists(_.startsWith("Quality.")),
            s"$tag: the insert batch ran Quality jobs: $bySite")
        if (k == 1) {
          val sup = spark.read.parquet(s"$root/q/iter=${o.batch}/super")
          val seen = EdgeOps.vertices(sup).select(col("v").as("subcomm"))
          assert(assign.where(col("v") === x)
            .join(seen, Seq("subcomm"), "left_anti").count() == 1,
            s"$tag: the isolated vertex's subcommunity is still in the mirror")
        }
      }
    }
  }

  test("job sites: a local lazy val's jobs are filed under the method " +
      "that reads it") {
    val frames = Seq(
      "org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:1)",
      "graft.util.Ckpt$.observed(Ckpt.scala:1)",
      "graft.algo.Incremental$.x$5$lzycompute$1(Incremental.scala:1)",
      "graft.algo.Incremental$.x$5$1(Incremental.scala:1)",
      "graft.algo.Incremental$.superM$lzycompute$1(Incremental.scala:1)",
      "graft.algo.Incremental$.superM$1(Incremental.scala:1)",
      "graft.algo.Incremental$.$anonfun$resolveSuper$1(Incremental.scala:1)",
      "scala.Option.fold(Option.scala:1)",
      "graft.algo.Incremental$.resolveSuper(Incremental.scala:1)")
    assert(SparkSpecBase.siteOf(frames.mkString("\n")) ==
      "Incremental.resolveSuper")
    // lambdas and local defs keep their filing
    assert(SparkSpecBase.siteOf(
      "graft.algo.Leiden$.$anonfun$refinement$3(Leiden.scala:1)") ==
      "Leiden.refinement")
    assert(SparkSpecBase.siteOf(
      "graft.algo.Leiden$.gatherNew$1(Leiden.scala:1)\n" +
        "graft.algo.Leiden$.localMovePhase(Leiden.scala:1)") ==
      "Leiden.gatherNew")
    assert(SparkSpecBase.siteOf("scala.Option.fold(Option.scala:1)") ==
      "other")
  }

  test("committed level-1 state: a driver-local cold run commits the " +
      "identity composition and the contracted supergraph, and a batch " +
      "resumed from them re-solves nothing") {
    import graft.algo.Incremental
    import graft.graph.EdgeOps
    import graft.source.CodeTableSynth
    import graft.state.Checkpointer
    val g = CodeTableSynth.sbmEdges(spark, 400, 8, seed = 7L)
    val (init, Seq(b1, ins2)) = Incremental.paperSplit(g, 0.8, 60, 2, 7L)
    // the second batch also deletes 20 edges of the cold graph
    val b2 = ins2.select("src", "dst", "weight").unionAll(
      init.orderBy("src", "dst").limit(20)
        .select(col("src"), col("dst"), negate(col("weight"))))
    for (leiden <- Seq(Leiden.Config(localSolveLevel0Verts = 400),
        Leiden.Config(localSolveLevel0Verts = 400, useCpm = true))) {
      val tag = if (leiden.useCpm) "cpm" else "modularity"
      val root = Files.createTempDirectory("graft-level1").toString
      val cfg = Engine.Config(leiden = leiden, checkpointRoot = Some(root),
        runId = "l1")
      def table(k: Int, name: String) = s"$root/l1/iter=$k/$name"
      // what iteration k committed: the composition sends every
      // subcommunity to its community, and the supergraph is the edge
      // table contracted by subcommunity, row for row
      def checkCommitted(k: Int): Map[Long, Long] = {
        val assign = spark.read.schema(Checkpointer.AssignSchema)
          .parquet(table(k, "assignment")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val upper = toMapLL(spark.read.parquet(table(k, "upper")))
        val commOf = assign.map(a => a._3 -> a._2).toMap
        assert(assign.forall(a => upper.get(a._3).contains(a._2)),
          s"$tag iter=$k: composition disagrees with the assignment")
        val sc = spark.read.schema(Checkpointer.AssignSchema)
          .parquet(table(k, "assignment")).select("v", "subcomm")
        val contracted = EdgeOps.compress(spark.read.schema(EdgeOps.Schema)
          .parquet(table(k, "edges"))
          .join(sc.select(col("v").as("src"), col("subcomm").as("su")), "src")
          .join(sc.select(col("v").as("dst"), col("subcomm").as("sv")), "dst")
          .select(col("su").as("src"), col("sv").as("dst"), col("weight")),
          leiden.eps)
        def rows(df: DataFrame) = df.select("src", "dst", "weight")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sorted.toSeq
        val committed = rows(spark.read.parquet(table(k, "super")))
        assert(committed == rows(contracted),
          s"$tag iter=$k: committed supergraph != contraction")
        assert(new Checkpointer(root, "l1").manifest(k).superRows
          .contains(committed.length.toLong))
        commOf.map { case (scId, _) => scId -> upper(scId) }
      }
      Engine.run(init, cfg)
      val cold = checkCommitted(0)
      assert(cold.forall { case (scId, c) => scId == c },
        s"$tag: the cold composition is not the identity")
      assert(toMapLL(spark.read.parquet(table(0, "upper"))).keySet ==
        cold.keySet, s"$tag: the cold composition holds extra entries")
      val (e1, bySite) = withJobsBySite(Engine.update(spark, b1, cfg))
      assert(!bySite.contains("Incremental.resolveSuper"),
        s"$tag: the first update re-solved the upper levels: $bySite")
      checkCommitted(1)
      val e2 = Engine.update(spark, b2, cfg)
      checkCommitted(2)
      // the same two batches in memory from the committed cold state
      var st = Engine.readState(spark, root, "l1", 0)
      st = Incremental.update(st, b1, leiden)
      assert(toMapLL(st.assign.select(col("v"), col("community"))) ==
        toMapLL(e1.assignment), s"$tag: batch 1 diverged")
      st = Incremental.update(st, b2, leiden)
      assert(canonicalPartition(toMapLL(st.assign.select(col("v"),
        col("community")))) == canonicalPartition(toMapLL(e2.assignment)),
        s"$tag: resumed chain diverged from the in-memory chain")
    }
  }

  test("a committed level-1 table that cannot be read fails the batch") {
    val root = Files.createTempDirectory("graft-corrupt").toString
    val cfg = Engine.Config(checkpointRoot = Some(root), runId = "c",
      leiden = Leiden.Config(localSolveLevel0Verts = 100))
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 1.0), (2L, 3L, 1.0))
    Engine.run(g, cfg)
    Engine.update(spark, edges((6L, 3L, 1.0), (6L, 4L, 1.0)), cfg)
    val part = Files.list(java.nio.file.Paths.get(s"$root/c/iter=1/upper"))
      .filter(_.getFileName.toString.matches("part-.*\\.parquet"))
      .findFirst().get
    val bytes = Files.readAllBytes(part)
    Files.write(part, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val e = intercept[Exception] {
      Engine.update(spark, edges((7L, 0L, 1.0), (7L, 1L, 1.0)), cfg)
    }
    assert(e.getMessage.contains("iter=1/upper"), e.getMessage)
    assert(new graft.state.Checkpointer(root, "c").latest().contains(1))
  }

  test("manifest: m2 and max_id are the committed 2m and watermark; a " +
      "manifest without them resumes to the same result") {
    import graft.algo.Incremental
    import graft.graph.EdgeOps
    import graft.state.Checkpointer
    val root = Files.createTempDirectory("graft-manifest").toString
    val cfg = Engine.Config(checkpointRoot = Some(root), runId = "m",
      leiden = Leiden.Config(localSolveLevel0Verts = 100))
    val g = edges(
      (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 2.0), (2L, 3L, 1.0))
    val b1 = edges((6L, 3L, 1.0), (6L, 4L, 1.0), (0L, 1L, -1.0))
    val o0 = Engine.run(g, cfg)
    val cp = new Checkpointer(root, "m")
    val m0 = cp.manifest(0)
    val edges0 = spark.read.parquet(s"$root/m/iter=0/edges")
    assert(m0.m2.contains(2.0 * EdgeOps.totalWeight(edges0)), m0)
    val maxLabel0 = o0.assignment
      .agg(greatest(max("v"), max("community"))).head().getLong(0)
    assert(m0.maxId.contains(maxLabel0), m0)
    // batch 1's manifest holds what the in-memory continuation holds
    val mem = Incremental.update(Engine.readState(spark, root, "m", 0), b1,
      cfg.leiden)
    val stripped = Files.createTempDirectory("graft-stripped").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(root),
      new java.io.File(stripped))
    val o1 = Engine.update(spark, b1, cfg)
    val m1 = cp.manifest(1)
    val edges1 = spark.read.parquet(s"$root/m/iter=1/edges")
    assert(m1.m2.contains(2.0 * EdgeOps.totalWeight(edges1)), m1)
    assert(m1.m2.contains(mem.m2) && m1.maxId.contains(mem.maxId), m1)
    assert(mem.maxId >= o1.assignment
      .agg(greatest(max("v"), max("community"))).head().getLong(0))
    // the same batch from a copy whose cold manifest lost both fields:
    // the scans they replace give the same state, hence the same batch
    val manPath = java.nio.file.Paths.get(s"$stripped/m/iter=0/MANIFEST.json")
    Files.writeString(manPath, Files.readString(manPath)
      .replaceAll(",\"(m2|max_id)\":[^,}]+", ""))
    val sCp = new Checkpointer(stripped, "m")
    assert(sCp.manifest(0).m2.isEmpty && sCp.manifest(0).maxId.isEmpty)
    val s1 = Engine.update(spark, b1, cfg.copy(checkpointRoot =
      Some(stripped)))
    assert(toMapLL(s1.assignment) == toMapLL(o1.assignment))
    assert(s1.quality == o1.quality)
    assert(sCp.manifest(1) == m1)
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
