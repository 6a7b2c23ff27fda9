package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.algo.{Incremental, Leiden, Quality}
import graft.graph.{EdgeOps, LocalGraph}
import graft.state.Checkpointer
import graft.util.{Bcast, Ckpt}
import graft.util.Ckpt.DFCkpt

/** The engine facade: the Spark-native equivalent of the reference's
  * `run(graph, config) -> RunOutcome` entry point
  * (/root/reference/src/core/algorithm/hit_leiden.rs:13-82) plus the
  * warm-start `update` the reference supports internally but never wires
  * through its public API (SURVEY.md section 3.2 fidelity note).
  *
  * Responsibilities: config validation, cold/warm dispatch, REAL quality
  * scoring (the reference emits a placeholder 1.0), durable per-batch
  * Parquet checkpoints with metrics (north rule), and resume.
  */
object Engine {

  /** Reference run modes (config.rs): `throughput` = parallel BSP with
    * quality-delta equivalence (<= 0.001, equivalence.rs:21-27);
    * `deterministic` = sequential exact-identity semantics — the whole
    * solve runs in [[graft.algo.LocalLeiden]], so the graph must fit
    * `leiden.localSolveEdges` and the driver byte budget of
    * [[graft.graph.LocalGraph]] (the reference's deterministic mode is
    * single-threaded and carries the same practical bound). */
  /** @param durableEdges when set, the level-0 canonical edge table lives
    *   in a [[graft.graph.BucketedEdges]] store at this (path, nBuckets)
    *   and each warm batch merges only its touched buckets — the durable
    *   petabyte-scale form of the in-memory checkpointed canon
    * @param durableAssign when set, the assignment table lives in a
    *   [[graft.state.BucketedAssign]] store and each warm batch upserts
    *   only its CHANGED rows (bucket-pruned, undo-logged) instead of the
    *   per-batch full O(V) parquet dump — with durableEdges this makes
    *   the whole PartitionState durable (state.rs:4-16) and resume a
    *   read of durable bytes only
    * @param validateInvariants when true, every run/update verifies the
    *   hard partition invariants ([[Validate.invariants]]) before the
    *   batch is checkpointed; warm batches use the incremental-aware
    *   maxId form (historical/synthetic ids are legal after splits) */
  final case class Config(
      leiden: Leiden.Config = Leiden.Config(),
      checkpointRoot: Option[String] = None,
      runId: String = "run-0",
      mode: String = "throughput",
      durableEdges: Option[Incremental.DurableCanon] = None,
      durableAssign: Option[Incremental.DurableAssign] = None,
      validateInvariants: Boolean = false) {
    def validate(): Unit = {
      // mirrors RunConfig::validate (config.rs:35-43)
      require(leiden.maxSweeps > 0, "maxSweeps must be > 0")
      require(leiden.maxLevels > 0, "maxLevels must be > 0")
      require(leiden.eps >= 0, "eps must be >= 0")
      require(mode == "throughput" || mode == "deterministic",
        s"unknown mode: $mode")
    }
  }

  final case class Outcome(
      assignment: DataFrame, // (v, community)
      quality: Double,
      communityCount: Long,
      iterations: Int,
      metrics: Seq[IterMetric],
      batch: Int)

  /** Cold start: full hierarchical Leiden + modularity, checkpoint as
    * batch 0. */
  def run(edges: DataFrame, cfg: Config = Config()): Outcome = {
    cfg.validate()
    val sink = new MetricsSink
    val leidenCfg =
      if (cfg.mode == "deterministic") {
        // sequential exact-identity solve from level 0 (LocalLeiden)
        // must pass the level-0 LocalGraph gate, or Leiden.run would
        // silently take the distributed path
        val n = EdgeOps.compress(edges, cfg.leiden.eps).count()
        require(cfg.leiden.localSolveEdges > 0 &&
          LocalGraph.admits(n, cfg.leiden.localSolveEdges),
          s"deterministic mode requires <= ${cfg.leiden.localSolveEdges} " +
            s"edges within the driver byte budget of ${Bcast.budgetBytes} " +
            s"bytes (got $n edges) — use throughput mode at scale")
        // exact-identity semantics (equivalence.rs:14-20): the reference's
        // sequential loop runs uncapped to a true fixpoint — disable the
        // epsilon-gain floor and lift the sweep cap so deterministic mode
        // matches it, not just a deterministic approximation of it
        cfg.leiden.copy(localSolveMinLevel = 0, minSweepGain = 0.0,
          maxSweeps = Int.MaxValue / 8)
      } else cfg.leiden
    val r = Leiden.run(edges, leidenCfg, sink)
    if (cfg.validateInvariants) {
      val v = Validate.invariants(r.assignment.select("v", "community"))
      require(v.ok, s"partition invariants violated: ${v.reason}")
    }
    val out = Outcome(r.assignment, r.modularity, r.communityCount,
      r.sweepsPerLevel.sum, sink.all, batch = 0)
    checkpoint(cfg, out, r)
    out
  }

  /** Warm start: apply one signed delta batch to the state checkpointed
    * at `fromBatch` (or the latest), checkpoint as the next batch. */
  def update(spark: SparkSession, delta: DataFrame, cfg: Config): Outcome = {
    cfg.validate()
    val root = cfg.checkpointRoot.getOrElse(
      throw new IllegalArgumentException("update requires checkpointRoot"))
    val cp = new Checkpointer(root, cfg.runId)
    val last = cp.latest().getOrElse(
      throw new IllegalStateException("no checkpoint to resume from"))
    val st = readState(spark, root, cfg.runId, last, cfg.durableEdges,
      cfg.durableAssign)
    val sink = new MetricsSink
    // batchId = the batch this update will commit as: durable-mode bucket
    // merges record it in the store, so replaying the delta after a crash
    // between the merge and cp.write cannot double-apply its weights
    val next = Incremental.update(st, delta, cfg.leiden, sink,
      batchId = Some(last + 1L))
    if (cfg.validateInvariants) {
      // incremental-aware: community ids may be historical or
      // watermark-allocated — both live in [0, maxId]
      val v = Validate.invariants(
        next.assign.select(col("v"), col("community")), next.maxId)
      require(v.ok, s"partition invariants violated: ${v.reason}")
    }
    // score the objective actually being optimized (cfg may select CPM);
    // the community count comes out of the same pass
    val (q, nComm) = Quality.score(next.canon, next.assign,
      cfg.leiden.gamma, cfg.leiden.useCpm)
    val out = Outcome(next.assign.select(col("v"), col("community")), q,
      nComm, sink.totalIterations("leiden.movement"), sink.all,
      batch = last + 1)
    writeState(cfg, next, out, prevAssign = Some(st.assign))
    out
  }

  /** Current (v, community) at the latest checkpoint. */
  def resume(spark: SparkSession, cfg: Config): Option[DataFrame] = for {
    root <- cfg.checkpointRoot
    cp = new Checkpointer(root, cfg.runId)
    last <- cp.latest()
  } yield readAssign(spark, cfg, cp, last).select("v", "community")

  /** The assignment as of committed batch `last`: the durable store
    * (rolled back to `last` if a crash left it one batch ahead) or the
    * per-iteration checkpoint parquet. */
  private def readAssign(spark: SparkSession, cfg: Config,
      cp: Checkpointer, last: Int): DataFrame =
    cfg.durableAssign match {
      case Some(a) =>
        graft.state.BucketedAssign.recover(spark, a.path)
        graft.state.BucketedAssign.lastApplied(spark, a.path) match {
          case Some(b) if b == last + 1L =>
            // crash between the assign upsert and the checkpoint commit:
            // fold the undo log back to the committed batch
            graft.state.BucketedAssign.preView(spark, a.path, b)
          case Some(b) if b > last + 1L =>
            throw new IllegalStateException(
              s"assignment store at batch $b but checkpoint at $last — " +
                "more than one uncommitted batch; store is corrupt")
          case _ => graft.state.BucketedAssign.read(spark, a.path)
        }
      case None => cp.readAssignment(spark, last)
    }

  // --- internal: durable state = assignment(+subcomm) and edge table ----

  private def checkpoint(cfg: Config, out: Outcome, r: Leiden.Result)
      : Unit =
    cfg.checkpointRoot.foreach { root =>
      // cold-path Leiden result has no subcommunity column; re-derive a
      // valid state: subcomm = community (a coarser-but-consistent warm
      // start; the first delta's refinement re-splits as needed). The
      // run already holds m and, after a driver-local solve, the graph
      // and partition on the driver: from those come the largest label
      // (the watermark hydrate would otherwise scan for) and the level-1
      // state, the identity composition and the supergraph mirror, so
      // the first update takes the warm mirror solve. After a
      // distributed solve the first update re-solves the upper levels
      val level1 = r.level0.map { case (g, solved) =>
        Incremental.coldLevel1(g.es, solved, cfg.leiden.eps)
      }
      val maxLabel = r.level0.flatMap(_._2.iterator
        .map { case (v, c) => math.max(v, c) }.maxOption)
      val st = Incremental.State(r.canon,
        out.assignment.select(col("v"), col("community"),
          col("community").as("subcomm")), 2.0 * r.m,
        maxId = maxLabel.getOrElse(Long.MinValue),
        durable = cfg.durableEdges, upper = level1.map(_._1),
        superCache = level1.map(_._2))
      writeState(cfg, st, out)
    }

  private def writeState(cfg: Config, st: Incremental.State,
      out: Outcome, prevAssign: Option[DataFrame] = None): Unit =
    cfg.checkpointRoot.foreach { root =>
      // durable stores FIRST: Checkpointer.write renames MANIFEST.json
      // and bumps LATEST — the documented commit point — so everything
      // the batch needs on resume must already be durable when it runs.
      // A crash before cp.write leaves an uncommitted batch (the stores'
      // applied markers + the assign undo log make its replay exact); a
      // crash after leaves a complete one.
      val edgeRows = st.canon.rows
      st.durable match {
        case Some(d) =>
          // the BucketedEdges store IS the durable edge copy — batch 0
          // seeds it; warm batches already merged into it inside
          // Incremental.update, so a per-batch full dump would be the
          // exact O(|E|) write the bucket-pruned merge exists to avoid
          if (out.batch == 0)
            graft.graph.BucketedEdges.write(st.canon, d.path, d.nBuckets)
        case None =>
          st.canon.write.mode("overwrite")
            .parquet(s"$root/${cfg.runId}/iter=${out.batch}/edges")
      }
      cfg.durableAssign.foreach { a =>
        val spark = st.assign.sparkSession
        prevAssign match {
          case None =>
            graft.state.BucketedAssign.write(st.assign, a.path, a.nBuckets)
          case Some(prev) =>
            // changed rows only: value diff + brand-new vertices. The
            // diff is an O(V) map-side compare (at petabyte scale both
            // sides are bucketed by v, so it is a co-located zipper, not
            // a shuffle); the durable WRITE is delta-sized.
            val changed = st.assign
              .join(prev.select(col("v"), col("community").as("pc"),
                col("subcomm").as("ps")), Seq("v"), "left")
              .where(col("pc").isNull || col("pc") =!= col("community") ||
                col("ps") =!= col("subcomm"))
              .select(col("v"), col("community"), col("subcomm"))
            graft.state.BucketedAssign.upsert(spark, a.path, changed,
              a.nBuckets, out.batch.toLong)
        }
      }
      // persist the maintained upper composition (O(supernodes) rows,
      // written on the driver; VERDICT r5 #7): with it, the first
      // post-resume batch re-enters the warm mirror solve instead of
      // paying a full re-solve spike. Written BEFORE the manifest/LATEST
      // rename below — the commit point — like every other durable piece
      // of the batch. Absent (e.g. the supergraph exceeded the driver
      // bound), resume falls back to the re-solve init exactly as before.
      val conf = st.assign.sparkSession.sparkContext.hadoopConfiguration
      st.upper.foreach { u =>
        val (subcomm, community) = u.composed.toArray.unzip
        graft.state.DriverParquet.write(conf,
          s"$root/${cfg.runId}/iter=${out.batch}/upper",
          "subcomm" -> subcomm, "community" -> community)
      }
      // likewise the maintained distributed level-1 assignment (present
      // only past the driver bound, O(supernodes) rows): with it the
      // first post-resume batch takes the delta-scoped branch instead of
      // a full supergraph re-solve
      st.upperAssign.foreach(_.write.mode("overwrite")
        .parquet(s"$root/${cfg.runId}/iter=${out.batch}/upperAssign"))
      // and the level-1 supergraph, so a resume contracts nothing: from
      // the driver mirror when there is one (written on the driver, like
      // the composition), else from the maintained table. Its row count
      // goes into the manifest for the next batch's mirror-rebuild gate
      val superPath = s"$root/${cfg.runId}/iter=${out.batch}/super"
      val superRows = st.superCache match {
        case Some(se) =>
          graft.state.DriverParquet.write(conf, superPath,
            EdgeOps.SRC -> se.src, EdgeOps.DST -> se.dst, EdgeOps.W -> se.w)
          Some(se.src.length.toLong)
        case None => st.superCanon.map { sc =>
          val t = if (Ckpt.known(sc).isDefined) sc else sc.ckpt
          t.write.mode("overwrite").parquet(superPath)
          t.rows
        }
      }
      val cp = new Checkpointer(root, cfg.runId)
      cp.write(out.batch, st.assign, out.metrics, frontier = 0,
        quality = out.quality, edgeRows = edgeRows,
        assignmentData = cfg.durableAssign.isEmpty, m2 = Some(st.m2),
        maxId = Some(st.maxId).filter(_ != Long.MinValue),
        superRows = superRows)
    }

  private[graft] def readState(spark: SparkSession, root: String,
      runId: String, batch: Int,
      durable: Option[Incremental.DurableCanon] = None,
      durableAssign: Option[Incremental.DurableAssign] = None)
      : Incremental.State = {
    val cp = new Checkpointer(root, runId)
    val man = cp.manifest(batch)
    val assign = Ckpt.withRows(readAssign(spark,
      Config(durableAssign = durableAssign), cp, batch), man.rows)
    val canon = durable match {
      case Some(d) =>
        // roll forward / roll back any merge a crash left half-swapped
        // before anything reads the store
        graft.graph.BucketedEdges.recover(spark, d.path)
        graft.graph.BucketedEdges.read(spark, d.path)
      case None => spark.read.schema(EdgeOps.Schema)
        .parquet(s"$root/$runId/iter=$batch/edges")
    }
    // the committed m2; a manifest that predates it falls back to a scan
    // of the canon (a durable store one batch ahead is Incremental.update's
    // replay to detect, and it keeps a committed m2 as the pre-delta one)
    val m2 = man.m2.getOrElse(2.0 * EdgeOps.totalWeight(canon))
    // the level-1 state the committing batch persisted: the composition,
    // the supergraph and, past the driver bound, the level-1 assignment.
    // A table is read when its directory exists; reading one that is
    // there but unreadable fails the batch rather than re-solving
    def committed(name: String): Option[String] =
      Some(s"$root/$runId/iter=$batch/$name")
        .filter(p => Files.exists(Paths.get(p)))
    val upper = committed("upper").map { p =>
      val m = scala.collection.mutable.LongMap.empty[Long]
      graft.state.DriverParquet.foreach(
        spark.sparkContext.hadoopConfiguration, p) { g =>
        m(g.getLong("subcomm", 0)) = g.getLong("community", 0)
      }
      Incremental.UpperComm(m)
    }
    val superCanon = committed("super").map { p =>
      val t = spark.read.schema(EdgeOps.Schema).parquet(p)
      man.superRows.fold(t)(Ckpt.withRows(t, _))
    }
    val upperAssign = committed("upperAssign")
      .map(spark.read.schema(Checkpointer.AssignSchema).parquet(_))
    Incremental.State(canon, assign, m2, superCanon = superCanon,
      maxId = man.maxId.getOrElse(Long.MinValue), durable = durable,
      upper = upper, upperAssign = upperAssign,
      m2Committed = man.m2.isDefined)
  }
}
