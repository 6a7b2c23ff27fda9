package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.algo._
import graft.graph.EdgeOps
import graft.run.{Engine, IterMetric, MetricsSink, Validate}
import graft.source.{CodeTableSynth, Ingest}
import graft.util.Ckpt._

/** The two workloads. Each one sets up its seeded inputs [[SetupReps]]
  * times (median = `setup_s`), times calls into the engine's public API
  * until `--seconds` have passed (and at least a minimum count of ops ran),
  * then runs its output checks outside every timed region. */
object Workloads {

  val SetupReps = 3

  private def setupRepeated[T](r: Run)(body: => T): T = {
    val runs = (1 to SetupReps).map(i => r.setup(s"setup $i")(body))
    r.metric("setup_s", Run.median(runs.map(_._2)), "s")
    r.info("setup_runs_s") = runs.map(_._2)
    runs.last._1
  }

  /** Structure seed of the SBM graphs and of the hit_stream batches: every
    * run solves the same graph and batches up to vertex naming, so runs of
    * different seeds do the same work (at 0.1 % hubs a few thousand
    * vertices carry 0 to 6 hubs, which would otherwise dominate the spread
    * between seeds). */
  val GraphSeed = 42L

  /** `CodeTableSynth.sbmEdges` with 0.1 % x50 hubs, dense ids. */
  def sbmDense(spark: org.apache.spark.sql.SparkSession, n: Long,
      blocks: Int): DataFrame =
    CodeTableSynth.sbmEdges(spark, n, blocks, hubFraction = 0.001,
      hubFactor = 50, seed = GraphSeed).ckpt

  /** `edges` with its ids renamed by `seed` into hashed 62-bit ids (the id
    * space `Ingest` produces): another seed gives another naming, hence
    * other hash partitions, task placement and tie-breaks. */
  def renamed(edges: DataFrame, seed: Long): DataFrame = {
    def rename(c: String) =
      xxhash64(col(c), lit(seed)).bitwiseAND(lit(Ingest.IdMask)).as(c)
    edges.select(rename("src"), rename("dst"), col("weight"))
  }

  private def requireNoCollision(dense: DataFrame, seed: Long): Unit = {
    val n = EdgeOps.vertices(dense).count()
    val ids = EdgeOps.vertices(renamed(dense, seed)).count()
    require(ids == n, s"id renaming collided: $ids ids for $n vertices")
  }

  private def secsOf(ms: Seq[IterMetric], algo: String): Double =
    ms.filter(_.algo == algo).map(_.seconds).sum

  // --- hit_stream ---------------------------------------------------------

  /** @param n SBM vertices; @param batch paper batch size b;
    * @param rounds batches generated */
  final case class HitSize(n: Long, blocks: Int, batch: Int, rounds: Int)

  /** Batches an untraced `hit_stream` run times and checks: the first
    * (insert) batch; its partition's modularity is the reported one. */
  val GatedBatches = 1

  def hitStream(r: Run): Unit = {
    val a = r.args
    val sz =
      if (a.tiny) HitSize(600, 6, 60, 3)
      else HitSize(3000, 12, 1000, 3)
    val spark = r.spark
    val (init, deltas) = setupRepeated(r) {
      val dense = sbmDense(spark, sz.n, sz.blocks)
      requireNoCollision(dense, a.seed)
      val (init, slices) = Incremental.paperSplit(dense, 0.8, sz.batch,
        sz.rounds, GraphSeed)
      // churn batches delete batch/2 edges of the initial graph: disjoint
      // hash buckets per batch, so every deleted edge is present when its
      // batch runs (a later insert may bring the same pair back)
      val initCanon = EdgeOps.compress(init).ckpt
      val buckets = math.max(sz.rounds.toLong,
        initCanon.count() / math.max(1, sz.batch / 2))
      val deltas = slices.zipWithIndex.map { case (s, k) =>
        if (k % 2 == 0) s
        else s.select("src", "dst", "weight").unionByName(
          initCanon.where(pmod(xxhash64(col("src"), col("dst"),
            lit(GraphSeed)), lit(buckets)) === k)
            .select(col("src"), col("dst"), (-col("weight")).as("weight")))
          .ckpt
      }
      (renamed(init, a.seed), deltas.map(renamed(_, a.seed)))
    }

    val root = s"${a.work}/ckpt"
    // the cold solve takes the level-0 driver-local path: the distributed
    // cold solve costs 40+ s of fixed per-sweep job cost even on a
    // 600-vertex graph; warm batches run the default incremental path
    val cfg = Engine.Config(checkpointRoot = Some(root), runId = a.runId,
      leiden = Leiden.Config(localSolveLevel0Verts = sz.n))
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val (cold, coldOp) = r.op("Engine.run") { Engine.run(init, cfg) }

    final case class Batch(kind: String, out: Engine.Outcome, op: Run.Op,
        ckptBytes: Long, ckptFiles: Long) {
      def s: Double = op.wall
    }
    val batches = ArrayBuffer.empty[Batch]
    // the partition whose modularity is gated, kept for the checks before
    // a further batch moves the engine's state on
    var gated: Option[DataFrame] = None
    // traced runs go on with the churn batch, and further batches while
    // time is left, for the per-layer metrics. Untraced runs leave them
    // out: the churn batch takes one of two paths depending on the vertex
    // naming (about 13 or 18 CPU seconds), too far apart to gate its time
    val wanted = if (a.trace) GatedBatches + 1 else GatedBatches
    while (batches.size < deltas.size && (batches.size < wanted ||
        (a.trace && elapsed < a.seconds))) {
      val k = batches.size
      if (k == GatedBatches)
        gated = Some(batches.last.out.assignment.select("v", "community").ckpt)
      val kind = if (k % 2 == 0) "insert" else "churn"
      val (o, op) = r.op(s"Engine.update $kind") {
        Engine.update(spark, deltas(k), cfg)
      }
      val (bytes, files) = Run.diskUsage(s"$root/${a.runId}/iter=${o.batch}")
      batches += Batch(kind, o, op, bytes, files)
    }
    r.info("batches") = batches.size
    r.info("batches_exhausted") = batches.size == deltas.size
    // the end-to-end times cover the cold run and the first (insert) batch
    val insert = batches.head.op
    r.metric("run_cpu_s", coldOp.cpu + insert.cpu, "s")
    r.metric("dist_cpu_s", insert.cpu, "s")
    r.layer("wall.run_s", coldOp.wall + insert.wall, "s")
    r.layer("wall.dist_s", insert.wall, "s")
    val qGated = batches(GatedBatches - 1).out.quality
    r.metric("modularity", qGated, "ratio")
    r.info("modularity_bits") = java.lang.Double.doubleToRawLongBits(qGated)

    // per-layer: Leiden phases from the engine's own IterMetrics (the
    // level-0 local solve of the cold run records none)
    r.supersteps = cold.metrics.size + batches.map(_.out.metrics.size).sum
    r.superstepOp = _.startsWith("Engine.")
    def med(f: Batch => Double) = Run.median(batches.map(f).toSeq)
    val mv = (b: Batch) => secsOf(b.out.metrics, "leiden.movement")
    val rf = (b: Batch) => secsOf(b.out.metrics, "leiden.refinement")
    r.layer("algo.leiden.warm_movement_s", med(mv), "s")
    r.layer("algo.leiden.warm_refinement_s", med(rf), "s")
    val warmMoves = batches.flatMap(_.out.metrics)
      .filter(m => m.algo == "leiden.movement" && m.frontier > 0)
    r.layer("algo.leiden.warm_frontier", med(b => b.out.metrics
      .find(m => m.algo == "leiden.movement" && m.level == 0)
      .map(_.frontier.toDouble).getOrElse(0.0)), "count")
    r.layer("algo.leiden.warm_moves_per_frontier",
      warmMoves.map(_.movesAccepted.max(0L)).sum.toDouble /
        math.max(1L, warmMoves.map(_.frontier).sum), "ratio")
    r.layer("run.cold_s", coldOp.wall, "s")
    for (kind <- Seq("insert", "churn")) {
      val xs = batches.filter(_.kind == kind).map(_.s).toSeq
      if (xs.nonEmpty) r.layer(s"run.warm_${kind}_s", Run.median(xs), "s")
    }
    r.layer("run.update_rest_s", med(b => b.s - mv(b) - rf(b)), "s")
    r.layer("state.ckpt_bytes", med(_.ckptBytes.toDouble), "bytes")
    r.layer("state.ckpt_files", med(_.ckptFiles.toDouble), "count")

    // output checks
    val tc = System.nanoTime()
    // the gated partition, and the last one when more batches ran
    def checkPartition(tag: String, n: Int, assign0: DataFrame): Unit = {
      val reported = batches(n - 1).out.quality
      val assign = assign0.select("v", "community").ckpt
      r.check(s"hit.invariants$tag") {
        // warm batches may carry historical or fresh community ids, so the
        // id-space bound is open; one row per vertex still must hold
        val v = Validate.invariants(assign, Long.MaxValue)
        (v.ok, v.reason)
      }
      val canon = EdgeOps.compress(
        deltas.take(n).foldLeft(init.select("src", "dst", "weight"))(
          _ unionByName _))
        .where(col("weight") > 1e-9).ckpt
      r.check(s"hit.coverage$tag") {
        val missing = EdgeOps.vertices(canon)
          .join(assign, Seq("v"), "left_anti").count()
        (missing == 0, s"$missing graph vertices without a community")
      }
      r.check(s"hit.quality$tag") {
        val q = Quality.modularity(canon, assign)
        (math.abs(q - reported) <= 1e-9, s"reported $reported, recomputed $q")
      }
    }
    checkPartition("", GatedBatches,
      gated.getOrElse(batches(GatedBatches - 1).out.assignment))
    if (batches.size > GatedBatches)
      checkPartition(".last", batches.size, batches.last.out.assignment)
    r.info("checks_s") = (System.nanoTime() - tc) / 1e9
  }

  // --- analytics ---------------------------------------------------------

  /** Driver queries run in each analytics pass: the driver-local fast paths
    * (CSR PageRank, bitset triangles, LocalLeiden) next to their
    * distributed counterparts, plus the dedup, text and ann layers. All but
    * q_leiden have a DuckDB oracle. */
  val PassQueries = Seq("q_pagerank", "q_triangles", "q_leiden", "q_jaccard",
    "q_emb_dedup", "q_text_stats", "q_ann_brute")

  /** @param rows source-table rows; @param n SBM vertices;
    * @param lineitemRows rows of the seeded lineitem table */
  final case class AnalyticsSize(rows: Long, n: Long, blocks: Int,
      prIter: Int, lpaIter: Int, lineitemRows: Long)

  def analytics(r: Run): Unit = {
    val a = r.args
    val sz =
      if (a.tiny) AnalyticsSize(2000, 500, 5, 3, 3, 2000)
      else AnalyticsSize(10000, 3000, 12, 3, 3, 6000)
    val spark = r.spark
    val dir = s"${a.work}/tables"
    val fixed = Seq("documents", "embeddings")
    val (src, edges) = setupRepeated(r) {
      // lineitem's graph columns come from the seed; documents and
      // embeddings are fixed tables shipped with the benchmark
      spark.range(sz.lineitemRows).select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        pmod(xxhash64(lit("part"), col("id"), lit(a.seed)), lit(2000L))
          .as("l_partkey"),
        pmod(xxhash64(lit("supp"), col("id"), lit(a.seed)), lit(100L))
          .as("l_suppkey"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      fixed.foreach { t =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"${a.data}/$t.parquet"),
          java.nio.file.Paths.get(s"$dir/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      val dense = sbmDense(spark, sz.n, sz.blocks)
      requireNoCollision(dense, a.seed)
      (CodeTableSynth.sourceTable(spark, sz.rows, seed = a.seed).ckpt,
        renamed(dense, a.seed).ckpt)
    }
    // one fixed order: the first query of a pass pays for warming up the
    // paths the queries share, so every seed must start with the same one
    val queries = PassQueries

    val out = s"${a.work}/out"
    val ops = scala.collection.mutable.LinkedHashMap.empty[String, Run.Op]
    def timed[T](name: String)(body: => T): T = {
      val (v, o) = r.op(name)(body); ops(name) = o; v
    }
    def t(name: String) = ops(name).wall
    val t0 = System.nanoTime()
    // the distributed path: every local fast path off (the default)
    val verts = timed("Ingest.vertices") { Ingest.vertices(src).ckpt }
    val sha = timed("Ingest.checkInvariant") {
      Ingest.checkInvariant(src, verts)
    }
    timed("Ingest.coCommitEdges") { Ingest.coCommitEdges(src).count() }
    val canon = timed("EdgeOps.compress") { EdgeOps.compress(edges).ckpt }
    val prSink = new MetricsSink
    val ranks = timed("PageRank.run") {
      PageRank.run(canon, numIter = sz.prIter, tol = 0.0, sink = prSink)
        .ranks.ckpt
    }
    val ccRes = timed("ConnectedComponents.run") {
      val c = ConnectedComponents.run(canon); c.components.count(); c
    }
    val lpaRes = timed("LabelPropagation.run") {
      val l = LabelPropagation.run(canon, maxIter = sz.lpaIter)
      l.labels.count(); l
    }
    val tri = timed("TriangleCount.perVertex") {
      TriangleCount.perVertex(canon).ckpt
    }
    // the LPA partition: the CC partition of a connected SBM graph is a
    // single community, whose modularity is identically 0
    val q = timed("Quality.modularity") {
      Quality.modularity(canon, lpaRes.labels
        .select(col("v"), col("label").as("community")))
    }
    val distOps = ops.values.toSeq

    // driver-query passes: the first writes each result (for the DuckDB
    // comparison in run.py); passes that fit in the time left count it
    def queryPass(first: Boolean): Seq[Run.Op] =
      queries.map { n =>
        r.op(s"query $n") {
          val df = SparkEntry.queries(n)(spark, dir)
          if (first) df.write.mode("overwrite").parquet(s"$out/$n")
          else df.count()
        }._2
      }
    val qPasses = ArrayBuffer(queryPass(first = true))
    while ((System.nanoTime() - t0) / 1e9 < a.seconds)
      qPasses += queryPass(first = false)
    r.info("query_passes") = qPasses.size
    val prSteps = prSink.all.filter(_.algo == "pagerank").map(_.seconds)
    r.supersteps = prSteps.size
    r.superstepOp = _ == "PageRank.run"
    // run: the distributed suite and the first query pass
    val runOps = distOps ++ qPasses.head
    r.metric("run_cpu_s", runOps.map(_.cpu).sum, "s")
    r.metric("dist_cpu_s", distOps.map(_.cpu).sum, "s")
    r.layer("wall.run_s", runOps.map(_.wall).sum, "s")
    r.layer("wall.dist_s", distOps.map(_.wall).sum, "s")

    val ingestS = t("Ingest.vertices") + t("Ingest.checkInvariant") +
      t("Ingest.coCommitEdges")
    r.layer("source.ingest_s", ingestS, "s")
    r.layer("source.ingest_rows_per_s", sz.rows / ingestS, "rows/s")
    r.layer("source.sha_violations", sha.toDouble, "count")
    r.layer("graph.compress_s", t("EdgeOps.compress"), "s")
    r.layer("algo.pagerank_s", t("PageRank.run"), "s")
    r.layer("algo.pagerank_supersteps", prSteps.size, "count")
    val step4 = Run.median(prSteps)
    r.layer("algo.pagerank_superstep_s", step4, "s")
    r.layer("algo.pagerank_edges_per_s", 2.0 * canon.count() / step4,
      "edges/s")
    r.layer("algo.cc_s", t("ConnectedComponents.run"), "s")
    r.layer("algo.cc_supersteps", ccRes.iterations, "count")
    r.layer("algo.lpa_s", t("LabelPropagation.run"), "s")
    r.layer("algo.lpa_supersteps", lpaRes.iterations, "count")
    r.layer("algo.triangles_s", t("TriangleCount.perVertex"), "s")
    r.layer("algo.quality_s", t("Quality.modularity"), "s")
    queries.sorted.foreach(n => r.layer(s"queries.${n}_s",
      Run.median(qPasses.toSeq.map(_.find(_.name == s"query $n").get.wall)),
      "s"))
    r.layer("queries.pass_s", Run.median(qPasses.toSeq.map(_.map(_.wall).sum)),
      "s")

    val tc = System.nanoTime()
    // output checks: the forced-distributed results against the driver-
    // local fast paths on the same canonical graph
    val local = Long.MaxValue
    r.check("analytics.sha_violations") {
      (sha == 0, s"$sha rows whose ingested sha256 differs from the source")
    }
    // both sides are vertex-sized: compare them on the driver
    r.check("analytics.pagerank_parity") {
      def byV(df: DataFrame) = df.collect()
        .map(x => x.getAs[Long]("v") -> x.getAs[Double]("rank")).toMap
      val (d, l) = (byV(ranks), byV(PageRank.run(canon, numIter = sz.prIter,
        tol = 0.0, localSolveVerts = local).ranks))
      val dev =
        if (d.keySet != l.keySet) Double.PositiveInfinity
        else d.map { case (v, x) => math.abs(x - l(v)) }.max
      (dev <= 1e-6, s"max |dist - local| = $dev over ${d.size} vertices")
    }
    def sameRows(dist: DataFrame, loc: DataFrame): (Boolean, String) = {
      def bag(df: DataFrame) =
        df.collect().toSeq.map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)
      val (d, l) = (bag(dist), bag(loc))
      (d == l, s"${d.size} distinct rows distributed, ${l.size} local, " +
        s"${(d.keySet diff l.keySet).size} only distributed")
    }
    r.check("analytics.cc_parity") {
      sameRows(ccRes.components, ConnectedComponents.run(canon,
        localSolveVerts = local).components)
    }
    r.check("analytics.triangle_parity") {
      sameRows(tri, TriangleCount.perVertex(canon,
        localSolveVerts = local))
    }
    // modularity of q_leiden's partition of the lineitem graph (the LPA
    // partition of the SBM graph swings with hub placement)
    val qLeiden = Quality.modularity(
      EdgeOps.compress(graft.queries.Queries.lineitemGraph(spark, dir)),
      spark.read.parquet(s"$out/q_leiden").select("v", "community"),
      localSolveEdges = Long.MaxValue)
    r.metric("modularity", qLeiden, "ratio")
    r.info("modularity_bits") = java.lang.Double.doubleToRawLongBits(qLeiden)
    val oracle = new java.io.PrintWriter(s"$out/oracle_sql.json", "UTF-8")
    try oracle.println(Run.json.writeValueAsString(SparkEntry.oracleSql
      .filter(kv => queries.contains(kv._1))))
    finally oracle.close()

    r.info("checks_s") = (System.nanoTime() - tc) / 1e9
    // scaling leg, for the per-layer metrics only: the same persisted graph
    // at local[1]
    if (!a.trace) return
    val ts = System.nanoTime()
    val graphPath = s"${a.work}/graph"
    EdgeOps.compress(edges).write.mode("overwrite").parquet(graphPath)
    r.restart(1)
    val sink1 = new MetricsSink
    r.op("PageRank.run local[1]") {
      PageRank.run(r.spark.read.parquet(graphPath), numIter = sz.prIter,
        tol = 0.0, sink = sink1).ranks.count()
    }
    val step1 = Run.median(sink1.all.filter(_.algo == "pagerank")
      .map(_.seconds))
    r.layer("algo.pagerank_superstep_s_1core", step1, "s")
    r.layer("algo.pagerank_scaling_eff", step1 / step4 / Run.Cores, "ratio")
    r.info("scaling_leg_s") = (System.nanoTime() - ts) / 1e9
  }
}
