package graft

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.algo.{Incremental, Leiden}
import graft.graph.EdgeOps
import graft.run.{Engine, MetricsSink}
import graft.source.CodeTableSynth
import graft.util.Ckpt.DFCkpt

/** Leiden's refinement guarantee (Traag, Waltman & van Eck 2019): every
  * subcommunity is connected along its intra-subcommunity edges. A warm
  * batch that deletes no such edge skips refinement on the strength of
  * it, so the properties here check it on random graphs and random signed
  * delta sequences, with fixed seeds: after `Incremental.initial`, after
  * a driver-local and a distributed cold `Engine.run`, and after every
  * batch; and that a level 0 with the skip equals one whose refinement
  * is forced to run. */
class ConnectivitySpec extends SparkSpecBase {
  import ConnectivitySpec.Case

  private val cases: Gen[Case] = for {
    n <- Gen.choose(150, 260)
    blocks <- Gen.choose(3, 6)
    seed <- Gen.choose(1L, 10000L)
  } yield Case(n, blocks, seed)

  private def graph(c: Case): DataFrame =
    CodeTableSynth.sbmEdges(spark, c.n, c.blocks, degIntra = 4,
      degInter = 1, hubFraction = 0.02, hubFactor = 8, seed = c.seed).ckpt

  /** Runs `prop` on `n` generated cases from a fixed seed; no shrinking
    * (each case runs Spark jobs for tens of seconds). */
  private def check(n: Int, seed: Long)(prop: Case => Prop): Unit = {
    val res = Test.check(Test.Parameters.default
      .withInitialSeed(Seed(seed)).withMinSuccessfulTests(n)
      .withWorkers(1), Prop.forAllNoShrink(cases)(prop))
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res,
      org.scalacheck.util.Pretty.Params(2)))
  }

  /** The subcommunities of `assign` (v, subcomm) that are not connected
    * along the edges of `canon` joining two of their members, by a
    * driver union-find. */
  def disconnected(canon: DataFrame, assign: DataFrame): Seq[Long] = {
    val sc = toMapLL(assign.select("v", "subcomm"))
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    canon.where(abs(col("weight")) > 1e-9).select("src", "dst").collect()
      .foreach { r =>
        val (u, v) = (r.getLong(0), r.getLong(1))
        if (sc.contains(u) && sc.get(u) == sc.get(v)) {
          val (a, b) = (find(u), find(v))
          if (a != b) parent(math.max(a, b)) = math.min(a, b)
        }
      }
    sc.groupBy(_._2).collect {
      case (s, m) if m.keysIterator.map(find).distinct.size > 1 => s
    }.toSeq.sorted
  }

  private def connected(tag: String, canon: DataFrame,
      assign: DataFrame): Prop = {
    val bad = disconnected(canon, assign)
    Prop(bad.isEmpty) :| s"$tag: ${bad.size} disconnected subcommunities " +
      s"(${bad.take(5).mkString(", ")})"
  }

  /** The signed batches applied to a state whose canonical edges are
    * `canon` and assignment `assign`, from case seed `seed`:
    *  0. inserts: 12 new edges among the vertices and a new vertex, whose
    *     id lies far above the graph's, as ids of the hashed 62-bit space
    *     `Ingest` produces do (a dense id just above the largest vertex
    *     could equal a fresh subcommunity id an earlier split allocated
    *     above the watermark, and join that subcommunity);
    *  1. deletes: 10 intra-subcommunity edges, and every edge of one
    *     vertex `x` of degree >= 2, which isolates it;
    *  2. `x` re-attached to three vertices;
    *  3. inserts again. */
  private def batch(k: Int, seed: Long, canon: DataFrame, assign: DataFrame,
      x: Long): DataFrame = {
    val s = spark
    import s.implicits._
    val vs = assign.select("v").collect().map(_.getLong(0)).sorted
    val rnd = new scala.util.Random(seed * 31 + k)
    def pick() = vs(rnd.nextInt(vs.length))
    k match {
      case 0 | 3 =>
        val fresh = (1L << 40) + k * (1L << 20)
        (Seq.fill(12)((pick(), pick())).filter { case (u, v) => u != v } ++
          Seq((fresh, pick()), (fresh, pick())))
          .map { case (u, v) => (u, v, 1.0) }.toDF("src", "dst", "weight")
      case 1 =>
        val sc = assign.select(col("v").as("src"), col("subcomm").as("su"))
        val intra = canon
          .join(sc, "src")
          .join(sc.select(col("src").as("dst"), col("su").as("sv")), "dst")
          .where(col("su") === col("sv") && col("src") =!= col("dst"))
          .select(col("src"), col("dst"), negate(col("weight")).as("weight"))
          .orderBy(xxhash64(col("src"), col("dst"), lit(seed))).limit(10)
        val ofX = canon.where(col("src") === x || col("dst") === x)
          .select(col("src"), col("dst"), negate(col("weight")).as("weight"))
        intra.unionAll(ofX).distinct()
      case _ =>
        Seq.fill(3)(pick()).filter(_ != x).distinct
          .map(v => (x, v, 1.0)).toDF("src", "dst", "weight")
    }
  }

  /** A vertex of degree >= 2 in `canon`, chosen by `seed`. */
  private def isolated(canon: DataFrame, seed: Long): Long = {
    val deg = EdgeOps.degrees(EdgeOps.symmetrize(canon))
      .where(col("deg") >= 2).select("v").collect().map(_.getLong(0)).sorted
    deg(new scala.util.Random(seed).nextInt(deg.length))
  }

  test("every committed subcommunity is connected: Incremental.initial, " +
      "driver-local and distributed cold Engine.run, and every batch") {
    check(2, 20261021L) { c =>
      val g = graph(c)
      val canon0 = EdgeOps.compress(g).ckpt
      val x = isolated(canon0, c.seed)
      val leiden = Leiden.Config()
      // in memory, from Incremental.initial
      var st = Incremental.initial(g, leiden)
      var props = Seq(connected(s"$c initial", st.canon, st.assign))
      for (k <- 0 until 4) {
        st = Incremental.update(st, batch(k, c.seed, st.canon, st.assign, x),
          leiden)
        props :+= connected(s"$c in-memory batch $k", st.canon, st.assign)
      }
      // through the engine's checkpoints, from a driver-local cold run
      val root = Files.createTempDirectory("graft-conn").toString
      val cfg = Engine.Config(checkpointRoot = Some(root), runId = "local",
        leiden = Leiden.Config(localSolveLevel0Verts = c.n + 10))
      Engine.run(g, cfg)
      def committed(runId: String, k: Int) =
        Engine.readState(spark, root, runId, k)
      props :+= connected(s"$c local cold", committed("local", 0).canon,
        committed("local", 0).assign)
      for (k <- 0 until 4) {
        val cur = committed("local", k)
        Engine.update(spark, batch(k, c.seed, cur.canon, cur.assign, x), cfg)
        val next = committed("local", k + 1)
        props :+= connected(s"$c engine batch $k", next.canon, next.assign)
      }
      // a distributed cold run commits the components of its communities
      Engine.run(g, Engine.Config(checkpointRoot = Some(root),
        runId = "dist"))
      props :+= connected(s"$c distributed cold", committed("dist", 0).canon,
        committed("dist", 0).assign)
      Prop.all(props: _*)
    }
  }

  test("a level 0 that skips refinement equals one whose refinement runs") {
    check(2, 20261022L) { c =>
      val g = graph(c)
      val canon0 = EdgeOps.compress(g).ckpt
      val x = isolated(canon0, c.seed)
      val leiden = Leiden.Config(localSolveLevel0Verts = c.n + 10)
      val root = Files.createTempDirectory("graft-skip").toString
      val cfg = Engine.Config(checkpointRoot = Some(root), runId = "s",
        leiden = leiden)
      Engine.run(g, cfg)
      var props = Seq.empty[Prop]
      for (k <- 0 until 4) {
        val st = Incremental.hydrate(Engine.readState(spark, root, "s", k))
        val delta = batch(k, c.seed, st.canon, st.assign, x)
        // level 0 as Incremental.update runs it
        def level0(): Map[Long, (Long, Long)] = {
          val deltaC = EdgeOps.compress(delta, leiden.eps).ckpt
          val newCanon = EdgeOps.mergeDelta(st.canon, deltaC, leiden.eps).ckpt
          val m2 = st.m2 + 2.0 * EdgeOps.totalWeight(deltaC)
          Incremental.level0(st, deltaC, newCanon, m2, leiden,
            MetricsSink.discard).ref.assign.collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        }
        val (skip, bySite) = withJobsBySite(level0())
        // the 8-byte budget takes the distributed prologue, whose level 0
        // always runs refinement
        val forced = withByteBudget(8L)(level0())
        val inserts = k == 0 || k == 3
        props :+= (Prop(skip == forced) :| s"$c batch $k: level 0 with the " +
          s"skip differs in ${skip.count { case (v, a) =>
            !forced.get(v).contains(a) }} vertices")
        props :+= (Prop(!inserts || !bySite.contains("Leiden.refinement")) :|
          s"$c batch $k: an insert batch ran refinement: $bySite")
        Engine.update(spark, delta, cfg)
      }
      Prop.all(props: _*)
    }
  }
}

object ConnectivitySpec {
  /** A small hub-skewed SBM graph. */
  final case class Case(n: Int, blocks: Int, seed: Long)
}
