package graft

import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, TriangleCount}
import graft.ann.Ann

/** Every opt-in fast path must be value-identical to the general path it
  * replaces — these are the regression guards for the round-3
  * optimizations. */
class FastPathEquivalenceSpec extends SparkSpecBase {

  /** Deterministic pseudo-random edge set over n vertices. */
  private def randGraph(n: Long, m: Int, seed: Long = 7L) = {
    val s = spark
    import s.implicits._
    (0 until m).map { k =>
      val h = scala.util.hashing.byteswap64(seed + k)
      val a = java.lang.Math.floorMod(h, n)
      val b = java.lang.Math.floorMod(h >> 17, n)
      (a, b, 1.0)
    }.filter(e => e._1 != e._2).toDF("src", "dst", "weight")
  }

  test("CC local union-find path == distributed hash-min path") {
    val g = randGraph(200, 300)
    val local = toMapLL(ConnectedComponents
      .run(g, localSolveVerts = 100000).components)
    val dist = toMapLL(ConnectedComponents.run(g).components)
    assert(local == dist)
  }

  test("triangle intersection formulation == brute count on a random graph") {
    val g = randGraph(60, 240)
    // brute force over collected canonical edges
    val es = g.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verts = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    var brute = 0L
    val perV = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for {
      i <- verts.indices; j <- i + 1 until verts.size
      k <- j + 1 until verts.size
      a = verts(i); b = verts(j); c = verts(k)
      if es((a, b)) && es((b, c)) && es((a, c))
    } {
      brute += 1
      perV(a) += 1; perV(b) += 1; perV(c) += 1
    }
    assert(brute > 0, "degenerate test graph")
    assert(TriangleCount.total(g) == brute)
    val got = toMapLL(TriangleCount.perVertex(g))
    assert(got.filter(_._2 > 0) == perV.toMap)
  }

  test("folded rhp signature == the literal xxhash64 column expression") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 8).map { r =>
      (r.toLong, (0 until 16).map(i =>
        ((r * 31 + i * 7) % 13 - 6).toFloat / 4f).toArray)
    }.toDF("id", "vec")
    // the pre-fold formulation, built inline: plane j's i-th sign from
    // when(pmod(xxhash64(seed, j, i), 2) == 0, 1, -1)
    val dim = 16; val planes = 8; val seed = 42L
    val bits = (0 until planes).map { j =>
      val sum = (0 until dim).map { i =>
        val sign = when(
          pmod(xxhash64(lit(seed), lit(j), lit(i)), lit(2)) === 0,
          lit(1.0d)).otherwise(lit(-1.0d))
        element_at(col("vec"), i + 1).cast("double") * sign
      }.reduce(_ + _)
      when(sum > 0, lit(1L << j)).otherwise(lit(0L))
    }
    val reference = bits.reduce(_ bitwiseOR _)
    val got = vecs.select(col("id"),
      Ann.rhpSignature(col("vec"), dim, planes, seed).as("a"),
      reference.as("b"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.forall { case (a, b) => a == b }, got.mkString(","))
  }

  test("compact rhp signature == unrolled rhp signature") {
    // the compact (literal-array HOF) plan must produce the identical
    // signature bits as the unrolled codegen form — the small-input
    // queries opt into it on that guarantee
    val s = spark
    import s.implicits._
    val vecs = (0 until 32).map { r =>
      (r.toLong, (0 until 64).map(i =>
        ((r * 37 + i * 11) % 17 - 8).toFloat / 5f).toArray)
    }.toDF("id", "vec")
    val got = vecs.select(col("id"),
      Ann.rhpSignature(col("vec"), 64, 16).as("a"),
      Ann.rhpSignatureCompact(col("vec"), 64, 16).as("b"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.forall { case (a, b) => a == b }, got.mkString(","))
  }

  test("LPA local sweep path == distributed BSP path") {
    import graft.algo.LabelPropagation
    // multiplicity-weighted graph (duplicate edges merge in compress),
    // dense enough for real ties and label competition
    val g = randGraph(150, 900, seed = 11L)
      .union(randGraph(150, 400, seed = 11L)) // duplicates => weights > 1
    val local = LabelPropagation.run(g, maxIter = 10,
      localSolveVerts = 100000)
    val dist = LabelPropagation.run(g, maxIter = 10)
    assert(toMapLL(local.labels) == toMapLL(dist.labels))
    assert(local.iterations == dist.iterations)
  }

  test("LPA local path: explicit universe with isolated vertices and " +
      "out-of-universe edges == distributed") {
    import graft.algo.LabelPropagation
    val s = spark
    import s.implicits._
    // universe 0..9; vertex 9 isolated; edge (3, 50) leaves the universe
    val g = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (4L, 5L, 1.0),
      (3L, 50L, 5.0), (2L, 3L, 1.0)).toDF("src", "dst", "weight")
    val universe = (0L to 9L).toDF("v")
    val local = LabelPropagation.run(g, vertices = Some(universe),
      maxIter = 10, localSolveVerts = 100)
    val dist = LabelPropagation.run(g, vertices = Some(universe),
      maxIter = 10)
    assert(toMapLL(local.labels) == toMapLL(dist.labels))
    // isolated vertex keeps its own label in both
    assert(toMapLL(local.labels)(9L) == 9L)
  }

  test("PageRank local path: subset universe == distributed (edges " +
      "leaving the vertex set are dropped on both paths)") {
    import graft.algo.PageRank
    val s = spark
    import s.implicits._
    // universe 0..59 of a 120-vertex graph: most vertices have edges that
    // leave it, plus the isolated (dangling) vertex 125
    val g = randGraph(120, 500, seed = 3L)
    val universe = ((0L until 60L) :+ 125L).toDF("v")
    val local = toMapLD(PageRank.run(g, vertices = Some(universe),
      numIter = 8, localSolveVerts = 100000).ranks)
    val dist = toMapLD(PageRank.run(g, vertices = Some(universe),
      numIter = 8).ranks)
    assert(local.keySet == dist.keySet)
    for ((v, r) <- local)
      assert(math.abs(r - dist(v)) < 1e-12, s"v=$v $r vs ${dist(v)}")
    // no rank mass leaves the vertex set on either path
    assert(math.abs(local.values.sum - 1.0) < 1e-9)
    assert(math.abs(dist.values.sum - 1.0) < 1e-9)
  }

  test("CC local path: subset universe == distributed") {
    val s = spark
    import s.implicits._
    val g = randGraph(200, 300)
    val universe = ((0L until 100L) :+ 250L).toDF("v")
    val local = toMapLL(ConnectedComponents.run(g, vertices = Some(universe),
      localSolveVerts = 100000).components)
    val dist = toMapLL(ConnectedComponents.run(g,
      vertices = Some(universe)).components)
    assert(local == dist)
    assert(local.keySet == ((0L until 100L).toSet + 250L))
  }

  test("LPA local path: empty graph") {
    import graft.algo.LabelPropagation
    val g = edges()
    val r = LabelPropagation.run(g, maxIter = 10, localSolveVerts = 100)
    assert(r.labels.count() == 0)
    assert(r.iterations == 0)
  }

  test("closed-form singleton modularity == generic path on v->v") {
    import graft.algo.Quality
    import graft.graph.EdgeOps
    // include a self-loop so the W_self term is exercised
    val g = randGraph(80, 400)
      .union(spark.range(1).select(lit(5L).as("src"), lit(5L).as("dst"),
        lit(2.5).as("weight")))
    val canon = EdgeOps.compress(g)
    val singles = EdgeOps.vertices(canon)
      .select(col("v"), col("v").as("community"))
    val generic = Quality.modularity(canon, singles)
    val closed = Quality.singletonModularity(canon)
    assert(math.abs(generic - closed) <= 1e-12, s"$generic vs $closed")
  }

  test("one-pass distributed quality == driver sums exactly (integer " +
      "weights), community count == distinct count") {
    import graft.algo.Quality
    import graft.graph.EdgeOps
    import graft.util.Ckpt.DFCkpt
    val s = spark
    import s.implicits._
    // parallel edges merge into weights > 1; a self-loop on 5; the edge
    // (3, 999) has an unassigned endpoint; 777 is assigned but isolated
    val canon = EdgeOps.compress(randGraph(60, 300)
      .union(Seq((5L, 5L, 2.0), (3L, 999L, 3.0)).toDF("src", "dst",
        "weight"))).ckpt
    val es = canon.select("src", "dst", "weight").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val commOf = (0L until 60L).map(v => v -> v / 7).toMap + (777L -> 50L)
    val counted = commOf.toSeq.toDF("v", "community").ckpt
    // a lazy frame takes the shuffled joins, a counted one the broadcast
    for (assign <- Seq(counted, commOf.toSeq.toDF("v", "community"))) {
      val nComm = assign.select("community").distinct().count()
      val (q, n) = Quality.score(canon, assign)
      assert(q == Quality.modularityFromArrays(es, commOf, 1.0))
      assert(Quality.modularity(canon, assign) == q)
      assert(n == nComm && n == 10L)
      for (g <- Seq(1.0, 0.05)) {
        val (c, nc) = Quality.score(canon, assign, g, useCpm = true)
        assert(c == Quality.cpmFromArrays(es, commOf, g))
        assert(Quality.cpm(canon, assign, g) == c)
        assert(nc == nComm)
      }
    }
  }

  test("PageRank local CSR path == distributed path (1e-12, and exactly " +
      "equal after the callers' 4-dp rounding)") {
    import graft.algo.PageRank
    // duplicate edges so compress yields weights > 1; plus an explicit
    // universe with an isolated (dangling) vertex
    val s = spark
    import s.implicits._
    val g = randGraph(120, 500, seed = 3L)
      .union(randGraph(120, 200, seed = 3L))
    val universe = (0L until 125L).toDF("v")
    val local = toMapLD(PageRank.run(g, vertices = Some(universe),
      numIter = 8, localSolveVerts = 100000).ranks)
    val dist = toMapLD(PageRank.run(g, vertices = Some(universe),
      numIter = 8).ranks)
    assert(local.keySet == dist.keySet)
    for ((v, r) <- local) {
      assert(math.abs(r - dist(v)) < 1e-12, s"v=$v $r vs ${dist(v)}")
      assert(math.round(r * 1e4) == math.round(dist(v) * 1e4), s"v=$v")
    }
    // sums to 1 on the local path too
    assert(math.abs(local.values.sum - 1.0) < 1e-9)
  }

  test("triangle local bitset path == distributed closing path") {
    val g = randGraph(90, 700, seed = 13L)
    val distTotal = TriangleCount.total(g)
    val localTotal = TriangleCount.total(g, localSolveVerts = 100000)
    assert(distTotal == localTotal)
    assert(distTotal > 0, "degenerate test graph")
    val distPv = toMapLL(TriangleCount.perVertex(g))
    val localPv = toMapLL(TriangleCount.perVertex(g,
      localSolveVerts = 100000))
    assert(distPv == localPv)
  }

  test("quality local collect path == distributed aggregation path") {
    import graft.algo.{ConnectedComponents, Quality}
    import graft.graph.EdgeOps
    import graft.util.Ckpt._
    val g = randGraph(100, 400, seed = 17L)
      .union(randGraph(100, 150, seed = 17L)) // multiplicity weights
    val canon = EdgeOps.compress(g).ckpt
    val assign = ConnectedComponents.run(canon).components
      .select(col("v"), col("component").as("community"))
    // integer-valued weights: both paths sum exactly — require equality
    assert(Quality.modularity(canon, assign) ==
      Quality.modularity(canon, assign, localSolveEdges = 1000000))
    assert(Quality.cpm(canon, assign) ==
      Quality.cpm(canon, assign, localSolveEdges = 1000000))
  }

  test("Leiden level-0 local solve: driver-side quality/singleton equal " +
      "the distributed Quality aggregations") {
    import graft.algo.{Leiden, Quality}
    val g = randGraph(80, 320, seed = 23L)
    val r = Leiden.run(g, Leiden.Config(localSolveLevel0Verts = 1000))
    assert(r.canon != null)
    val distQ = Quality.modularity(r.canon,
      r.assignment.select(col("v"), col("community")))
    assert(r.modularity == distQ, s"${r.modularity} vs $distQ")
    assert(r.singletonQ.isDefined)
    val distS = Quality.singletonModularity(r.canon)
    assert(r.singletonQ.get == distS, s"${r.singletonQ.get} vs $distS")
  }

  test("Leiden level-0 local solve: fractional weights score within " +
      "1e-12 of the distributed Quality aggregations") {
    import graft.algo.{Leiden, Quality}
    val g = randGraph(80, 320, seed = 23L)
      .withColumn("weight", lit(0.1) + (col("src") + col("dst")) % 7 / 3.0)
    val r = Leiden.run(g, Leiden.Config(localSolveLevel0Verts = 1000))
    val distQ = Quality.modularity(r.canon,
      r.assignment.select(col("v"), col("community")))
    assert(math.abs(r.modularity - distQ) <= 1e-12,
      s"${r.modularity} vs $distQ")
    val distS = Quality.singletonModularity(r.canon)
    assert(math.abs(r.singletonQ.get - distS) <= 1e-12,
      s"${r.singletonQ.get} vs $distS")
  }

  test("array-set jaccard == exploded set-intersection formulation") {
    import graft.dedup.Dedup
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "aa bb cc dd aa bb"), (2L, "bb cc dd ee"),
      (3L, "zz yy xx"), (4L, ""), (5L, "aa bb cc dd aa bb"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L))
      .toDF("id_a", "id_b")
    val got = Dedup.jaccardForPairs(docs, pairs, w = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // exploded reference: distinct (id, token-hash) rows, set algebra
    val sh = Dedup.shingles(docs, "text", "doc_id", w = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val want = pairs.collect().map { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (sh(a), sh(b))
      val inter = (sa & sb).size
      val j = inter.toDouble / (sa.size + sb.size - inter)
      // Spark round() is HALF_UP decimal rounding, not rint
      (a, b, BigDecimal(j)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    assert(got == want, s"$got vs $want")
  }

  test("per-row minhash signature == exploded grouped-min signature") {
    import graft.dedup.Dedup
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "w x y z w"), (2L, "a b"), (3L, ""))
      .toDF("doc_id", "text")
    val got = Dedup.minhashSignatures(docs, numHashes = 8, shingleWidth = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // exploded reference, exactly the pre-r6 aggregation
    val sh = Dedup.shingles(docs, "text", "doc_id", 2)
    val mins = (0 until 8).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"h$i"))
    val want = sh.groupBy("id").agg(mins.head, mins.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong(_))).toMap
    assert(got.keySet == want.keySet)
    for ((k, v) <- got) assert(v == want(k), s"doc $k")
  }

  test("level-0 local-solve vertex gate: over-bound falls back to " +
      "distributed with identical partition") {
    import graft.algo.Leiden
    val g = randGraph(120, 360, seed = 21L)
    // bound below the vertex count: the collected-edge check must
    // discard and continue distributed, not local-solve anyway
    val fallback = Leiden.run(g, Leiden.Config(localSolveEdges = 1000000,
      localSolveLevel0Verts = 10, localSolveMinLevel = 99,
      maxLevels = 2))
    val dist = Leiden.run(g, Leiden.Config(localSolveEdges = 0,
      maxLevels = 2))
    assert(canonicalPartition(toMapLL(fallback.assignment)) ==
      canonicalPartition(toMapLL(dist.assignment)))
  }

  test("driver byte budget refuses every LocalGraph caller: each takes " +
      "the distributed path with the default-budget result") {
    import graft.algo.{LabelPropagation, Leiden, PageRank}
    import graft.queries.Queries
    // three disjoint 5-cliques: every solver's answer is unambiguous, so
    // the distributed Leiden partition equals the local one too
    val g = edges((for {
      base <- Seq(0L, 10L, 20L); a <- 0L until 5L; b <- a + 1 until 5L
    } yield (base + a, base + b, 1.0)): _*)
    val callers: Seq[(String, () => Any)] = Seq(
      "PageRank" -> (() => toMapLD(PageRank.run(g, numIter = 8,
        localSolveVerts = 100000).ranks).map { case (v, r) =>
          v -> math.round(r * 1e9) }),
      "CC" -> (() => toMapLL(ConnectedComponents.run(g,
        localSolveVerts = 100000).components)),
      "LPA" -> (() => toMapLL(LabelPropagation.run(g, maxIter = 10,
        localSolveVerts = 100000).labels)),
      "triangles" -> (() => toMapLL(TriangleCount.perVertex(g,
        localSolveVerts = 100000))),
      "Leiden level 0" -> (() => canonicalPartition(toMapLL(Leiden.run(g,
        Leiden.Config(localSolveLevel0Verts = 1000, maxLevels = 2))
        .assignment))),
      "ccQuality" -> (() => Queries.ccQuality(g, useCpm = false)))
    for ((name, run) <- callers) {
      val (local, localJobs) = withJobs(run())
      val (dist, distJobs) =
        try {
          // 64 bytes: not even one edge fits, so LocalGraph refuses
          sys.props("graft.bcast.budgetBytes") = "64"
          withJobs(run())
        } finally sys.props -= "graft.bcast.budgetBytes"
      assert(dist == local, s"$name: budget-refused result differs")
      assert(distJobs > localJobs,
        s"$name: $distJobs jobs under the 64 B budget vs $localJobs " +
          "local — the distributed path did not run")
    }
  }
}
