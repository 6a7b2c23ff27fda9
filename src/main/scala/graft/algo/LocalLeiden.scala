package graft.algo

import scala.collection.mutable

/** Sequential deterministic Leiden on a driver-local edge list.
  *
  * Two roles:
  *
  *  1. The reference's **deterministic run mode** — the sequential
  *     movement loop of /root/reference/src/core/algorithm/
  *     hit_leiden.rs:223-280 (ascending-id rounds, immediate stat
  *     updates) and the ascending-degree singleton-merge refinement of
  *     hit_leiden.rs:399-482, with the deterministic tie-breaking of
  *     deterministic.rs:1-21 (best gain, ties to the smallest id). The
  *     BSP engine implements throughput-mode semantics; this is the
  *     exact-identity counterpart (equivalence.rs:14-20).
  *  2. The **top-of-hierarchy solver**: after one or two contractions a
  *     100 TB graph's supergraph has a few million edges at most. Driving
  *     dozens of fixed-cost Spark jobs against it is pure overhead —
  *     collect it and solve sequentially (standard multilevel-partitioner
  *     practice). [[Leiden.run]] switches to this path for levels >= 1
  *     whose edge count is below `Config.localSolveEdges`.
  *
  * The whole pipeline runs on primitive arrays: external 64-bit ids are
  * densified once per level, edges live as packed (i<<32 | j) keys in an
  * open-addressing long->double table (the CSR + flat-accumulator shape
  * of the reference's in_memory.rs:13-61 and parallel_frontier.rs:117-174)
  * — a few million edges solve in seconds, zero boxing in the hot loops.
  * Everything is deterministic: per-level edges are sorted by packed key
  * before any float accumulation, so results do not depend on the input
  * row order Spark's collect happens to produce.
  */
object LocalLeiden {

  /** Open-addressing long->double accumulation map (power-of-2 capacity,
    * linear probing, -1 = empty slot; packed keys are always >= 0). */
  private final class LongDoubleMap(initialCap: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCap) * 2)
    private var keys = java.util.Arrays.copyOf(Array.empty[Long], cap)
    java.util.Arrays.fill(keys, -1L)
    private var vals = new Array[Double](cap)
    private var n = 0
    def size: Int = n
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1
      keys = new Array[Long](cap); java.util.Arrays.fill(keys, -1L)
      vals = new Array[Double](cap); n = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) >= 0) add(ok(i), ov(i))
        i += 1
      }
    }
    def add(k: Long, v: Double): Unit = {
      if (n * 4 >= cap * 3) grow()
      var i = (scala.util.hashing.byteswap64(k) & (cap - 1)).toInt
      while (true) {
        val kk = keys(i)
        if (kk == k) { vals(i) += v; return }
        if (kk == -1L) { keys(i) = k; vals(i) = v; n += 1; return }
        i = (i + 1) & (cap - 1)
      }
    }
    def get(k: Long): Double = {
      var i = (scala.util.hashing.byteswap64(k) & (cap - 1)).toInt
      while (true) {
        val kk = keys(i)
        if (kk == k) return vals(i)
        if (kk == -1L) return 0.0
        i = (i + 1) & (cap - 1)
      }
      0.0
    }
    /** All keys with |value| > eps, SORTED (primitive sort — this is the
      * determinism anchor for downstream float accumulation). */
    def sortedKeys(eps: Double): Array[Long] = {
      val out = new Array[Long](n)
      var i = 0; var m = 0
      while (i < cap) {
        if (keys(i) >= 0 && math.abs(vals(i)) > eps) {
          out(m) = keys(i); m += 1
        }
        i += 1
      }
      val trimmed = java.util.Arrays.copyOf(out, m)
      java.util.Arrays.sort(trimmed)
      trimmed
    }
  }

  /** Replace each carried community by its connected components on the
    * (local) graph — the seed-connectivity repair of the incremental
    * supergraph solve, as a sequential union-find. Component label = min
    * member id (matching the distributed [[ConnectedComponents]] policy).
    * Vertices keep singleton communities when absent from `carried`.
    *
    * Primitive-array union-find over densified ids (boxed HashMap
    * lookups per edge endpoint made this a measured ~4.5 s/batch at 1M
    * superedges; this form is ~15x cheaper). Union keeps the smaller
    * dense index as root, and dense order IS id order, so every root is
    * the component's min member id. Takes primitive arrays: no
    * per-edge tuple boxing (a 2.6M-edge supergraph means millions of
    * avoidable allocations per warm batch). */
  def repairConnectivity(eSrc: Array[Long], eDst: Array[Long],
      carried: Map[Long, Long]): Map[Long, Long] = {
    // densify: sorted distinct ids from edge endpoints + carried keys
    val all = new Array[Long](eSrc.length * 2 + carried.size)
    var i = 0
    var e = 0
    while (e < eSrc.length) {
      all(i) = eSrc(e); all(i + 1) = eDst(e); i += 2; e += 1
    }
    carried.keysIterator.foreach { k => all(i) = k; i += 1 }
    java.util.Arrays.sort(all)
    var m = 0
    var j = 0
    while (j < all.length) {
      if (m == 0 || all(j) != all(m - 1)) { all(m) = all(j); m += 1 }
      j += 1
    }
    val verts = java.util.Arrays.copyOf(all, m)
    def idx(v: Long): Int = java.util.Arrays.binarySearch(verts, v)
    val comm = java.util.Arrays.copyOf(verts, m) // default: own id
    carried.foreach { case (v, c) => comm(idx(v)) = c }
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    e = 0
    while (e < eSrc.length) {
      val iu = idx(eSrc(e)); val iv = idx(eDst(e))
      if (comm(iu) == comm(iv)) {
        val ra = find(iu); val rb = find(iv)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      e += 1
    }
    val out = Map.newBuilder[Long, Long]
    var k = 0
    while (k < m) { out += verts(k) -> verts(find(k)); k += 1 }
    out.result()
  }

  /** Connectivity repair over PRE-DENSIFIED arrays — the
    * maintained-mirror warm path: same semantics as
    * [[repairConnectivity]] (union within equal labels, every node
    * relabeled to the min member of its community-restricted component)
    * without the per-batch sort/dedup/binary-search/boxed-Map costs,
    * which dominate that path (the union-find itself is linear).
    *
    * @param verts  sorted external ids (dense id = index)
    * @param src,dst dense endpoint arrays
    * @param labels per-vertex community label; mutated IN PLACE to the
    *               repaired (component-min) labels
    * @return true when any label changed (a split or stale-min relabel)
    */
  def repairDense(verts: Array[Long], src: Array[Int], dst: Array[Int],
      labels: Array[Long]): Boolean = {
    val m = verts.length
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    var e = 0
    while (e < src.length) {
      val iu = src(e); val iv = dst(e)
      if (labels(iu) == labels(iv)) {
        val ra = find(iu); val rb = find(iv)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      e += 1
    }
    // component root index is the min dense member = min external id
    var changed = false
    var k = 0
    while (k < m) {
      val lbl = verts(find(k))
      if (labels(k) != lbl) { labels(k) = lbl; changed = true }
      k += 1
    }
    changed
  }

  /** Connected components on a driver-local edge list: label = min member
    * id. Used by the refinement CC-split when the affected subgraph is
    * batch-sized. Primitive-array union-find (see repairConnectivity);
    * edge endpoints must be members of `verts`. */
  def localComponents(verts: Array[Long],
      es: Array[(Long, Long)]): Map[Long, Long] = {
    val sorted = verts.clone()
    java.util.Arrays.sort(sorted)
    val m = sorted.length
    def idx(v: Long): Int = java.util.Arrays.binarySearch(sorted, v)
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (u, v) =>
      val ra = find(idx(u)); val rb = find(idx(v))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val out = Map.newBuilder[Long, Long]
    var k = 0
    while (k < m) { out += sorted(k) -> sorted(find(k)); k += 1 }
    out.result()
  }

  /** Full hierarchical solve.
    *
    * @param edges    undirected edges (parallel/duplicate rows allowed;
    *                 merged here); any row order — results are identical
    * @param nodeSize vertex -> size in base vertices (absent = 1)
    * @param initial  vertex -> starting community (absent = own id)
    * @return final (vertex -> community), community = min member id
    */
  def solve(edges: Array[(Long, Long, Double)],
      nodeSize: Map[Long, Long],
      initial: Map[Long, Long],
      cfg: Leiden.Config): Map[Long, Long] = {
    val eSrc = new Array[Long](edges.length)
    val eDst = new Array[Long](edges.length)
    val eW = new Array[Double](edges.length)
    var i = 0
    while (i < edges.length) {
      eSrc(i) = edges(i)._1; eDst(i) = edges(i)._2; eW(i) = edges(i)._3
      i += 1
    }
    solve(eSrc, eDst, eW, nodeSize, initial, cfg)
  }

  /** Primitive-array form — the hot path for the per-batch supergraph
    * re-solve (no per-edge tuple boxing).
    *
    * @param canonicalSorted the input is already canonical (src <= dst,
    *   unique keys) AND sorted by (src, dst): the level-0 dedup/sort map
    *   is skipped and the dense edge arrays are built by direct id
    *   lookups. Because the dense index is monotone in the external id,
    *   the resulting packed keys arrive in exactly the order the
    *   dedup/sort path would produce — bit-identical accumulation. */
  def solve(eSrc: Array[Long], eDst: Array[Long], eW: Array[Double],
      nodeSize: Map[Long, Long],
      initial: Map[Long, Long],
      cfg: Leiden.Config,
      canonicalSorted: Boolean = false): Map[Long, Long] = {
    if (eSrc.isEmpty)
      return (nodeSize.keySet ++ initial.keySet).map(v => v -> v).toMap
    // phase timing to stderr when GRAFT_DEBUG_TIMING=1 (diagnostics only)
    val debugT = sys.env.get("GRAFT_DEBUG_TIMING").contains("1")
    var tMark = System.nanoTime()
    def mark(phase: String): Unit = if (debugT) {
      val now = System.nanoTime()
      System.err.println(f"[loc] $phase%-14s ${(now - tMark) / 1e9}%.2fs")
      tMark = now
    }

    // densify external ids once (sorted -> binary search)
    val verts: Array[Long] = {
      val all = new Array[Long](eSrc.length * 2)
      var i = 0
      var e = 0
      while (e < eSrc.length) {
        all(i) = eSrc(e); all(i + 1) = eDst(e); i += 2; e += 1
      }
      java.util.Arrays.sort(all)
      var m = 0
      var j = 0
      while (j < all.length) {
        if (m == 0 || all(j) != all(m - 1)) { all(m) = all(j); m += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(all, m)
    }
    val nBase = verts.length
    mark("densify")
    def idx(v: Long): Int = java.util.Arrays.binarySearch(verts, v)

    // level-0 merged canonical edges as packed keys (i <= j)
    var (src, dst, w) =
      if (canonicalSorted) {
        val s = new Array[Int](eSrc.length)
        val t = new Array[Int](eSrc.length)
        var e = 0
        while (e < eSrc.length) {
          s(e) = idx(eSrc(e)); t(e) = idx(eDst(e)); e += 1
        }
        (s, t, eW)
      } else {
        val map = new LongDoubleMap(eSrc.length)
        var e = 0
        while (e < eSrc.length) {
          val i = idx(eSrc(e)); val j = idx(eDst(e))
          val (a, b) = if (i <= j) (i, j) else (j, i)
          map.add((a.toLong << 32) | b.toLong, eW(e))
          e += 1
        }
        unpack(map)
      }
    mark("pack-edges")

    val sizes0 = Array.tabulate(nBase)(i =>
      nodeSize.getOrElse(verts(i), 1L).toDouble)
    val labels0 = Array.tabulate(nBase)(i =>
      initial.getOrElse(verts(i), verts(i)))
    solveDense(verts, src, dst, w, sizes0, labels0, cfg)
  }

  /** Pre-densified hierarchical solve — the maintained-mirror hot path:
    * the caller already holds sorted external ids and dense endpoint
    * arrays (maintained across warm batches), so the per-batch
    * sort/dedup/binary-search densification of [[solve]] is skipped
    * entirely.
    *
    * @param verts    sorted distinct external ids; dense id = index
    * @param src0,dst0 dense endpoint arrays (canonical: unique pairs,
    *                 i <= j not required but each undirected edge once)
    * @param w0       edge weights
    * @param sizes0   per-vertex size in base vertices (CPM); 1.0 for
    *                 modularity
    * @param labels0  per-vertex seed community LABEL (external id space);
    *                 distinct labels = distinct seed communities
    * @param activeInit per-vertex level-0 movement activation (delta
    *                 frontier); null = all active (cold / full polish)
    * @return final (vertex -> community), community = min member id
    */
  def solveDense(verts: Array[Long], src0: Array[Int], dst0: Array[Int],
      w0: Array[Double], sizes0: Array[Double], labels0: Array[Long],
      cfg: Leiden.Config,
      activeInit: Array[Boolean] = null): Map[Long, Long] = {
    val nBase = verts.length
    if (nBase == 0) return Map.empty
    val debugT = sys.env.get("GRAFT_DEBUG_TIMING").contains("1")
    var tMark = System.nanoTime()
    def mark(phase: String): Unit = if (debugT) {
      val now = System.nanoTime()
      System.err.println(f"[loc] $phase%-14s ${(now - tMark) / 1e9}%.2fs")
      tMark = now
    }
    var src = src0; var dst = dst0; var w = w0
    var m2 = 0.0
    w.foreach(m2 += 2.0 * _)

    var n = nBase
    var sizes = sizes0
    var commInit: Array[Int] = {
      // external initial labels -> dense community indices (min member)
      val first = mutable.HashMap.empty[Long, Int]
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        out(i) = first.getOrElseUpdate(labels0(i), i)
        i += 1
      }
      out
    }
    // baseToCur(i) = current-level index of base vertex i
    val baseToCur = Array.tabulate(nBase)(identity)
    var topComm: Array[Int] = commInit
    var level = 0
    var done = false
    while (!done && level < cfg.maxLevels) {
      val (comm, sub) = solveLevel(n, src, dst, w, sizes, commInit, m2, cfg,
        if (level == 0) activeInit else null)
      mark(s"level-$level n=$n e=${src.length}")
      topComm = comm
      // remap subcommunities to dense next-level ids (first-occurrence
      // order — deterministic)
      val remap = Array.fill(n)(-1)
      var n2 = 0
      var i = 0
      while (i < n) {
        val s = sub(i)
        if (remap(s) < 0) { remap(s) = n2; n2 += 1 }
        i += 1
      }
      if (n2 == n || level == cfg.maxLevels - 1) done = true
      else {
        // compose base chain, contract edges/sizes/communities
        var b = 0
        while (b < nBase) {
          baseToCur(b) = remap(sub(baseToCur(b))); b += 1
        }
        val map = new LongDoubleMap(src.length)
        i = 0
        while (i < src.length) {
          val a = remap(sub(src(i))); val c = remap(sub(dst(i)))
          val (x, y) = if (a <= c) (a, c) else (c, a)
          map.add((x.toLong << 32) | y.toLong, w(i))
          i += 1
        }
        val un = unpack(map)
        src = un._1; dst = un._2; w = un._3
        val sz2 = new Array[Double](n2)
        val cm2 = Array.fill(n2)(-1)
        i = 0
        while (i < n) {
          val s = remap(sub(i))
          sz2(s) += sizes(i)
          if (cm2(s) < 0) cm2(s) = comm(i) // members share a community
          i += 1
        }
        // community labels must be level-local indices: relabel each
        // community to the first next-level vertex owning it
        val commFirst = mutable.HashMap.empty[Int, Int]
        i = 0
        while (i < n2) {
          cm2(i) = commFirst.getOrElseUpdate(cm2(i), i)
          i += 1
        }
        sizes = sz2
        commInit = cm2
        n = n2
        level += 1
      }
    }
    // final label = min base vertex id per top-level community
    val minOf = mutable.HashMap.empty[Int, Long]
    var b = 0
    while (b < nBase) {
      val c = topComm(baseToCur(b))
      val v = verts(b)
      if (!minOf.contains(c) || v < minOf(c)) minOf(c) = v
      b += 1
    }
    (0 until nBase).map(i => verts(i) -> minOf(topComm(baseToCur(i)))).toMap
  }

  /** Packed map -> sorted (src, dst, weight) primitive arrays. */
  private def unpack(map: LongDoubleMap)
      : (Array[Int], Array[Int], Array[Double]) = {
    val ks = map.sortedKeys(1e-12)
    val src = new Array[Int](ks.length)
    val dst = new Array[Int](ks.length)
    val w = new Array[Double](ks.length)
    var i = 0
    while (i < ks.length) {
      src(i) = (ks(i) >>> 32).toInt
      dst(i) = (ks(i) & 0xFFFFFFFFL).toInt
      w(i) = map.get(ks(i))
      i += 1
    }
    (src, dst, w)
  }

  /** Movement + refinement for one level over dense-int canonical edges.
    * Returns (community, subcomm) as dense indices. */
  private def solveLevel(n: Int, src: Array[Int], dst: Array[Int],
      w: Array[Double], sz: Array[Double], commInit: Array[Int],
      m2: Double, cfg: Leiden.Config,
      activeInit: Array[Boolean] = null): (Array[Int], Array[Int]) = {

    // CSR (degree count -> prefix sum -> scatter), both directions,
    // self-loops excluded from gathers but counted twice in degrees
    // (in_memory.rs:13-61 conventions)
    val deg = new Array[Double](n)
    val cnt = new Array[Int](n)
    var e = 0
    while (e < src.length) {
      val i = src(e); val j = dst(e)
      if (i != j) { cnt(i) += 1; cnt(j) += 1 }
      deg(i) += w(e); deg(j) += w(e)
      e += 1
    }
    val off = new Array[Int](n + 1)
    var oi = 0
    while (oi < n) { off(oi + 1) = off(oi) + cnt(oi); oi += 1 }
    val nbrIdx = new Array[Int](off(n))
    val nbrW = new Array[Double](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    e = 0
    while (e < src.length) {
      val i = src(e); val j = dst(e)
      if (i != j) {
        nbrIdx(fill(i)) = j; nbrW(fill(i)) = w(e); fill(i) += 1
        nbrIdx(fill(j)) = i; nbrW(fill(j)) = w(e); fill(j) += 1
      }
      e += 1
    }

    val comm = java.util.Arrays.copyOf(commInit, n)
    val cdeg = new Array[Double](n)
    val csize = new Array[Double](n)
    var i = 0
    while (i < n) {
      cdeg(comm(i)) += deg(i); csize(comm(i)) += sz(i); i += 1
    }

    val gamma = cfg.gamma
    def moveGain(vi: Int, from: Int, to: Int, wTo: Double,
        wCur: Double): Double =
      if (cfg.useCpm)
        (wTo - wCur) - gamma * sz(vi) * (csize(to) - csize(from) + sz(vi))
      else
        (wTo - wCur) / m2 +
          gamma * deg(vi) * (cdeg(from) - deg(vi) - cdeg(to)) / (m2 * m2)

    // --- movement: ascending-id rounds, immediate updates
    // (hit_leiden.rs:223-280), flat accumulator with dirty list
    // (parallel_frontier.rs:117-174), epsilon-gain round floor (the
    // quadratic term makes arbitrarily small positive gains real; the
    // forfeited tail is far inside the 0.001 equivalence band)
    val active =
      if (activeInit == null) Array.fill(n)(true)
      else java.util.Arrays.copyOf(activeInit, n)
    var anyActive = activeInit == null || active.exists(identity)
    var rounds = 0
    val wBuf = new Array[Double](n)
    val dirty = new Array[Int](n)
    val gainFloor =
      if (cfg.useCpm) cfg.minSweepGain * (m2 / 2.0) else cfg.minSweepGain
    var roundGain = Double.MaxValue
    while (anyActive && roundGain >= gainFloor &&
        rounds < cfg.maxSweeps * 4) {
      anyActive = false
      roundGain = 0.0
      i = 0
      while (i < n) {
        if (active(i)) {
          active(i) = false
          var nd = 0
          var k = off(i)
          val kEnd = off(i + 1)
          while (k < kEnd) {
            val c = comm(nbrIdx(k))
            if (wBuf(c) == 0.0) { dirty(nd) = c; nd += 1 }
            wBuf(c) += nbrW(k)
            k += 1
          }
          val cur = comm(i)
          val wCur = wBuf(cur)
          var bestC = cur
          var bestG = 0.0
          k = 0
          while (k < nd) {
            val c = dirty(k)
            if (c != cur) {
              val g = moveGain(i, cur, c, wBuf(c), wCur)
              if (g > bestG + 1e-15 ||
                (math.abs(g - bestG) <= 1e-15 && g > 0 && c < bestC)) {
                bestG = g; bestC = c
              }
            }
            k += 1
          }
          k = 0
          while (k < nd) { wBuf(dirty(k)) = 0.0; k += 1 }
          if (bestC != cur && bestG > 0) {
            roundGain += bestG
            cdeg(cur) -= deg(i); csize(cur) -= sz(i)
            cdeg(bestC) += deg(i); csize(bestC) += sz(i)
            comm(i) = bestC
            k = off(i)
            while (k < kEnd) {
              val j = nbrIdx(k)
              if (comm(j) != bestC && !active(j)) {
                active(j) = true; anyActive = true
              }
              k += 1
            }
          }
        }
        i += 1
      }
      rounds += 1
    }

    // --- refinement: singleton merges within the community, ascending
    // degree (hit_leiden.rs:399-482); fresh levels start all-singleton so
    // no CC split is needed
    val sub = Array.tabulate(n)(identity)
    val scdeg = java.util.Arrays.copyOf(deg, n)
    val scsize = java.util.Arrays.copyOf(sz, n)
    val scCount = Array.fill(n)(1)
    def refineGain(vi: Int, from: Int, to: Int, wTo: Double,
        wCur: Double): Double =
      if (cfg.useCpm) (wTo - wCur) - gamma * sz(vi) * scsize(to)
      else (wTo - wCur) / m2 +
        gamma * deg(vi) * (scdeg(from) - deg(vi) - scdeg(to)) / (m2 * m2)

    val order = (0 until n).sortBy(i => (deg(i), i))
    order.foreach { vi =>
      if (scCount(sub(vi)) == 1) {
        var nd = 0
        var k = off(vi)
        val kEnd = off(vi + 1)
        while (k < kEnd) {
          val j = nbrIdx(k)
          if (comm(j) == comm(vi)) {
            val s = sub(j)
            if (wBuf(s) == 0.0) { dirty(nd) = s; nd += 1 }
            wBuf(s) += nbrW(k)
          }
          k += 1
        }
        val cur = sub(vi)
        val wCur = wBuf(cur)
        var bestS = cur
        var bestG = 0.0
        k = 0
        while (k < nd) {
          val s = dirty(k)
          if (s != cur) {
            val g = refineGain(vi, cur, s, wBuf(s), wCur)
            if (g > bestG + 1e-15 ||
              (math.abs(g - bestG) <= 1e-15 && g > 0 && s < bestS)) {
              bestG = g; bestS = s
            }
          }
          k += 1
        }
        k = 0
        while (k < nd) { wBuf(dirty(k)) = 0.0; k += 1 }
        if (bestS != cur && bestG > 0) {
          scdeg(cur) -= deg(vi); scsize(cur) -= sz(vi); scCount(cur) -= 1
          scdeg(bestS) += deg(vi); scsize(bestS) += sz(vi)
          scCount(bestS) += 1
          sub(vi) = bestS
        }
      }
    }
    (comm, sub)
  }
}
