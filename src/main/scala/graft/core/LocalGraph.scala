package graft.core

import org.apache.spark.unsafe.types.UTF8String

/** Exact in-task graph algorithms for the BOUNDED regime.
  *
  * The metadata graph passes (A6 components, A7 diameter) are iterative
  * DataFrame chains — the right shape for a giant component at 100 TB,
  * but at dataset scale (a chromosome network: 10⁴–10⁶ edges) every
  * BFS level / label round is a near-empty distributed stage whose cost
  * is pure scheduling overhead, and the exact-diameter escalation is
  * refused entirely above 10⁴ nodes because its O(V·E) pair state
  * explodes. The scale-correct alternative for a graph that FITS IN ONE
  * TASK is per-partition imperative logic: ship the symmetrized edge
  * list to a single executor task, build an int-indexed CSR adjacency,
  * and run the textbook algorithms there — exact, allocation-tight, and
  * a few ms where the driver-loop shape took tens of seconds. GraphOps
  * routes to this below `LocalMaxEdges` symmetrized rows and keeps the
  * distributed chains above it (the regime split is structural, same as
  * the exact-BFS node guard). The tree writer's driver route
  * (Pipeline.writeDatasetTree) runs the same algorithms on a CSR built
  * in the driver, with no task at all.
  *
  * Determinism: component labels are the component-minimum node id
  * under UTF8String binary ordering — the ordering Spark's `min`/
  * `least` use — so labels are bit-identical to the distributed
  * min-label propagation. The diameter is order-independent (a max of
  * distances).
  *
  * Diameter is iFUB (Crescenzi et al., "On computing the diameter of
  * real-world undirected graphs"): BFS from a max-degree root, then
  * BFS the fringe nodes in decreasing depth order, maintaining
  * lb = max eccentricity seen; any two nodes at depth ≤ i are within
  * 2i of each other, so once lb ≥ 2i the remaining pairs cannot beat
  * lb and lb IS the diameter. Worst case O(V) BFS (still exact);
  * real-world graphs certify in a handful.
  */
private[graft] object LocalGraph {

  /** Int-indexed CSR adjacency over string node ids. `adj` holds one
    * entry per SYMMETRIZED input row, so degrees fall out of src counts
    * and no reverse pass is needed. */
  final class Csr(val ids: Array[String], val off: Array[Int],
                  val adj: Array[Int]) {
    def n: Int = ids.length
    def degree(v: Int): Int = off(v + 1) - off(v)
  }

  /** One pass to index nodes + collect int edges, one counting pass to
    * lay out CSR. */
  def build(pairs: Iterator[(String, String)]): Csr = {
    val index = new java.util.HashMap[String, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[String]()
    val srcs = new it.IntBuf(); val dsts = new it.IntBuf()
    def idOf(s: String): Int = {
      val got = index.get(s)
      if (got != null) got.intValue()
      else { val i = ids.length; index.put(s, i); ids += s; i }
    }
    while (pairs.hasNext) {
      val (a, b) = pairs.next()
      srcs.add(idOf(a)); dsts.add(idOf(b))
    }
    val n = ids.length
    val off = new Array[Int](n + 1)
    var e = 0
    while (e < srcs.size) { off(srcs.get(e) + 1) += 1; e += 1 }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val pos = java.util.Arrays.copyOf(off, n)
    val adj = new Array[Int](srcs.size)
    e = 0
    while (e < srcs.size) {
      val s = srcs.get(e); adj(pos(s)) = dsts.get(e); pos(s) += 1; e += 1
    }
    new Csr(ids.toArray, off, adj)
  }

  /** Growable int array (avoids boxing through ArrayBuffer[Int]). */
  private object it {
    final class IntBuf {
      private var a = new Array[Int](1024)
      private var len = 0
      def add(x: Int): Unit = {
        if (len == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
        a(len) = x; len += 1
      }
      def get(i: Int): Int = a(i)
      def size: Int = len
      def toArray: Array[Int] = java.util.Arrays.copyOf(a, len)
    }
  }

  /** (id, componentLabel) for every node in the edge list, label = the
    * component's minimum id under UTF8String binary order. */
  def componentLabels(g: Csr): Iterator[(String, String)] = {
    val comp = compIds(g)
    val nComp = if (comp.isEmpty) 0 else comp.max + 1
    val minId = new Array[String](nComp)
    var v = 0
    while (v < g.n) {
      val c = comp(v)
      if (minId(c) == null || UTF8String.fromString(g.ids(v))
            .compareTo(UTF8String.fromString(minId(c))) < 0)
        minId(c) = g.ids(v)
      v += 1
    }
    (0 until g.n).iterator.map(v => (g.ids(v), minId(comp(v))))
  }

  /** Fixed-point integer PageRank on the CSR — the one-task twin of
    * [[GraphOps.pageRank]]'s relational rounds: the IDENTICAL LONG
    * arithmetic (contrib = r div deg, r' = 0.15·scale + (85·s) div
    * 100), so ranks are bit-identical across regimes. Adjacency is
    * symmetric, so pushing contributions along out-edges equals the
    * relational dst-keyed incoming sum. */
  def pageRankFp(g: Csr, rounds: Int, scale: Long)
      : Iterator[(String, Long)] = {
    val n = g.n
    val base = scale * 15L / 100L
    var r = Array.fill(n)(scale)
    var k = 0
    while (k < rounds) {
      val s = new Array[Long](n)
      var v = 0
      while (v < n) {
        val c = r(v) / g.degree(v)
        var e = g.off(v); val end = g.off(v + 1)
        while (e < end) { s(g.adj(e)) += c; e += 1 }
        v += 1
      }
      val nr = new Array[Long](n)
      v = 0
      while (v < n) { nr(v) = base + 85L * s(v) / 100L; v += 1 }
      r = nr
      k += 1
    }
    Iterator.range(0, n).map(v => (g.ids(v), r(v)))
  }

  /** Synchronous label propagation on the CSR — the one-task twin of
    * [[GraphOps.labelPropagation]]'s relational rounds: `rounds` FIXED
    * synchronous rounds, each node adopting the most frequent label
    * among its neighbors with the (count DESC, label ASC) total tie
    * order, labels compared as node-id STRINGS under UTF8String binary
    * order — exactly the distributed window's (count desc, label asc)
    * sort. Bit-identical output, same regime rationale as
    * [[pageRankFp]]: at bounded sizes the 4 rounds of
    * join+agg+window+checkpoint are pure scheduling overhead. */
  def labelProp(g: Csr, rounds: Int): Iterator[(String, String)] = {
    val n = g.n
    // rank of each node id under UTF8String binary order: the ASC
    // tie-break on label strings becomes an int compare
    val byId = Array.range(0, n).sortWith((a, b) =>
      UTF8String.fromString(g.ids(a)).compareTo(
        UTF8String.fromString(g.ids(b))) < 0)
    val rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(byId(i)) = i; i += 1 }
    var lab = Array.range(0, n) // initial label = own id
    // per-node neighbor-label counting with a stamped scratch array
    val cnt = new Array[Int](n)
    val stamp = new Array[Int](n)
    var version = 0
    var r = 0
    while (r < rounds) {
      val nl = new Array[Int](n)
      var v = 0
      while (v < n) {
        version += 1
        var best = -1
        var bestCnt = 0
        var e = g.off(v); val end = g.off(v + 1)
        while (e < end) {
          val l = lab(g.adj(e))
          if (stamp(l) != version) { stamp(l) = version; cnt(l) = 0 }
          cnt(l) += 1
          val c = cnt(l)
          if (c > bestCnt || (c == bestCnt && rank(l) < rank(best)))
            { best = l; bestCnt = c }
          e += 1
        }
        // every node in an edge list has degree >= 1, but keep the
        // isolated-node fallback total (label unchanged)
        nl(v) = if (best < 0) lab(v) else best
        v += 1
      }
      lab = nl
      r += 1
    }
    Iterator.range(0, n).map(v => (g.ids(v), g.ids(lab(v))))
  }

  /** (componentCount, largestComponentSize, totalNodes). */
  def componentStats(g: Csr): (Long, Long, Long) = {
    val comp = compIds(g)
    val nComp = if (comp.isEmpty) 0 else comp.max + 1
    val size = new Array[Long](nComp)
    comp.foreach(c => size(c) += 1)
    (nComp.toLong, if (nComp == 0) 0L else size.max, g.n.toLong)
  }

  /** Dense component id per node (BFS labeling). */
  private def compIds(g: Csr): Array[Int] = {
    val comp = Array.fill(g.n)(-1)
    val queue = new Array[Int](g.n)
    var c = 0
    var s = 0
    while (s < g.n) {
      if (comp(s) < 0) {
        comp(s) = c
        queue(0) = s; var head = 0; var tail = 1
        while (head < tail) {
          val u = queue(head); head += 1
          var e = g.off(u)
          while (e < g.off(u + 1)) {
            val w = g.adj(e)
            if (comp(w) < 0) { comp(w) = c; queue(tail) = w; tail += 1 }
            e += 1
          }
        }
        c += 1
      }
      s += 1
    }
    comp
  }

  /** Everything the PARALLEL iFUB descent needs, stripped to ints (no
    * node strings): the CSR arrays, each node's component and depth
    * from its component's root, the per-component root index and root
    * eccentricity (the descent's starting lower bound). Built in ONE
    * task, collected to the driver (≤ a few MB per million nodes),
    * broadcast back for the batched fringe BFS jobs
    * (GraphOps.diameterLocalSym) — or built in the driver and walked on
    * driver threads ([[diameterDriver]]). */
  final case class DiamLayout(off: Array[Int], adj: Array[Int],
                              comp: Array[Int], depth: Array[Int],
                              nComp: Int, root: Array[Int],
                              rootEcc: Array[Int]) {
    def n: Int = comp.length
    def maxDepth: Int = if (rootEcc.isEmpty) 0 else rootEcc.max
  }

  def diamLayout(g: Csr): DiamLayout = {
    val comp = compIds(g)
    val nComp = if (comp.isEmpty) 0 else comp.max + 1
    val depth = new Array[Int](g.n)
    val rootEcc = new Array[Int](nComp)
    // max-degree root per component, degree ties to the smaller id in
    // UTF8String binary order: the root (and every depth below it)
    // does not depend on the order the input rows arrived in
    val root = Array.fill(nComp)(-1)
    var v = 0
    while (v < g.n) {
      val c = comp(v); val r = root(c)
      if (r < 0 || g.degree(v) > g.degree(r) || (g.degree(v) == g.degree(r)
          && LocalChain.bcmp(g.ids(v), g.ids(r)) < 0)) root(c) = v
      v += 1
    }
    val dist = new Array[Int](g.n)
    val stamp = new Array[Int](g.n)
    val queue = new Array[Int](g.n)
    var c = 0
    while (c < nComp) {
      val visited = bfsInto(g.off, g.adj, root(c), dist, stamp, queue, c + 1)
      rootEcc(c) = if (visited == 0) 0 else dist(queue(visited - 1))
      var i = 0
      while (i < visited) { // copy exactly this component's levels out:
        // queue[0..visited) IS the component (a full-V scan per
        // component degrades to O(V·nComp) on fragmented graphs)
        depth(queue(i)) = dist(queue(i))
        i += 1
      }
      c += 1
    }
    DiamLayout(g.off, g.adj, comp, depth, nComp, root, rootEcc)
  }

  /** DiamLayout ⇄ bounded (field, chunk, slice) rows. At the top of
    * the broadcast-CSR band the layout's int arrays are far past
    * single-object serializer caps — `adj` alone is ~400 MB at 100M
    * sym rows, and Kryo's per-object buffer is 64 MB by default (2 GB
    * absolute), which the 50M-edge scale smoke hit as
    * KRYO_BUFFER_OVERFLOW. The builder task therefore emits the
    * layout as ≤[[ChunkInts]]-int slices (plain Spark SQL rows — the
    * columnar array codec has no per-object cap and the driver fetch
    * is per-block, not one giant buffer) and the driver reassembles. */
  val ChunkInts: Int = 1 << 22 // 16 MB of ints per row

  def chunkLayout(l: DiamLayout, chunk: Int = ChunkInts)
      : Iterator[(String, Int, Array[Int])] = {
    def chunks(name: String, a: Array[Int]): Iterator[(String, Int, Array[Int])] =
      if (a.isEmpty) Iterator((name, 0, Array.empty[Int]))
      else a.grouped(chunk).zipWithIndex.map { case (s, i) => (name, i, s) }
    chunks("off", l.off) ++ chunks("adj", l.adj) ++
      chunks("comp", l.comp) ++ chunks("depth", l.depth) ++
      chunks("root", l.root) ++ chunks("rootEcc", l.rootEcc) ++
      Iterator(("nComp", 0, Array(l.nComp)))
  }

  def assembleLayout(rows: Array[(String, Int, Array[Int])]): DiamLayout = {
    def arr(name: String): Array[Int] = {
      val parts = rows.iterator.filter(_._1 == name).toArray.sortBy(_._2)
      if (parts.length == 1) parts(0)._3
      else Array.concat(parts.map(_._3).toIndexedSeq: _*)
    }
    DiamLayout(arr("off"), arr("adj"), arr("comp"), arr("depth"),
      arr("nComp")(0), arr("root"), arr("rootEcc"))
  }

  /** Array BFS from `source`; version-stamped state owned by the
    * caller (reusable across sources). Returns the VISITED COUNT: the
    * visited set is queue[0..count) in nondecreasing-distance order,
    * so the eccentricity is dist(queue(count - 1)). */
  def bfsInto(off: Array[Int], adj: Array[Int], source: Int,
              dist: Array[Int], stamp: Array[Int], queue: Array[Int],
              version: Int): Int = {
    dist(source) = 0; stamp(source) = version
    queue(0) = source; var head = 0; var tail = 1
    while (head < tail) {
      val u = queue(head); head += 1
      val du = dist(u)
      var e = off(u)
      while (e < off(u + 1)) {
        val w = adj(e)
        if (stamp(w) != version) {
          stamp(w) = version; dist(w) = du + 1; queue(tail) = w; tail += 1
        }
        e += 1
      }
    }
    tail
  }

  /** Eccentricity of `source` via [[bfsInto]] on caller-owned state. */
  def eccInto(off: Array[Int], adj: Array[Int], source: Int,
              dist: Array[Int], stamp: Array[Int], queue: Array[Int],
              version: Int): Int = {
    val visited = bfsInto(off, adj, source, dist, stamp, queue, version)
    dist(queue(visited - 1))
  }

  /** The iFUB fringe descent over a [[diamLayout]], with the batch
    * evaluation left to the caller (GraphOps.diameterLocalSym runs each
    * batch as a Spark job, [[diameterDriver]] on driver threads).
    * Depths run DESCENDING; depth i's batch is every node at depth i
    * whose component is still open (lb < 2·i), and `eccs` returns its
    * (source, eccentricity) pairs in any order. Per component the
    * processed set is exactly the sequential iFUB's, so the bound is
    * exact. With `ids` the batch folds in id order (binary string
    * order) with strict improvement only, so the witness is the first
    * (depth desc, id asc) source reaching the final bound; without,
    * the fold order is the batch's own (the bound is a max). Returns
    * per component (bound, witness source), the witness starting at
    * the root. */
  def ifubDescent(l: DiamLayout, ids: Option[Array[String]])(
      eccs: Array[Int] => Array[(Int, Int)]): (Array[Long], Array[Int]) = {
    val lb = l.rootEcc.map(_.toLong)
    val best = l.root.clone()
    var i = l.maxDepth
    while (i >= 1) {
      val batch = new it.IntBuf()
      var v = 0
      while (v < l.n) {
        if (l.depth(v) == i && lb(l.comp(v)) < 2L * i) batch.add(v)
        v += 1
      }
      if (batch.size > 0) {
        val got = eccs(batch.toArray)
        val folded = ids.fold(got)(id =>
          got.sortWith((a, b) => LocalChain.bcmp(id(a._1), id(b._1)) < 0))
        for ((s, e) <- folded) {
          val c = l.comp(s)
          if (e > lb(c)) { lb(c) = e.toLong; best(c) = s }
        }
      }
      i -= 1
    }
    (lb, best)
  }

  /** Exact diameter by [[ifubDescent]] with each fringe batch's BFS
    * spread over the common fork-join pool's driver threads: one
    * strided slice of the batch per thread, each on its own BFS state.
    * 0 for an empty graph. */
  def diameterDriver(g: Csr): Long = {
    val l = diamLayout(g)
    if (l.nComp == 0) 0L
    else ifubDescent(l, None) { sources =>
      val k = math.min(sources.length,
        java.util.concurrent.ForkJoinPool.getCommonPoolParallelism + 1)
      val ecc = new Array[Int](sources.length)
      java.util.stream.IntStream.range(0, k).parallel().forEach { t =>
        val dist = new Array[Int](l.n)
        val stamp = new Array[Int](l.n)
        val queue = new Array[Int](l.n)
        var j = t
        while (j < sources.length) {
          ecc(j) = eccInto(l.off, l.adj, sources(j), dist, stamp, queue, j + 1)
          j += k
        }
      }
      sources.zip(ecc)
    }._1.max
  }

  /** (triangles, triads) of the simple graph under the symmetric CSR:
    * each triangle counted once, triads = Σ d(d-1)/2 over distinct
    * neighbors — GraphOps.transitivity's two counts, which read the
    * distinct unordered pairs. Repeated adjacency entries count once;
    * self-loops are skipped (the relational pass would count a loop
    * toward both; the tree's simplified edges carry none). Each edge
    * points from the lower to the higher (degree, index) rank, and a
    * triangle is found once at its lowest-ranked node. */
  def triangleTriads(g: Csr): (Long, Long) = {
    val n = g.n
    // distinct loop-free neighbor lists
    val nOff = new Array[Int](n + 1)
    val nAdj = new Array[Int](g.adj.length)
    var v = 0
    while (v < n) {
      val s = g.off(v); val e = g.off(v + 1)
      val ns = java.util.Arrays.copyOfRange(g.adj, s, e)
      java.util.Arrays.sort(ns)
      var k = nOff(v)
      var j = 0
      while (j < ns.length) {
        if (ns(j) != v && (j == 0 || ns(j) != ns(j - 1))) { nAdj(k) = ns(j); k += 1 }
        j += 1
      }
      nOff(v + 1) = k
      v += 1
    }
    def deg(x: Int) = nOff(x + 1) - nOff(x)
    def below(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    var triads = 0L
    var tri = 0L
    val mark = Array.fill(n)(-1)
    v = 0
    while (v < n) {
      val d = deg(v).toLong
      triads += d * (d - 1) / 2
      var e = nOff(v)
      while (e < nOff(v + 1)) {
        if (below(v, nAdj(e))) mark(nAdj(e)) = v
        e += 1
      }
      e = nOff(v)
      while (e < nOff(v + 1)) {
        val u = nAdj(e)
        if (below(v, u)) {
          var f = nOff(u)
          while (f < nOff(u + 1)) {
            val w = nAdj(f)
            if (below(u, w) && mark(w) == v) tri += 1
            f += 1
          }
        }
        e += 1
      }
      v += 1
    }
    (tri, triads)
  }

  /** Exact diameter: max over components of the component diameter
    * (igraph semantics on disconnected graphs — max finite pairwise
    * distance). 0 for an empty edge list. SEQUENTIAL one-task form —
    * the production route is the parallel descent over [[diamLayout]]
    * (GraphOps.diameterLocalSym); this stays as the independently
    * written reference the spec checks the parallel form against. */
  def diameterExact(g: Csr): Long = {
    if (g.n == 0) return 0L
    val comp = compIds(g)
    val nComp = comp.max + 1
    // members grouped per component
    val sizes = new Array[Int](nComp)
    comp.foreach(c => sizes(c) += 1)
    val memberOff = new Array[Int](nComp + 1)
    var c = 0
    while (c < nComp) { memberOff(c + 1) = memberOff(c) + sizes(c); c += 1 }
    val memberPos = java.util.Arrays.copyOf(memberOff, nComp)
    val members = new Array[Int](g.n)
    var v = 0
    while (v < g.n) {
      val cc = comp(v); members(memberPos(cc)) = v; memberPos(cc) += 1; v += 1
    }
    // reusable BFS state: version-stamped dist array (no O(n) clear)
    val dist = new Array[Int](g.n)
    val stamp = new Array[Int](g.n)
    val queue = new Array[Int](g.n)
    var version = 0
    /** BFS from s; returns eccentricity; dist/stamp hold the levels. */
    def bfs(s: Int): Int = {
      version += 1
      var ecc = 0
      dist(s) = 0; stamp(s) = version
      queue(0) = s; var head = 0; var tail = 1
      while (head < tail) {
        val u = queue(head); head += 1
        val du = dist(u)
        if (du > ecc) ecc = du
        var e = g.off(u)
        while (e < g.off(u + 1)) {
          val w = g.adj(e)
          if (stamp(w) != version) {
            stamp(w) = version; dist(w) = du + 1; queue(tail) = w; tail += 1
          }
          e += 1
        }
      }
      ecc
    }
    var best = 0L
    c = 0
    while (c < nComp) {
      val lo = memberOff(c); val hi = memberOff(c + 1)
      if (hi - lo > 1) {
        // root: max degree (any root is exact; this one converges fast)
        var root = members(lo); var i = lo + 1
        while (i < hi) {
          if (g.degree(members(i)) > g.degree(root)) root = members(i)
          i += 1
        }
        val eccRoot = bfs(root)
        // fringe lists by depth from the root BFS (its stamps are live)
        val byDepth = Array.fill(eccRoot + 1)(List.empty[Int])
        i = lo
        while (i < hi) {
          val m = members(i); byDepth(dist(m)) ::= m; i += 1
        }
        var lb = eccRoot.toLong
        var depth = eccRoot
        while (depth >= 1 && lb < 2L * depth) {
          for (m <- byDepth(depth)) {
            val e = bfs(m)
            if (e > lb) lb = e.toLong
          }
          depth -= 1
        }
        if (lb > best) best = lb
      }
      c += 1
    }
    best
  }
}
