package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph operators over the two-DataFrame property-graph encoding
  * (nodes DF keyed `fragment`/`id`, edges DF keyed `src`,`dst`) —
  * SURVEY.md §2.5. The graph is undirected: algorithms process both
  * edge directions; storage keeps one row per undirected edge
  * (normalized via Interactions.simplifyBy).
  *
  * Iterative algorithms (CC, diameter) split by regime: a graph whose
  * symmetrized edge list fits one task (≤ [[LocalMaxEdges]] rows) runs
  * exactly in a single [[LocalGraph]] partition — per-round scheduling
  * overhead is the entire cost of a driver-loop at that size. Above the
  * cutoff they are driver-loops of DataFrame self-joins with
  * localCheckpoint every iteration to cut lineage — the standard Spark
  * shape for fixpoint computations (SURVEY §7.4.3).
  *
  * The dispatch picks a regime and nothing else: no operator here
  * writes session conf. Every stage runs at the session's own shuffle
  * width (AQE, on by Spark's default, coalesces small reduce
  * partitions from measured bytes), so concurrent callers on one
  * session never race on shared settings.
  */
object GraphOps {

  /** Both directions of an undirected edge list (src,dst) ∪ (dst,src).
    * Emitted via a per-row explode, NOT a self-union: a union of two
    * projections plans the WHOLE upstream subtree twice (the a4 plan
    * scanned lineitem and ran the simplify window once per branch —
    * guide §2.4 "remove shuffles outright" applies to duplicated
    * upstream work just as much), while the explode reads the input
    * once and doubles rows inline. Row multiset is identical, so every
    * aggregate/join downstream is unchanged. */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** Bounded-regime cutoff for the iterative graph passes, in
    * SYMMETRIZED rows: at or below this, CC and the diameter run as ONE
    * task over an int-indexed CSR ([[LocalGraph]]) — exact, and free of
    * the per-round scheduling overhead that dominates driver-loop
    * chains on graphs this size. 5M rows ≈ 2.5M undirected edges ≈
    * ~100 MB of CSR + id strings in the executor: comfortably one-task
    * even on modest executors, far past the reference's largest dataset
    * (171k edges). Above it, the distributed chains take over. */
  private[graft] val LocalMaxEdges = 5000000L

  /** The symmetrized pairs of a bounded graph as a 1-partition Dataset:
    * the upstream scan/cache stays distributed; only the final
    * coalesced read runs in the single algorithm task. */
  private def localPairs(sym: DataFrame)
      : org.apache.spark.sql.Dataset[(String, String)] = {
    val spark = sym.sparkSession
    import spark.implicits._
    sym.select(col("src"), col("dst")).as[(String, String)].coalesce(1)
  }

  /** Exact diameter of a bounded graph: iFUB with the fringe descent
    * fanned out over the cluster. One task builds the int CSR + the
    * per-component root-BFS layout ([[LocalGraph.diamLayout]]); the
    * driver broadcasts the CSR arrays (ints only — a few MB per million
    * edges) and walks fringe depths DESCENDING
    * ([[LocalGraph.ifubDescent]], the descent the driver form
    * [[LocalGraph.diameterDriver]] shares), running each depth's
    * still-open candidate sources as one parallel BFS job. Per
    * component the processed set is exactly the sequential iFUB's
    * (process depth i only while lb < 2·i), so the result is identical
    * and exact — but a near-regular graph whose bounds close slowly
    * (the degenerate case for sequential iFUB: a large fraction of
    * nodes BFS'd on one core) now costs descent/cores. Total sources
    * are bounded by V, so worst case is the textbook O(V·E) exact-
    * diameter — parallelized — and typical graphs certify in a few
    * batches.
    *
    * `certify` also returns the A7 CERTIFICATE: per component (of ≥2
    * nodes) the root pivot and the witness source whose eccentricity
    * equals the component diameter, each with its exact eccentricity,
    * sorted. The descent tracks root and witness indices either way
    * (int arrays); only the certificate ships the id strings out of
    * the build task. Witnesses do not depend on the input's row order:
    * the pivot is the max-degree node with ties to the smaller id, and
    * each batch folds in id order with strict improvement only, so the
    * witness is the first (depth desc, id asc) node reaching the
    * component's final bound — both ids compared in Spark's binary
    * string order. Returns (diameter, certificate rows (source, ecc)). */
  private[graft] def diameterLocalSym(sym: DataFrame, certify: Boolean = false)
      : (Long, Seq[(String, Long)]) = {
    val spark = sym.sparkSession
    import spark.implicits._
    // the layout travels as bounded chunk rows, never one giant
    // serialized object (LocalGraph.chunkLayout scaladoc)
    val rows = localPairs(sym)
      .mapPartitions { it =>
        val g = LocalGraph.build(it)
        LocalGraph.chunkLayout(LocalGraph.diamLayout(g))
          .map { case (n, i, a) => (n, i, a, Array.empty[String]) } ++
          (if (!certify) Iterator.empty
           else g.ids.grouped(1 << 20).zipWithIndex
             .map { case (s, i) => ("ids", i, Array.empty[Int], s) })
      }
      .collect()
    // a zero-partition empty input yields NO rows from coalesce(1) —
    // an empty edge list has diameter 0 either way
    if (rows.isEmpty) return (0L, Nil)
    val layout = LocalGraph.assembleLayout(
      rows.collect { case (n, i, a, _) if n != "ids" => (n, i, a) })
    if (layout.n == 0) return (0L, Nil)
    val ids = rows.filter(_._1 == "ids").sortBy(_._2).flatMap(_._4)
    val sc = spark.sparkContext
    val bc = sc.broadcast((layout.off, layout.adj))
    try {
      // each fringe batch is one job over the broadcast CSR
      val (lb, best) = LocalGraph.ifubDescent(layout,
          if (certify) Some(ids) else None) { batch =>
        sc.parallelize(batch.toSeq,
            math.max(1, math.min(batch.length, sc.defaultParallelism * 4)))
          .mapPartitions { sources =>
            val (off, adj) = bc.value
            val n = off.length - 1
            val dist = new Array[Int](n)
            val stamp = new Array[Int](n)
            val queue = new Array[Int](n)
            var version = 0
            sources.map { s =>
              version += 1
              (s, LocalGraph.eccInto(off, adj, s, dist, stamp, queue, version))
            }
          }.collect()
      }
      val cert = if (!certify) Nil else (0 until layout.nComp).iterator
        .filter(c => lb(c) > 0L) // isolated nodes witness nothing
        .flatMap(c => Seq(
          (ids(layout.root(c)), layout.rootEcc(c).toLong),
          (ids(best(c)), lb(c))))
        .toSeq.distinct.sorted
      (lb.max, cert)
    } finally bc.destroy()
  }

  /** A7 certificate as a DataFrame(source, ecc, diameter): the
    * [[diameterLocalSym]] certificate, one row per witness, every row
    * carrying the certified diameter (= max ecc over the witnesses,
    * which iFUB guarantees equals the true diameter). An external
    * verifier re-runs ONE bounded BFS per listed source (2 per
    * component, never O(V)) and confirms every number plus
    * `diameter = max(ecc)`, at ANY scale where a per-source BFS is
    * tractable — the all-pairs closure an exact-diameter oracle
    * otherwise needs is quadratic and dies at sf1 (COVERAGE.md a7
    * exclusion; this certificate closes that gap). Covers the one-task
    * and broadcast-CSR regimes (≤ [[BroadcastCsrMaxEdges]] sym rows). */
  def diameterCertificate(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = sym.count()
      require(n <= BroadcastCsrMaxEdges,
        s"diameterCertificate covers the CSR regimes (<= " +
          s"$BroadcastCsrMaxEdges sym rows); got $n")
      val (diam, cert) =
        if (n == 0) (0L, Seq.empty[(String, Long)])
        else diameterLocalSym(sym, certify = true)
      cert.toDF("source", "ecc").withColumn("diameter", lit(diam))
    } finally sym.unpersist()
  }

  /** A4 degree: per-vertex incident-edge count (self-loops removed
    * upstream by simplify). Reference: network_generator.R:151,235. */
  def degrees(edges: DataFrame): DataFrame =
    symmetrize(edges).groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))

  /** J10/G3 ego graph: induced subgraph on seeds ∪ their 1-hop
    * neighborhood. Seeds DF has one column `id`. The seed set is small
    * (a search result) → broadcast both joins.
    * Reference: make_ego_graph, network_generator_lib.R:86,122,145.
    * Returns the induced EDGES; nodes = distinct endpoints ∪ seeds. */
  def egoEdges(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val s = broadcast(seeds.select(col("id")).distinct())
    // 1-hop closure: any node adjacent to a seed, plus the seeds.
    val hop = symmetrize(edges)
      .join(s, col("src") === s("id"))
      .select(col("dst").as("id"))
      .unionAll(s.select(col("id")))
      .distinct()
    induced(edges, hop)
  }

  /** J11 induced subgraph: edges whose BOTH endpoints are in `nodeSet`
    * (one column `id`). leftsemi × 2. The node set can be
    * dataset-derived (unbounded at scale), so no broadcast hint — AQE
    * broadcasts when the set is actually small.
    * Reference: induced_subgraph, network_generator_lib.R:195. */
  def induced(edges: DataFrame, nodeSet: DataFrame): DataFrame = {
    val ids = nodeSet.select(col("id")).distinct()
    edges
      .join(ids, edges("src") === ids("id"), "left_semi")
      .join(ids, edges("dst") === ids("id"), "left_semi")
  }

  /** G5 subset by bait flag: PP subnet = edges among baits; PO = edges
    * between a bait and a non-bait. Bait sets are edge-derived
    * (millions at 100× scale) — no broadcast hint, AQE decides.
    * Reference: chaser::subset_chromnet, network_generator.R:258-264.
    * `baits` has one column `id`. */
  def subsetPP(edges: DataFrame, baits: DataFrame): DataFrame =
    induced(edges, baits) // PP = the bait-induced subgraph, verbatim

  def subsetPO(edges: DataFrame, baits: DataFrame): DataFrame = {
    val b = baits.select(col("id")).distinct().withColumn("__b", lit(true))
    edges
      .join(b.as("b1"), edges("src") === col("b1.id"), "left")
      .join(b.as("b2"), edges("dst") === col("b2.id"), "left")
      .filter(coalesce(col("b1.__b"), lit(false)) =!=
              coalesce(col("b2.__b"), lit(false)))
      .drop("id", "__b")
  }

  /** A6 connected components: min-label propagation WITH pointer
    * jumping. Each round (a) lowers every node's label to the minimum
    * label in its closed neighborhood and (b) path-halves by replacing
    * label(v) with label(label(v)) - the Kiveris-style shortcut that
    * turns O(graph diameter) convergence into O(log diameter) rounds
    * (a chain of 10^6 nodes converges in ~20 rounds, not 10^6). Each
    * round is two shuffles; lineage is cut per round.
    * Returns DF(id, comp) where comp = min node id reachable.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
                          localMaxEdges: Long = LocalMaxEdges): DataFrame = {
    // persist the symmetrized edges FIRST and derive the initial labels
    // (min of closed neighborhood) from them: one pass over the input
    // lineage fills both caches (computing the labels from a second
    // symmetrize() would re-run the upstream simplify/scan chain)
    val edgeList = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val nRows = edgeList.count()
    try connectedComponentsSym(edgeList, nRows, maxIter, localMaxEdges)
    finally edgeList.unpersist()
  }

  /** [[connectedComponents]] over an ALREADY-persisted symmetrized
    * frame — the caller owns sym's lifecycle, so several passes can
    * share one cached frame (Pipeline.writeDatasetTree runs this
    * concurrently with the diameter sweeps on the same sym). Bounded
    * graphs (≤ localMaxEdges sym rows) run as one [[LocalGraph]] task;
    * labels are bit-identical to the propagation rounds (component-min
    * id under UTF8String order) and come back checkpointed, so the
    * result outlives the caller's sym teardown either way. */
  private[graft] def connectedComponentsSym(edgeList: DataFrame,
                                            nRows: Long,
                                            maxIter: Int = 50,
                                            localMaxEdges: Long = LocalMaxEdges)
      : DataFrame = {
    if (nRows <= localMaxEdges) {
      return localPairs(edgeList)
        .mapPartitions(it => LocalGraph.componentLabels(LocalGraph.build(it)))(
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.STRING))
        .toDF("id", "comp")
        .localCheckpoint(eager = true)
    }
    var cc = edgeList
      .groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("comp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    cc.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // (a) neighborhood min; the pre-lowering label rides along as
      // __oldc so convergence is read off the checkpointed round output
      // (a cached-block scan) instead of a per-round join-back probe
      val viaNeighbors = edgeList
        .join(cc.withColumnRenamed("id", "dst2"),
          edgeList("dst") === col("dst2"))
        .groupBy(col("src").as("id"))
        .agg(min(col("comp")).as("ncomp"))
      val lowered = cc.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("comp").as("__oldc"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // (b) pointer jump: comp <- comp(comp). comp ids are node ids, so
      // the lookup is a self-join on the same frame.
      val jumped = lowered.as("a")
        .join(lowered.select(col("id").as("jid"), col("comp").as("jcomp")),
          col("a.comp") === col("jid"), "left")
        .select(col("a.id").as("id"),
          coalesce(col("jcomp"), col("a.comp")).as("comp"),
          col("a.__oldc").as("__oldc"))
      // the eager checkpoint is the round's one materialization: it cuts
      // lineage AND stores the blocks the next round (and the probe)
      // read — a persist on top would store them twice
      val next = jumped
        .select(col("id"), col("comp"), (col("comp") =!= col("__oldc")).as("__chg"))
        .localCheckpoint(eager = true)
      val changed = next.filter(col("__chg")).limit(1).count()
      cc.unpersist()
      cc = next.drop("__chg")
      converged = changed == 0
      iter += 1
    }
    cc
  }

  /** Component count + largest-component share "NN.NN%" (2 dp) —
    * reference metadata fields (network_generator_lib.R:415-417). */
  /** INCREMENTAL connected components — the graph leg of the
    * maintenance family (s9 dense-ANN insert / r6 lexical compaction /
    * d12 dedup probe): fold a NEW edge batch into a STANDING labeling
    * (the (id, comp) frame a prior [[connectedComponents]] produced)
    * without re-traversing the standing graph.
    *
    * Construction: batch endpoints resolve to their standing labels
    * (an endpoint the standing graph never saw is its own label); the
    * contracted LABEL graph — at most 2·|batch| nodes, regardless of
    * standing size — runs the ordinary CC; the resulting root map
    * relabels only the standing components it mentions. Because every
    * standing label IS the min id of its component, the min over a
    * merged group of labels equals the min over all member ids, so the
    * output is bit-identical to a full rebuild over
    * standing ∪ batch — which is exactly what the a6_components_inc
    * gate oracle pins (full-rebuild SQL, no split in sight).
    *
    * Cost shape at scale: two batch-sized equi-joins against the
    * standing labels (the standing side shuffles nothing — the labels
    * frame is id-keyed and the batch broadcasts when small), one CC
    * over the contracted batch-label graph, and one broadcast-sized
    * relabel join; components untouched by the batch pass through
    * with their rows unchanged. */
  def incrementalComponents(standing: DataFrame,
                            newEdges: DataFrame,
                            maxIter: Int = 50): DataFrame = {
    val lbl = standing.select(col("id"), col("comp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the batch feeds the contracted label graph AND the new-node
      // scan below — materialize it once (batch-sized by contract)
      // instead of running its upstream lineage twice (§5)
      val batch = newEdges.select(col("src"), col("dst"))
        .localCheckpoint(eager = true)
      val le = batch
        .join(lbl.select(col("id").as("src"), col("comp").as("__ls")),
          Seq("src"), "left")
        .join(lbl.select(col("id").as("dst"), col("comp").as("__ld")),
          Seq("dst"), "left")
        .select(coalesce(col("__ls"), col("src")).as("src"),
          coalesce(col("__ld"), col("dst")).as("dst"))
      // merged: (label, new root) for every label incident to the batch
      val merged = connectedComponents(le, maxIter)
        .localCheckpoint(eager = true)
      val relabeled = lbl
        .join(merged.select(col("id").as("comp"), col("comp").as("__new")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("__new"), col("comp")).as("comp"))
      // nodes that exist only in the batch: their label is their own id
      val newRows = batch.select(col("src").as("id"))
        .union(batch.select(col("dst").as("id"))).distinct()
        .join(lbl.select(col("id")), Seq("id"), "left_anti")
        .join(merged, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      relabeled.unionByName(newRows).localCheckpoint(eager = true)
    } finally lbl.unpersist(blocking = false)
  }

  def componentStats(edges: DataFrame): DataFrame = {
    val sym = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try componentStatsSym(sym, sym.count())
    finally sym.unpersist()
  }

  /** [[componentStats]] over a caller-owned persisted symmetrized
    * frame. Returns an eagerly-computed 1-row result (the CC labels are
    * checkpointed blocks that must be read before the caller tears sym
    * down). */
  private[graft] def componentStatsSym(sym: DataFrame,
                                       nRows: Long): DataFrame = {
    val cc = connectedComponentsSym(sym, nRows)
    val sizes = cc.groupBy("comp").agg(count(lit(1)).as("size"))
    sizes.agg(
      count(lit(1)).as("components"),
      format_string("%.2f%%",
        // coalesce: on a zero-edge graph max/sum aggregate to null and
        // metadata.json would carry a null percentage
        coalesce(max(col("size")) * lit(100.0) / sum(col("size")),
          lit(0.0))).as("max_component_pct"))
  }

  /** Single-source BFS eccentricity: (eccentricity, farthest node with
    * min id, nodes reached). One frontier DataFrame, O(ecc) rounds each
    * touching the edge list once — the scale-safe BFS shape (no
    * per-source fan-out). */
  private def bfsEccentricity(sym: DataFrame,
                              source: String): (Long, String, Long) = {
    // one job per level: the lazy checkpoint materializes inside the
    // count. `visited` is a union of the per-level checkpointed deltas
    // — each level writes only its delta to the block store (a running
    // re-persisted union would rewrite O(V) blocks per level).
    var frontier = sym.sparkSession.range(1)
      .select(lit(source).as("node")).localCheckpoint(eager = true)
    var visited = frontier
    var nVisited = 1L
    var last = frontier
    var dist = 0L
    var done = false
    while (!done) {
      val next = frontier
        .join(sym, frontier("node") === sym("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.withColumnRenamed("node", "vn"),
          col("node") === col("vn"), "left_anti")
        .localCheckpoint(eager = false)
      val cnt = next.count()
      if (cnt == 0) done = true
      else {
        dist += 1
        nVisited += cnt
        last = next
        visited = visited.unionAll(next)
        frontier = next
      }
    }
    val far = last.agg(min(col("node"))).collect()(0).getString(0)
    (dist, far, nVisited)
  }

  /** A7 CERTIFIED diameter, 1-row DF (diameter, exact). Cheap path:
    * double-sweep lower bound + the 2·ecc(v) upper bound (triangle
    * inequality) over the swept pivots — when the graph is one
    * component and the bounds close (even-diameter graphs where a sweep
    * lands near the center), the heuristic value is PROVED exact with
    * O(sweeps) BFS. Otherwise escalate to the DISTRIBUTED iFUB descent
    * ([[diameterIfubSym]]) — multi-source BFS batches over the sym
    * frame, exact at any size, so the result is certified exact in
    * EVERY regime (the reference's igraph diameter is always exact,
    * network_generator_lib.R:418). The former O(V·E) simultaneous-BFS
    * escalation and its 10k-node refusal are gone; `exact` stays in
    * the schema as the certification contract. */
  def diameterCertified(edges: DataFrame, sweeps: Int = 4,
                        localMaxEdges: Long = LocalMaxEdges,
                        broadcastMaxEdges: Long = BroadcastCsrMaxEdges)
      : DataFrame = {
    val sym = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try diameterCertifiedSym(sym, sym.count(), sweeps, localMaxEdges,
      broadcastMaxEdges)
    finally sym.unpersist()
  }

  /** [[diameterCertified]] over a caller-owned persisted symmetrized
    * frame (see [[connectedComponentsSym]] for the sharing contract).
    * Bounded graphs (≤ localMaxEdges sym rows) skip the sweep/escalate
    * machinery entirely: one [[LocalGraph]] task runs iFUB and the
    * result is EXACT. Above the cutoff the cheap double sweeps run
    * first (they certify most real-world graphs in O(sweeps) BFS) and
    * the distributed iFUB descent finishes whatever they leave open. */
  private[graft] def diameterCertifiedSym(sym: DataFrame, nRows: Long,
                                          sweeps: Int = 4,
                                          localMaxEdges: Long = LocalMaxEdges,
                                          broadcastMaxEdges: Long =
                                            BroadcastCsrMaxEdges)
      : DataFrame = {
    val spark = sym.sparkSession
    def res(d: Long, exact: Boolean) = spark.range(1)
      .select(lit(d).as("diameter"), lit(exact).as("exact"))
    if (nRows == 0) { return res(0L, exact = true) }
    if (nRows <= localMaxEdges) {
      return res(diameterLocalSym(sym)._1, exact = true)
    }
    val nNodes = sym.select("src").distinct().count()
    val start = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("degree").desc, col("id"))
      .limit(1).collect()(0).getString(0)
    var eccs = List.empty[Long]
    var covered = 0L
    var cur = start
    val seen = scala.collection.mutable.Set[String]()
    var i = 0
    var closed = false
    while (i < sweeps && !seen.contains(cur) && !closed) {
      seen += cur
      val (ecc, far, nVis) = bfsEccentricity(sym, cur)
      eccs ::= ecc
      covered = nVis
      cur = far
      i += 1
      // bounds already closed -> further sweeps cannot help
      closed = covered == nNodes && eccs.max == 2 * eccs.min
    }
    val (lb, ub) = (eccs.max, 2 * eccs.min)
    if (covered == nNodes && lb == ub) res(lb, exact = true)
    else res(diameterIfubSym(sym, nRows, lb0 = lb,
      broadcastMaxEdges = broadcastMaxEdges), exact = true)
  }

  /** Exact diameter = max FINITE pairwise distance. Bounded graphs run
    * the one-task parallel iFUB ([[diameterLocalSym]]); above the
    * cutoff the DataFrame iFUB descent ([[diameterIfubSym]]) takes
    * over — exact in both regimes. Matches igraph's diameter on
    * disconnected graphs (max over per-component diameters). */
  def diameterExact(edges: DataFrame,
                    localMaxEdges: Long = LocalMaxEdges,
                    broadcastMaxEdges: Long = BroadcastCsrMaxEdges): Long = {
    val sym = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = sym.count()
      if (n == 0) 0L
      else if (n <= localMaxEdges) diameterLocalSym(sym)._1
      else diameterIfubSym(sym, n, broadcastMaxEdges = broadcastMaxEdges)
    } finally sym.unpersist()
  }

  /** Broadcast-CSR regime ceiling for the exact-diameter escalation,
    * in symmetrized rows: at or below, the iFUB descent collects the
    * int-indexed CSR to the driver and broadcasts it for the parallel
    * fringe batches ([[diameterLocalSym]] — ~12 bytes/row of arrays:
    * 100M rows ≈ 1.2 GB, the practical broadcast ceiling). The BFS
    * WORK is distributed either way; this regime only bounds where the
    * adjacency lives. Above it, the DataFrame multi-source BFS descent
    * takes over — the only shape left at billions of edges, and
    * tractable there because real-world giant graphs certify in a few
    * fringe batches (a near-regular graph whose bounds close slowly
    * costs O(V) BFS waves in EVERY iFUB formulation; with a broadcast
    * CSR each wave is microseconds, with DataFrame joins it is a
    * shuffle — which is why the CSR regime reaches as high as
    * broadcast memory allows). */
  private[graft] val BroadcastCsrMaxEdges = 100000000L

  /** EXACT diameter of an unbounded graph: the iFUB fringe descent
    * ([[LocalGraph]] scaladoc) generalized past the one-task regime.
    * Two shapes behind one contract:
    *
    *  - ≤ `broadcastMaxEdges` sym rows: [[diameterLocalSym]] — CSR
    *    built in one task, broadcast, fringe batches as RDD jobs.
    *  - above: DataFrame multi-source BFS, no broadcast, no O(V·E)
    *    pair state:
    *    1. one max-degree root per component (CC labels × degree
    *       argmax);
    *    2. ONE multi-source BFS wave from all roots at once — each
    *       node's depth from its component root (state O(V):
    *       components partition the nodes, so root waves never
    *       overlap);
    *    3. fringe descent: depths DESCENDING, each depth's candidate
    *       sources BFS'd in batches of `batchSize`, packed 64 sources
    *       per long word (state O(V·batch/64) rows — see
    *       [[multiSourceEcc]]), until the iFUB certificate lb ≥
    *       2·depth closes. The bound argument is global: any two nodes at
    *       depth ≤ i of their component roots are within 2i of EACH
    *       OTHER, so once some witnessed distance lb reaches 2i, no
    *       unprocessed pair anywhere can beat lb — lb IS the max
    *       finite pairwise distance.
    *
    * Worst case (near-regular graphs whose bounds close slowly) is the
    * textbook O(V·E) — batched wide rather than refused. `lb0` seeds
    * the bound with any already-witnessed eccentricity (the caller's
    * double sweeps). Caller owns sym's persistence. */
  private[graft] def diameterIfubSym(sym: DataFrame, nRows: Long,
                                     lb0: Long = 0L,
                                     batchSize: Int = 4096,
                                     broadcastMaxEdges: Long =
                                       BroadcastCsrMaxEdges): Long = {
    if (nRows <= broadcastMaxEdges) return diameterLocalSym(sym)._1
    val spark = sym.sparkSession
    // per-component max-degree root (ties: min id — deterministic)
    val cc = connectedComponentsSym(sym, nRows)
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
      .orderBy(col("degree").desc, col("id"))
    val roots = cc.join(deg, Seq("id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id").as("source"))
    // flatten the per-level delta union into ONE eager checkpoint: the
    // descent scans nodeDepth once per fringe count and once per batch
    // filter, and each of those must read a flat table, not re-plan a
    // D-child union of level deltas (O(D²·batches) delta scans)
    val nodeDepth = multiSourceBfsDepths(sym, roots)
      .select(col("node"), col("depth"))
      .localCheckpoint(eager = true)
    val maxRow = nodeDepth.agg(max(col("depth"))).collect()(0)
    val maxDepth = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    // every root ecc is a witnessed distance — so is the caller's seed
    var lb = math.max(lb0, maxDepth)
    var i = maxDepth
    while (i >= 1 && lb < 2L * i) {
      // the fringe at depth i across ALL components, hash-split into
      // ~batchSize chunks so the driver only ever collects ONE chunk
      // of ids (never the whole fringe — at billions of nodes a depth
      // level can hold millions). ANY partition of the fringe into
      // batches is correct: the certificate lb >= 2i bounds every
      // unprocessed pair globally, so the exit lb equals the diameter
      // regardless of batch composition or order.
      val fringe = nodeDepth.filter(col("depth") === i).select(col("node"))
      val n = fringe.count()
      val nBatches = math.max(1L, (n + batchSize - 1) / batchSize).toInt
      var k = 0
      while (k < nBatches && lb < 2L * i) {
        val cand = fringe
          .filter(pmod(crc32(col("node")), lit(nBatches)) === k)
          .collect().map(_.getString(0))
        if (cand.nonEmpty) {
          val e = multiSourceEcc(sym, cand.toIndexedSeq)
          if (e > lb) lb = e
        }
        k += 1
      }
      i -= 1
    }
    lb
  }

  /** One BFS wave from ALL `sources` (one column `source`) at once:
    * returns the checkpointed visited set DF(source, node, depth).
    * Per-level deltas are checkpointed; the running visited set is a
    * lazy union of those deltas (each level writes only its delta). */
  private def multiSourceBfsDepths(sym: DataFrame,
                                   sources: DataFrame): DataFrame = {
    var frontier = sources
      .select(col("source"), col("source").as("node"), lit(0L).as("depth"))
      .localCheckpoint(eager = true)
    var visited = frontier
    var d = 0L
    var done = false
    while (!done) {
      val next = frontier
        .join(sym, frontier("node") === sym("src"))
        .select(frontier("source").as("source"), sym("dst").as("node"))
        .distinct()
        .join(visited.select(col("source").as("vs"), col("node").as("vn")),
          col("source") === col("vs") && col("node") === col("vn"),
          "left_anti")
        .withColumn("depth", lit(d + 1L))
        .localCheckpoint(eager = true)
      if (next.isEmpty) done = true
      else {
        d += 1
        visited = visited.unionAll(next)
        frontier = next
      }
    }
    visited
  }

  /** Max eccentricity over a batch of BFS sources: the wave runs until
    * EVERY source's frontier is exhausted, so the level count is the
    * batch's max ecc — the only thing the descent's bound needs.
    *
    * Sources are PACKED 64 per `long`: BFS state is (node, word, bits)
    * where bit j of word w marks reachability from source 64w+j at the
    * current level. A level is then pure relational algebra over longs
    * — edge join, `bit_or` regroup, visited diff via `& ~` — all
    * codegen'd, with state O(V · batch/64) rows instead of the
    * O(V · batch) (source, node) pairs of the unpacked shape. That 64×
    * row cut is what lets `batchSize` sit in the thousands, so the
    * near-regular worst case (bounds that never close early → O(V)
    * sources to sweep) runs ~16× fewer sequential waves than the
    * 256-source unpacked batches did. Only NON-ZERO words are ever
    * materialized, so fringe batches spanning many small components
    * stay sparse. Per-level checkpoints cap lineage exactly like the
    * other fixpoint chains in this file. */
  private def multiSourceEcc(sym: DataFrame, sources: Seq[String]): Long = {
    val spark = sym.sparkSession
    import spark.implicits._
    var frontier = sources.zipWithIndex
      .map { case (s, j) => (s, j >>> 6, 1L << (j & 63)) }
      .toDF("node", "word", "bits")
      .repartition(col("node"))
      .localCheckpoint(eager = true)
    // visited stays aggregated — one row per touched (node, word) —
    // and is re-checkpointed per level so the diff join reads a flat
    // table, not a growing union of deltas
    var visited = frontier
    var d = 0L
    var done = false
    while (!done) {
      val cand = frontier
        .join(sym, frontier("node") === sym("src"))
        .groupBy(sym("dst").as("node"), col("word"))
        .agg(bit_or(col("bits")).as("bits"))
      val next = cand
        .join(visited.select(col("node").as("vn"), col("word").as("vw"),
          col("bits").as("vbits")),
          cand("node") === col("vn") && cand("word") === col("vw"),
          "left")
        .select(cand("node"), cand("word"),
          (cand("bits").bitwiseAND(
            bitwise_not(coalesce(col("vbits"), lit(0L))))).as("bits"))
        .filter(col("bits") =!= 0L)
        .localCheckpoint(eager = true)
      if (next.isEmpty) done = true
      else {
        d += 1
        visited = visited.unionAll(next)
          .groupBy(col("node"), col("word"))
          .agg(bit_or(col("bits")).as("bits"))
          .localCheckpoint(eager = true)
        frontier = next
      }
    }
    d
  }

  /** A8 global clustering coefficient (transitivity):
    * 3·triangles / triads. Triangles via ordered-id edge self-joins
    * (each triangle counted once); triads = Σ d(d-1)/2, 0 for an empty
    * edge list (transitivity 0.0 then).
    * Reference: transitivity(net), network_generator_lib.R:436. */
  def transitivity(edges: DataFrame): DataFrame = {
    // the ordered pair set feeds FOUR subtrees (three legs of the
    // triangle self-join + the triad degree count): materialize the
    // distinct once instead of re-shuffling the input per leg
    val e = edges.select(
      least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
      .localCheckpoint(eager = true)
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("triangles"))
    val triads = degrees(e.select(col("a").as("src"), col("b").as("dst")))
      .agg(coalesce(sum(col("degree") * (col("degree") - 1) / 2), lit(0.0))
        .as("triads"))
    tri.crossJoin(triads)
      .select(
        col("triangles"),
        col("triads").cast("long").as("triads"),
        when(col("triads") === 0, lit(0.0))
          .otherwise(graft.ext.Num.roundLike(lit(3.0) * col("triangles") / col("triads"), 2))
          .as("transitivity"))
  }

  /** A5 graph summary metadata: nodes, edges, mean degree (2 dp),
    * promoter/other-end counts, P-P/P-O edge counts, interchromosomal
    * edge count. Every count of an empty table is 0, and so is the
    * mean degree of a graph with no nodes. Reference:
    * generate_graph_metadata, network_generator_lib.R:411-459. */
  def graphMetadata(nodes: DataFrame, edges: DataFrame): DataFrame = {
    def countOf(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val n = nodes.agg(
      count(lit(1)).as("nodes"),
      countOf(col("type") === "P").as("promoters"),
      countOf(col("type") === "O").as("other_ends"))
    val e = edges.agg(
      count(lit(1)).as("edges"),
      countOf(col("type") === "P-P").as("pp_edges"),
      countOf(col("type") === "P-O").as("po_edges"),
      countOf(split(col("src"), "_").getItem(0) =!=
        split(col("dst"), "_").getItem(0)).as("interchromosomal"))
    n.crossJoin(e).withColumn("mean_degree",
      when(col("nodes") === 0L, lit(0.0)).otherwise(
        graft.ext.Num.roundLike(lit(2.0) * col("edges") / col("nodes"), 2)))
  }

  /** Fixed-point integer PageRank over the undirected edge list — the
    * node-importance score corpus-curation pipelines run on their link
    * graph (Common Crawl ranks hosts this way; here it extends the
    * reference's degree/transitivity/components metric family with a
    * global importance measure). `rounds` power iterations of
    * r'(v) = 0.15·SCALE + ⌊0.85·Σ_{u~v} ⌊r(u)/deg(u)⌋⌋.
    *
    * Determinism: every quantity is a LONG — the initial mass is the
    * integer SCALE (1e9), per-neighbor contributions are integer
    * divisions, the damped sum is (85·s) div 100 — so ranks are exact
    * integer sums, order-independent across partitionings and engines;
    * there is no float anywhere to wobble a hash. Overflow headroom:
    * total mass ≈ n·1e9, so the 85× intermediate stays under 2^63 up
    * to ~10^8 nodes.
    *
    * Regime split (same rule as CC/diameter): a graph whose
    * symmetrized edge list fits one task runs in a single
    * [[LocalGraph.pageRankFp]] CSR pass — measured 16.6 s → sub-second
    * on the sf0.1 thin graph, where per-round scheduling overhead was
    * the entire cost. Above the cutoff: per round ONE src-keyed
    * equi-join of the symmetric edge list against the rank frame and
    * ONE dst-keyed aggregation (map-side combined) — the canonical
    * distributed power-iteration shape; pre-bucketing both sides by
    * src makes the join co-located at cluster scale. The rank frame is
    * localCheckpoint'd per round to keep lineage flat (the single-JVM
    * twin of checkpointing to cluster storage). Every node in an edge
    * list has deg ≥ 1 and an incoming direction, so no dangling-mass
    * term is needed. */
  /** Synchronous label propagation (Raghavan et al. 2007,
    * arXiv:0709.2938) made deterministic: `rounds` FIXED rounds, each
    * node adopting its neighbors' most frequent label with a
    * (count DESC, label ASC) total tie order — synchronous update +
    * total order ⇒ the same labeling on any partitioning or engine
    * (the classic algorithm's random asynchronous order is replaced,
    * like g6's seeded swaps). The result is pinned AFTER exactly
    * `rounds` rounds, not at convergence — honest fixed-horizon
    * semantics the oracle macro-expands round for round. One
    * |E|-sized equi-join + (node, label) count + per-node argmax
    * window per round; labels are node ids (strings), so no state
    * beyond the (id, label) frame ever shuffles. */
  def labelPropagation(edges: DataFrame, rounds: Int = 4,
                       localMaxEdges: Long = LocalMaxEdges): DataFrame = {
    val sym = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded regime: one CSR task (the g9 pageRank routing — 4
      // rounds of join+agg+window+checkpoint are pure scheduling
      // overhead at this size); bit-identical labels, LocalGraphSpec
      // pins local == distributed
      val nRows = sym.count()
      if (nRows <= localMaxEdges) {
        return localPairs(sym)
          .mapPartitions(it =>
            LocalGraph.labelProp(LocalGraph.build(it), rounds))(
            org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.STRING,
              org.apache.spark.sql.Encoders.STRING))
          .toDF("id", "label")
          .localCheckpoint(eager = true)
      }
      var lab = sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label"))
        .localCheckpoint(eager = true)
      for (_ <- 1 to rounds) {
        val w = Window.partitionBy(col("id"))
          .orderBy(col("__c").desc, col("label"))
        lab = sym.join(lab.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst").as("id"), col("label"))
          .agg(count(lit(1)).as("__c"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("id"), col("label"))
          .localCheckpoint(eager = true)
      }
      lab
    } finally sym.unpersist()
  }

  def pageRank(edges: DataFrame, rounds: Int = 10,
               scale: Long = 1000000000L,
               localMaxEdges: Long = LocalMaxEdges): DataFrame = {
    val sym = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nRows = sym.count()
      if (nRows <= localMaxEdges) {
        // bounded regime: one CSR task (per-round scheduling overhead
        // IS the cost of a 10-round driver loop at this size) —
        // bit-identical arithmetic, same regime rule as CC/diameter
        val spark = sym.sparkSession
        import spark.implicits._
        sym.select(col("src"), col("dst")).as[(String, String)]
          .coalesce(1)
          .mapPartitions(it =>
            LocalGraph.pageRankFp(LocalGraph.build(it), rounds, scale))
          .toDF("id", "rank_fp")
          .localCheckpoint(eager = true)
      } else {
        val deg = sym.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("__deg")).localCheckpoint()
        val base = scale * 15L / 100L
        var r = deg.select(col("id"), lit(scale).as("rank_fp"),
          col("__deg"))
        for (_ <- 1 to rounds) {
          val contrib = r.select(col("id").as("src"),
            expr("rank_fp div __deg").as("__c"))
          r = sym.join(contrib, Seq("src"))
            .groupBy(col("dst").as("id"))
            .agg(sum(col("__c")).as("__s"))
            .select(col("id"),
              (lit(base) + expr("(85 * __s) div 100")).as("rank_fp"))
            .join(deg, Seq("id"))
            .localCheckpoint()
        }
        r.select(col("id"), col("rank_fp"))
      }
    } finally sym.unpersist()
  }
}
