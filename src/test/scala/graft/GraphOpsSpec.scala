package graft

import org.apache.spark.sql.functions._
import graft.core.{GraphOps, LocalGraph}

/** A4 degree, J10/J11 ego/induced, A6 components, A7 diameter (exact
  * on the fixture shapes), A8 transitivity, A5 metadata. */
class GraphOpsSpec extends SparkSpec {

  private def pathGraph = edgesOf(Seq(
    "a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e"))

  private def twoComponents = edgesOf(Seq(
    "a" -> "b", "b" -> "c", "a" -> "c", // triangle
    "x" -> "y"))                        // separate pair

  test("A4 degrees counts both endpoints") {
    val d = GraphOps.degrees(pathGraph).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 2L, "e" -> 1L))
  }

  test("J10 ego edges: 1-hop closure induced subgraph") {
    import spark.implicits._
    val ego = GraphOps.egoEdges(pathGraph, Seq("b").toDF("id")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // b's neighborhood = {a, b, c}; induced edges = a-b, b-c
    assert(ego == Set("a" -> "b", "b" -> "c"))
  }

  test("J11 induced subgraph needs BOTH endpoints in the set") {
    import spark.implicits._
    val ind = GraphOps.induced(pathGraph, Seq("a", "b", "d").toDF("id"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ind == Set("a" -> "b"))
  }

  test("A6 connected components: min-label per component") {
    val cc = GraphOps.connectedComponents(twoComponents).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("A6 incremental CC == full rebuild: merges, new nodes, untouched components") {
    // standing: {a,b,c} (label a), {x,y} (label x), {p,q} (label p)
    val standingEdges = edgesOf(Seq(
      "a" -> "b", "b" -> "c", "x" -> "y", "p" -> "q"))
    val standing = GraphOps.connectedComponents(standingEdges)
    // batch: bridges the a- and x-components, attaches brand-new node
    // n to y, and adds a fully-new pair (u, v); {p,q} untouched
    val batch = edgesOf(Seq("c" -> "x", "y" -> "n", "u" -> "v"))
    val inc = GraphOps.incrementalComponents(standing, batch).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val full = GraphOps.connectedComponents(
        standingEdges.unionByName(batch)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(inc == full, "incremental == rebuild")
    assert(inc("n") == "a" && inc("x") == "a", "merge + new node labeled")
    assert(inc("u") == "u" && inc("v") == "u", "fully-new pair labeled")
    assert(inc("p") == "p" && inc("q") == "p", "untouched component intact")
    // empty batch is the identity
    val id = GraphOps.incrementalComponents(standing,
      edgesOf(Seq.empty)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(id == standing.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap)
  }

  test("A6 component stats formats the largest-share percentage") {
    val row = GraphOps.componentStats(twoComponents).collect()(0)
    assert(row.getLong(0) == 2L)
    assert(row.getString(1) == "60.00%")
  }

  test("A7 diameter: exact on a path (double-sweep tight on trees)") {
    // two distributed sweeps reach the path's diameter; the certified
    // value is exact
    val r = GraphOps.diameterCertified(pathGraph, sweeps = 2,
      localMaxEdges = 0L).collect()(0)
    assert(r.getLong(0) == 4L && r.getBoolean(1))
    assert(GraphOps.diameterExact(pathGraph) == 4L)
  }

  test("A7 diameter: triangle = 1, star = 2") {
    val tri = edgesOf(Seq("a" -> "b", "b" -> "c", "a" -> "c"))
    val star = edgesOf(Seq("c" -> "a", "c" -> "b", "c" -> "d"))
    assert(GraphOps.diameterExact(tri) == 1L)
    assert(GraphOps.diameterExact(tri, localMaxEdges = 0L) == 1L)
    assert(GraphOps.diameterExact(star) == 2L)
    assert(GraphOps.diameterExact(star, localMaxEdges = 0L) == 2L)
  }

  test("A8 transitivity: triangle + pendant = 3*1/5") {
    val g = edgesOf(Seq("a" -> "b", "b" -> "c", "a" -> "c", "c" -> "d"))
    val row = GraphOps.transitivity(g).collect()(0)
    assert(row.getLong(0) == 1L)      // triangles
    assert(row.getLong(1) == 5L)      // triads: 1+1+3+0
    assert(row.getDouble(2) == 0.6)
  }

  test("G5 subsetPP / subsetPO partition edges by bait membership") {
    import spark.implicits._
    val e = edgesOf(Seq("p1" -> "p2", "p1" -> "o1", "p2" -> "o2"))
      .withColumn("score", lit(1.0))
    val baits = Seq("p1", "p2").toDF("id")
    val pp = GraphOps.subsetPP(e, baits).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val po = GraphOps.subsetPO(e, baits)
      .select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pp == Set("p1" -> "p2"))
    assert(po == Set("p1" -> "o1", "p2" -> "o2"))
  }

  test("A5 graphMetadata aggregates node/edge/type counts") {
    import spark.implicits._
    val nodes = Seq(("1_1_2", "P"), ("1_5_6", "O"), ("2_1_2", "O"))
      .toDF("fragment", "type")
    val edges = Seq(("1_1_2", "1_5_6", "P-O"), ("1_1_2", "2_1_2", "P-O"))
      .toDF("src", "dst", "type")
    val m = GraphOps.graphMetadata(nodes, edges).collect()(0)
    val byName = m.schema.fieldNames.zipWithIndex.toMap
    assert(m.getLong(byName("nodes")) == 3L)
    assert(m.getLong(byName("promoters")) == 1L)
    assert(m.getLong(byName("other_ends")) == 2L)
    assert(m.getLong(byName("edges")) == 2L)
    assert(m.getLong(byName("po_edges")) == 2L)
    assert(m.getLong(byName("interchromosomal")) == 1L)
    assert(m.getDouble(byName("mean_degree")) == 1.33)
  }

  test("A6 CC converges fast on a long chain (pointer jumping)") {
    // 200-node path: naive min-label needs ~200 rounds; pointer
    // jumping must finish well inside maxIter=12. localMaxEdges=0
    // pins the DISTRIBUTED propagation path (the chain would otherwise
    // route to the one-task LocalGraph regime).
    val chain = edgesOf((0 until 199).map(i => f"n$i%03d" -> f"n${i + 1}%03d"))
    val cc = GraphOps.connectedComponents(chain, maxIter = 12,
      localMaxEdges = 0L).collect()
    assert(cc.length == 200)
    assert(cc.forall(_.getString(1) == "n000"))
  }

  test("A6 local regime produces the distributed labels bit-for-bit") {
    for (g <- Seq(pathGraph, twoComponents,
        edgesOf((0 until 199).map(i => f"n$i%03d" -> f"n${i + 1}%03d")))) {
      val local = GraphOps.connectedComponents(g).collect()
        .map(r => r.getString(0) -> r.getString(1)).sorted.toSeq
      val dist = GraphOps.connectedComponents(g, localMaxEdges = 0L)
        .collect().map(r => r.getString(0) -> r.getString(1)).sorted.toSeq
      assert(local == dist)
    }
  }

  test("A7 diameterExact: path and disconnected graphs (all three regimes)") {
    val path = edgesOf(Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e"))
    assert(GraphOps.diameterExact(path) == 4L)                       // one-task
    assert(GraphOps.diameterExact(path, localMaxEdges = 0L) == 4L)   // bcast CSR
    assert(GraphOps.diameterExact(path, localMaxEdges = 0L,
      broadcastMaxEdges = 0L) == 4L)                                 // DF BFS
    // two components: triangle (diam 1) + path of 3 (diam 2) -> 2
    val dis = edgesOf(Seq("a" -> "b", "b" -> "c", "a" -> "c",
      "x" -> "y", "y" -> "z"))
    assert(GraphOps.diameterExact(dis) == 2L)
    assert(GraphOps.diameterExact(dis, localMaxEdges = 0L) == 2L)
    assert(GraphOps.diameterExact(dis, localMaxEdges = 0L,
      broadcastMaxEdges = 0L) == 2L)
  }

  test("A7 diameterCertified: exact on even/odd diameters + disconnected") {
    // localMaxEdges=0 + broadcastMaxEdges=0 pin the distributed
    // sweeps + the pure DataFrame-BFS escalation; the one-task and
    // broadcast-CSR regimes are covered by their own tests below
    def cert(e: org.apache.spark.sql.DataFrame): (Long, Boolean) = {
      val r = GraphOps.diameterCertified(e, localMaxEdges = 0L,
        broadcastMaxEdges = 0L).collect()(0)
      (r.getLong(0), r.getBoolean(1))
    }
    // star: radius 1 found by the sweep, 2*ecc bound certifies cheaply
    val star = edgesOf(Seq("c" -> "a", "c" -> "b", "c" -> "d"))
    assert(cert(star) == (2L, true))
    // even-diameter path: sweeps find D but not the radius -> escalate
    val p5 = edgesOf(Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e"))
    assert(cert(p5) == (4L, true))
    // odd diameter: bounds cannot close -> escalation still exact
    val p4 = edgesOf(Seq("a" -> "b", "b" -> "c", "c" -> "d"))
    assert(cert(p4) == (3L, true))
    // disconnected: sweep only sees the pivot's component -> escalate
    val dis = edgesOf(Seq("a" -> "b", "b" -> "c", "a" -> "c",
      "x" -> "y", "y" -> "z"))
    assert(cert(dis) == (2L, true))
    // one sweep leaves the bounds open -> the iFUB descent still
    // certifies the exact value (no iteration cap, no refusal)
    val long = edgesOf((0 until 9).map(i => s"n$i" -> s"n${i + 1}"))
    val r = GraphOps.diameterCertified(long, sweeps = 1,
      localMaxEdges = 0L, broadcastMaxEdges = 0L).collect()(0)
    assert(r.getBoolean(1) && r.getLong(0) == 9L)
    // the broadcast-CSR middle regime (localMaxEdges=0, default
    // broadcast ceiling) agrees on the same shapes
    val rb = GraphOps.diameterCertified(long, sweeps = 1,
      localMaxEdges = 0L).collect()(0)
    assert(rb.getBoolean(1) && rb.getLong(0) == 9L)
  }

  test("A7 certificate: every listed ecc is true, max(ecc) = exact diameter") {
    def check(e: org.apache.spark.sql.DataFrame): Unit = {
      val rows = GraphOps.diameterCertificate(e).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val truth = GraphOps.diameterExact(e)
      // every row carries diameter = max listed ecc = the exact value
      assert(rows.forall(_._3 == truth))
      assert(rows.map(_._2).max == truth)
      // independently recompute each listed source's eccentricity
      // (driver-side BFS over the symmetrized pair list)
      val pairs = e.select("src", "dst").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
      def ecc(s: String): Long = {
        var frontier = Set(s); var seen = Set(s); var d = -1L
        while (frontier.nonEmpty) {
          d += 1
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
          seen ++= frontier
        }
        d
      }
      rows.foreach { case (s, e0, _) => assert(ecc(s) == e0, s"ecc($s)") }
    }
    check(edgesOf(Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e")))
    check(edgesOf(Seq("c" -> "a", "c" -> "b", "c" -> "d")))
    check(edgesOf(Seq("a" -> "b", "b" -> "c", "a" -> "c",
      "x" -> "y", "y" -> "z")))
    check(edgesOf((0 until 9).map(i => s"n$i" -> s"n${i + 1}")))
    // empty graph: empty certificate, no throw
    assert(GraphOps.diameterCertificate(
      edgesOf(Seq.empty)).collect().isEmpty)
  }

  test("A7 certificate witnesses do not depend on row order or partitioning") {
    // a-b-c-d-e: b, c and d tie at degree 2, so the root pivot is a
    // tie the layout must break by id, not by row arrival; in the star
    // every leaf reaches ecc 2 in one fringe batch, so the witness is
    // a tie the fold must break by id
    val pairs = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "x2" -> "x1", "x1" -> "x3", "x3" -> "x4",
      "s" -> "l3", "s" -> "l1", "s" -> "l2")
    def rows(e: org.apache.spark.sql.DataFrame) =
      GraphOps.diameterCertificate(e).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val base = rows(edgesOf(pairs))
    // per component: the smallest-id max-degree root with its ecc, and
    // the smallest-id source of the first batch reaching the diameter
    assert(base == Seq(("b", 3L, 4L), ("e", 4L, 4L), ("l1", 2L, 4L),
      ("s", 1L, 4L), ("x1", 2L, 4L), ("x4", 3L, 4L)))
    assert(rows(edgesOf(pairs.reverse)) == base, "reversed rows")
    for (width <- Seq(1, 7)) {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", width.toString)
      import s2.implicits._
      val e = pairs.toDF("src", "dst").repartition(col("src"))
      assert(rows(e) == base, s"repartition(src) at width $width")
    }
  }

  test("A7 local regime (iFUB) is exact and certified on every fixture shape") {
    def cert(e: org.apache.spark.sql.DataFrame): (Long, Boolean) = {
      val r = GraphOps.diameterCertified(e).collect()(0)
      (r.getLong(0), r.getBoolean(1))
    }
    assert(cert(edgesOf(Seq("a" -> "b", "b" -> "c", "a" -> "c"))) == (1L, true))
    assert(cert(edgesOf(Seq("c" -> "a", "c" -> "b", "c" -> "d"))) == (2L, true))
    assert(cert(edgesOf(Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e"))) == (4L, true))
    assert(cert(edgesOf(Seq("a" -> "b", "b" -> "c", "c" -> "d"))) == (3L, true))
    assert(cert(edgesOf(Seq("a" -> "b", "b" -> "c", "a" -> "c",
      "x" -> "y", "y" -> "z"))) == (2L, true))
    // double star (the shape whose sweep bounds never close): iFUB
    // certifies it exactly without any escalation refusal
    assert(cert(edgesOf(Seq("hub1" -> "a", "hub1" -> "b",
      "hub2" -> "c", "hub2" -> "d", "hub1" -> "hub2"))) == (3L, true))
    // 100-node even path — fringe descent must not stop early
    assert(cert(edgesOf((0 until 100).map(i =>
      f"n$i%03d" -> f"n${i + 1}%03d"))) == (100L, true))
  }

  test("A7 parallel fringe descent == sequential iFUB == distributed exact") {
    // random near-regular graphs are iFUB's slow-closing case — the
    // parallel descent must still visit enough fringe to stay exact
    val rnd = new scala.util.Random(47)
    val g = edgesOf((0 until 300).map { _ =>
      (s"v${rnd.nextInt(120)}", s"v${120 + rnd.nextInt(120)}") }.distinct)
    val parallel = GraphOps.diameterExact(g)
    val dist = GraphOps.diameterExact(g, localMaxEdges = 0L)
    assert(parallel == dist)
    // sequential one-task iFUB (the independently written reference)
    import org.apache.spark.sql.functions.col
    val pairs = graft.core.GraphOps.symmetrize(g)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val seq = graft.core.LocalGraph.diameterExact(
      graft.core.LocalGraph.build(pairs.iterator))
    assert(parallel == seq)
  }

  test("A7 diameterExact: empty (even zero-partition) edge list is 0") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("src", StringType),
      StructField("dst", StringType)))
    // zero-partition empty frame: coalesce(1) yields NO partitions, so
    // the local layout collect comes back empty (the advisor's AIOOBE)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(GraphOps.diameterExact(empty) == 0L)
    assert(GraphOps.diameterCertified(empty).collect()(0).getLong(0) == 0L)
  }

  test("A7 local layout handles a fragmented graph (many tiny components)") {
    // 2000 disjoint 2-node components: the per-component depth copy
    // must walk members (queue), not all of V, per component
    val frags = edgesOf((0 until 2000).map(i => (f"a$i%04d", f"b$i%04d")))
    val r = GraphOps.diameterCertified(frags).collect()(0)
    assert(r.getLong(0) == 1L && r.getBoolean(1))
  }

  test("A7 layout chunking round-trips multi-chunk arrays bit-for-bit") {
    // the CSR layout must travel as bounded rows (a single Kryo object
    // overflows the 64 MB buffer cap at the top of the CSR band — hit
    // by the 50M-edge scale smoke); force several chunks per field
    val g = LocalGraph.build(
      (0 until 500).iterator.map(i => (s"n$i", s"n${(i + 1) % 500}")))
    val l = LocalGraph.diamLayout(g)
    val rt = LocalGraph.assembleLayout(
      LocalGraph.chunkLayout(l, chunk = 7).toArray)
    assert(rt.off.sameElements(l.off) && rt.adj.sameElements(l.adj))
    assert(rt.comp.sameElements(l.comp) && rt.depth.sameElements(l.depth))
    assert(rt.nComp == l.nComp && rt.rootEcc.sameElements(l.rootEcc))
    assert(rt.root.sameElements(l.root))
  }

  test("A7 distributed iFUB certifies large graphs the sweeps leave open") {
    // double star: two hubs joined by an edge, n leaves each — diameter
    // 3, but the sweep bounds never close (lb=3, ub=4). The old code
    // refused exact escalation above 10k nodes and returned an
    // uncertified bound; the distributed iFUB descent must now certify
    // it exactly at 12k nodes. (The fringe here is the leaves at depth
    // 1-2 with lb already 3 ≥ 2·1, so the descent closes after the
    // depth-2 batch — cheap, not O(V·E).)
    val n = 6000
    val hub1 = spark.range(n).select(lit("hub1").as("src"),
      concat(lit("l1_"), lpad(col("id").cast("string"), 5, "0")).as("dst"))
    val hub2 = spark.range(n).select(lit("hub2").as("src"),
      concat(lit("l2_"), lpad(col("id").cast("string"), 5, "0")).as("dst"))
    val bridge = spark.range(1).select(lit("hub1").as("src"),
      lit("hub2").as("dst"))
    val g = hub1.unionAll(hub2).unionAll(bridge)
    // pure DataFrame-BFS descent (both lower regimes disabled)
    val r = GraphOps.diameterCertified(g, localMaxEdges = 0L,
      broadcastMaxEdges = 0L).collect()(0)
    assert(r.getLong(0) == 3L && r.getBoolean(1))
    // broadcast-CSR middle regime agrees
    val rb = GraphOps.diameterCertified(g, localMaxEdges = 0L).collect()(0)
    assert(rb.getLong(0) == 3L && rb.getBoolean(1))
    // the one-task regime agrees
    val rl = GraphOps.diameterCertified(g).collect()(0)
    assert(rl.getLong(0) == 3L && rl.getBoolean(1))
    // the small version of the same shape through the DataFrame path
    val small = edgesOf(Seq("hub1" -> "a", "hub1" -> "b",
      "hub2" -> "c", "hub2" -> "d", "hub1" -> "hub2"))
    val rs = GraphOps.diameterCertified(small, localMaxEdges = 0L,
      broadcastMaxEdges = 0L).collect()(0)
    assert(rs.getLong(0) == 3L && rs.getBoolean(1))
  }

  test("A7 masked wave: >64-source batches and hash-split fringes") {
    // star: the depth-1 fringe is all 150 leaves — one ecc batch packs
    // them into 3 mask words (>64 sources per wave), and diameter 2
    // only comes out if leaf-to-leaf distances survive the packing
    val star = edgesOf((0 until 150).map(i => ("hub", s"leaf$i")))
    assert(GraphOps.diameterExact(star, localMaxEdges = 0L,
      broadcastMaxEdges = 0L) == 2L)
    // same fringe forced through ~10 crc32-hash-split sub-batches:
    // batch composition must not change the certified result
    val sym = GraphOps.symmetrize(star)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = sym.count()
      assert(GraphOps.diameterIfubSym(sym, n, batchSize = 16,
        broadcastMaxEdges = 0L) == 2L)
    } finally sym.unpersist()
  }

  test("A7 distributed iFUB == local iFUB on random multi-component graphs") {
    for (seed <- Seq(7, 21)) {
      val rnd = new scala.util.Random(seed)
      // several components of mixed shape: random bipartite-ish core +
      // a path tail + isolated pairs
      val core = (0 until 250).map { _ =>
        (s"c${rnd.nextInt(60)}", s"d${60 + rnd.nextInt(60)}") }
      val tail = (0 until 17).map(i => (s"t$i", s"t${i + 1}"))
      val pairs = (0 until 5).map(i => (s"p${i}a", s"p${i}b"))
      val g = edgesOf((core ++ tail ++ pairs).distinct)
      val local = GraphOps.diameterExact(g)
      val dist = GraphOps.diameterExact(g, localMaxEdges = 0L,
        broadcastMaxEdges = 0L)
      assert(local == dist, s"seed=$seed")
      val cert = GraphOps.diameterCertified(g, localMaxEdges = 0L,
        broadcastMaxEdges = 0L).collect()(0)
      assert(cert.getLong(0) == local && cert.getBoolean(1), s"seed=$seed")
    }
  }

  test("G10 label propagation: disjoint triangles converge to min-id " +
      "labels, partitioning-independent") {
    import spark.implicits._
    val edges = Seq(("1", "2"), ("2", "3"), ("1", "3"),
      ("4", "5"), ("5", "6"), ("4", "6")).toDF("src", "dst")
    def labels(e: org.apache.spark.sql.DataFrame) =
      GraphOps.labelPropagation(e).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val out = labels(edges)
    // hand-traced: each triangle's labels collapse to its min id by
    // round 3 (round 1 crowns the min's OWN label "2"/"5", rounds 2-3
    // propagate the min id back through the tie order)
    assert(out == Map("1" -> "1", "2" -> "1", "3" -> "1",
      "4" -> "4", "5" -> "4", "6" -> "4"))
    assert(labels(edges.repartition(7)) == out)
    // regime equivalence (the g9 pattern): the one-task CSR twin is
    // bit-identical to the distributed rounds on a messy random graph
    // (hubs, chains, ties), including the (count DESC, label ASC
    // UTF8-order) tie-break
    val rnd = new scala.util.Random(1405)
    val mess = ((0 until 300).map { _ =>
      (s"n${rnd.nextInt(80)}", s"n${rnd.nextInt(80)}") } ++
      (0 until 20).map(i => (s"q$i", s"q${i + 1}")))
      .filter(e => e._1 != e._2).distinct
    val g = mess.toDF("src", "dst")
    val localL = GraphOps.labelPropagation(g).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val distL = GraphOps.labelPropagation(g, localMaxEdges = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(localL == distL)
  }

  test("G9 PageRank: exact fixed-point longs on the hand-computed path") {
    // a-b-c, 2 rounds, SCALE=1e9: r1 = (.575e9, 1.85e9, .575e9),
    // r2(a) = 15e7 + 85*(1.85e9 div 2)//100 = 936250000,
    // r2(b) = 15e7 + 85*(2*575e6)//100     = 1127500000
    val g = edgesOf(Seq("a" -> "b", "b" -> "c"))
    val r = GraphOps.pageRank(g, rounds = 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 936250000L, "b" -> 1127500000L,
      "c" -> 936250000L))
    // partitioning independence: integer sums only
    val r2 = GraphOps.pageRank(g.repartition(9), rounds = 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r2 == r)
    // regime equivalence: the distributed power-iteration twin is
    // bit-identical to the one-task CSR pass
    val rd = GraphOps.pageRank(g, rounds = 2, localMaxEdges = 0L)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(rd == r)
    // mass conservation within the floor-loss bound: total stays
    // between n*(0.15*SCALE) and n*SCALE
    val tot = r.values.sum
    assert(tot > 3L * 150000000L && tot <= 3L * 1000000000L)
  }
}
