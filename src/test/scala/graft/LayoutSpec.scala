package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Layout
import graft.core.Layout.CoseParams

/** G8 layouts (reference layout_enricher:50-94): per-component
  * positions, deterministic under partitioning, regime-identical
  * (one-task-per-component vs distributed iteration), non-degenerate,
  * and actually force-directed (edge lengths contract toward the
  * ideal length, connected pairs end up nearer than unconnected). */
class LayoutSpec extends SparkSpec {

  // triangle + pair + isolated node — three components
  private def nodes = {
    import spark.implicits._
    Seq("a", "b", "c", "x", "y", "lone").toDF("id")
  }
  private def edges = edgesOf(Seq(
    "a" -> "b", "b" -> "c", "a" -> "c", "x" -> "y"))

  private def posMap(df: DataFrame): Map[String, (Double, Double)] =
    df.collect().map(r => r.getString(0) ->
      (r.getDouble(2), r.getDouble(3))).toMap

  private def dist(p: Map[String, (Double, Double)], a: String, b: String) = {
    val (ax, ay) = p(a); val (bx, by) = p(b)
    math.hypot(ax - bx, ay - by)
  }

  test("G8 components: edge components plus singleton isolates") {
    val c = Layout.components(nodes, edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(c("a") == c("b") && c("b") == c("c"))
    assert(c("x") == c("y") && c("x") != c("a"))
    assert(c("lone") == "lone")
  }

  test("G8 grid: distinct integer positions, components disjoint") {
    val p = posMap(Layout.grid(nodes, edges))
    assert(p.size == 6)
    assert(p.values.toSet.size == 6, "all positions distinct")
    // grid positions are exact multiples of the spacing after packing
    p.values.foreach { case (x, y) =>
      assert(x == math.rint(x) && y == math.rint(y))
    }
  }

  test("G8 circle: component nodes equidistant from their centre") {
    val p = posMap(Layout.circle(nodes, edges))
    assert(p.values.toSet.size == 6)
    val tri = Seq("a", "b", "c").map(p)
    val cx = tri.map(_._1).sum / 3
    val cy = tri.map(_._2).sum / 3
    val rs = tri.map { case (x, y) => math.hypot(x - cx, y - cy) }
    assert(rs.max - rs.min < 1e-3, s"radii $rs")
  }

  test("G8 concentric: max-degree node innermost") {
    import spark.implicits._
    // star: h has degree 4, leaves degree 1
    val star = edgesOf(Seq("h" -> "l1", "h" -> "l2", "h" -> "l3", "h" -> "l4"))
    val n = Seq("h", "l1", "l2", "l3", "l4").toDF("id")
    val p = posMap(Layout.concentric(n, star))
    val cx = p("h")._1; val cy = p("h")._2
    val leafR = Seq("l1", "l2", "l3", "l4")
      .map(l => math.hypot(p(l)._1 - cx, p(l)._2 - cy))
    assert(leafR.forall(_ > 50), s"leaves on an outer ring: $leafR")
  }

  test("G8 cose: deterministic, non-degenerate, force-directed") {
    val p1 = posMap(Layout.cose(nodes, edges))
    val p2 = posMap(Layout.cose(
      nodes.repartition(7), edges.repartition(5)))
    assert(p1 == p2, "bit-identical under any partitioning")
    assert(p1.values.toSet.size == 6, "all positions distinct")
    // connected pairs sit nearer than cross-component pairs
    val connected = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .map { case (u, v) => dist(p1, u, v) }
    val cross = Seq(("a", "x"), ("c", "y"), ("b", "lone"))
      .map { case (u, v) => dist(p1, u, v) }
    assert(connected.max < cross.min,
      s"connected $connected vs cross $cross")
  }

  test("G8 cose converges: edge lengths approach the ideal length") {
    // a 12-node cycle: equilibrium edge length is near idealEdge
    val ids = (0 until 12).map(i => f"n$i%02d")
    val cyc = edgesOf(ids.zip(ids.tail :+ ids.head))
    import spark.implicits._
    val p = posMap(Layout.cose(ids.toDF("id"), cyc,
      CoseParams(iters = 60)))
    val lens = ids.zip(ids.tail :+ ids.head)
      .map { case (u, v) => dist(p, u, v) }
    assert(lens.forall(l => l > 30 && l < 300),
      s"edge lengths near ideal: $lens")
  }

  test("G8 regime equality: distributed twin is bit-identical") {
    val local = posMap(Layout.cose(nodes, edges))
    val dist = posMap(Layout.coseDistributed(nodes, edges))
    assert(local == dist)
    // r14: the default WHOLE-layout route (components + layout + pack
    // in one pass; these local frames take its driver form) vs the
    // cogroup-per-component route forced with localMaxRows = 0 —
    // bit-identical rows
    val cogrouped = posMap(Layout.cose(nodes, edges, CoseParams(),
      localMaxRows = 0L))
    assert(local == cogrouped)
    val bhWhole = posMap(Layout.coseLocalBarnesHut(nodes, edges))
    val bhCogrouped = posMap(Layout.coseLocalBarnesHut(nodes, edges,
      localMaxRows = 0L))
    assert(bhWhole == bhCogrouped)
  }

  test("G8 cose over local frames: driver route is bit-identical, no job") {
    // nodes/edges are local Seqs (LocalRelation plans): cose lays them
    // out in the driver; repartitioned copies take the checkpointed
    // one-task route; pack(coseRel) is the cogroup-per-component route
    val p = CoseParams()
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0),
      r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    val (driver, jobs) = org.apache.spark.graft.JobCount.of(
      spark.sparkContext)(rows(Layout.cose(nodes, edges, p)))
    assert(jobs == 0, s"driver route ran $jobs Spark jobs")
    assert(driver.size == 6)
    assert(driver == rows(Layout.cose(nodes.repartition(2),
      edges.repartition(2), p)))
    assert(driver == rows(Layout.pack(Layout.coseRel(nodes, edges, p),
      p.spacing)))
  }

  test("G8 BH interaction lists partition every pair exactly once") {
    // the FMM telescoping property the far-field regime rests on:
    // for ANY point set, every v lands in exactly one of {near
    // (level-0 3x3), far level l (parent-adjacent at l+1, non-adjacent
    // at l), top (non-adjacent at the coarsest grid)} — checked
    // brute-force with the same floor-division arithmetic, including
    // negative coordinates
    val s0 = 100000000L
    val levels = 3
    def cell(x: Long, l: Int): Long = Math.floorDiv(x, s0 << l)
    def adj(ax: Long, ay: Long, bx: Long, by: Long): Boolean =
      math.abs(ax - bx) <= 1 && math.abs(ay - by) <= 1
    val rnd = new scala.util.Random(42)
    val pts = (0 until 200).map(_ =>
      (rnd.nextLong() % (40L * s0), rnd.nextLong() % (40L * s0)))
    for ((ux, uy) <- pts.take(20)) {
      var counted = 0
      for ((vx, vy) <- pts if (vx, vy) != ((ux, uy))) {
        val buckets = Seq.newBuilder[String]
        if (adj(cell(ux, 0), cell(uy, 0), cell(vx, 0), cell(vy, 0)))
          buckets += "near"
        for (l <- 0 until levels)
          if (adj(cell(ux, l + 1), cell(uy, l + 1),
                Math.floorDiv(cell(vx, l), 2), Math.floorDiv(cell(vy, l), 2))
              && !adj(cell(ux, l), cell(uy, l), cell(vx, l), cell(vy, l)))
            buckets += s"far$l"
        if (!adj(cell(ux, levels), cell(uy, levels),
              cell(vx, levels), cell(vy, levels)))
          buckets += "top"
        assert(buckets.result().size == 1,
          s"v=($vx,$vy) for u=($ux,$uy) in buckets ${buckets.result()}")
        counted += 1
      }
      assert(counted == pts.size - 1)
    }
  }

  test("G8 BH far-field: deterministic, one-step-faithful, force-directed") {
    // 30-node cycle: the seeded span is ceil(sqrt(30))*k = 6 level-0
    // cells wide, so real far-field (non-adjacent) interactions exist
    // at several levels — the monopole path actually executes
    val ids = (0 until 30).map(i => f"m$i%02d")
    val cyc = edgesOf(ids.zip(ids.tail :+ ids.head))
    import spark.implicits._
    val p = CoseParams(iters = 12)
    val bh = posMap(Layout.coseBarnesHut(ids.toDF("id"), cyc, p))
    val bh2 = posMap(Layout.coseBarnesHut(
      ids.toDF("id").repartition(7), cyc.repartition(5), p))
    assert(bh == bh2, "bit-identical under any partitioning")
    assert(bh.values.toSet.size == 30, "all positions distinct")
    // ONE iteration stays close to the exact layout's one iteration:
    // per-step monopole error is small relative to the temp-200 move
    // cap (multi-step trajectories then diverge chaotically — position
    // equality after N steps is not a meaningful contract, layout
    // QUALITY is, asserted below)
    val e1 = posMap(Layout.coseDistributed(ids.toDF("id"), cyc,
      p.copy(iters = 1)))
    val b1 = posMap(Layout.coseBarnesHut(ids.toDF("id"), cyc,
      p.copy(iters = 1)))
    val dev1 = ids.map(i => math.hypot(
      e1(i)._1 - b1(i)._1, e1(i)._2 - b1(i)._2))
    assert(dev1.max < 30.0,
      s"one-step BH deviation: max ${dev1.max}")
    // ...and after 12 iterations (mid-anneal — full convergence takes
    // ~60, see the exact-regime test) the layout is healthy: no
    // collapse to a point, no explosion
    val lens = ids.zip(ids.tail :+ ids.head)
      .map { case (u, v) => dist(bh, u, v) }
    assert(lens.forall(l => l > 10 && l < 600),
      s"BH edge lengths healthy: $lens")
  }

  test("G8 BH regime equality: one-task twin is bit-identical") {
    // hash-grid interaction lists in one task vs the distributed
    // relational rounds — integer-sum order-freedom makes them
    // bit-equal, on a fixture with REAL far-field interactions
    val ids = (0 until 30).map(i => f"m$i%02d")
    val cyc = edgesOf(ids.zip(ids.tail :+ ids.head))
    import spark.implicits._
    val p = CoseParams(iters = 12)
    val dist = posMap(Layout.coseBarnesHut(ids.toDF("id"), cyc, p))
    val local = posMap(Layout.coseLocalBarnesHut(ids.toDF("id"), cyc, p))
    assert(local == dist)
    // and on the small multi-component fixture
    assert(posMap(Layout.coseLocalBarnesHut(nodes, edges, p)) ==
      posMap(Layout.coseBarnesHut(nodes, edges, p)))
  }

  test("G8 routed cose: cutoff splits regimes, repack is offset-exact") {
    val p = CoseParams(iters = 12)
    // route-everything-to-one-regime must reproduce that regime's
    // packed bytes exactly (pack is offset-invariant under re-packing)
    val allExact = posMap(Layout.coseRouted(nodes, edges, p,
      bhMinNodes = Long.MaxValue))
    assert(allExact == posMap(Layout.cose(nodes, edges, p)))
    // everything through the mid band (one-task BH) vs everything
    // through the large band (distributed BH): bit-identical far-field
    // twins, so both equal coseBarnesHut's packed bytes
    val allBh = posMap(Layout.coseRouted(nodes, edges, p, bhMinNodes = 0L))
    assert(allBh == posMap(Layout.coseBarnesHut(nodes, edges, p)))
    val allBhDist = posMap(Layout.coseRouted(nodes, edges, p,
      bhMinNodes = 0L, bhLocalMaxNodes = 0L))
    assert(allBhDist == allBh)
    // three-band cutoff: triangle (3 nodes) takes distributed BH, the
    // pair takes one-task BH, the singleton stays exact — all
    // positions distinct, component boxes disjoint
    val mixed = Layout.coseRouted(nodes, edges, p, bhMinNodes = 1L,
      bhLocalMaxNodes = 2L)
    val pm = posMap(mixed)
    assert(pm.size == 6 && pm.values.toSet.size == 6)
    val boxes = mixed.groupBy("component")
      .agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    for (Seq(a, b) <- boxes.toSeq.combinations(2)) {
      val apart = a._2 < b._1 || b._2 < a._1 || a._4 < b._3 || b._4 < a._3
      assert(apart, s"boxes $a and $b overlap")
    }
  }

  test("G8 pack regimes: windowed and range-ranked are bit-identical") {
    // many components of varied sizes; the range-partitioned global
    // rank (windowMax = 0 forces it) must reproduce the
    // single-partition window's packed bytes exactly
    import spark.implicits._
    val rel = (0 until 300).flatMap { c =>
      (0 to c % 5).map(j =>
        (f"c$c%03d", f"n$c%03d_$j", j * 700000L, (j % 3) * 900000L))
    }.toDF("component", "id", "x_micro", "y_micro")
    def bytes(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val windowed = bytes(Layout.pack(rel, 100L))
    val ranged = bytes(Layout.pack(rel, 100L, windowMax = 0L))
    assert(ranged == windowed)
  }

  test("G8 packing: component bounding boxes never overlap") {
    val df = Layout.cose(nodes, edges)
    val boxes = df.groupBy("component")
      .agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    for (Seq(a, b) <- boxes.toSeq.combinations(2)) {
      val apart = a._2 < b._1 || b._2 < a._1 || a._4 < b._3 || b._4 < a._3
      assert(apart, s"boxes $a and $b overlap")
    }
  }
}
