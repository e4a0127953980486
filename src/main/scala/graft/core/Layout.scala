package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G8: network layout — the reference enriches every served Cytoscape
  * document with `position {x,y}` by piping it through cytoscape.js's
  * CoSE force layout (layout_enricher/layout_enricher:50-94, with
  * idealEdgeLength 100, gravity, cooling 0.95, initialTemp 200) or a
  * Cytoscape-desktop "force-directed" REST call
  * (layout_api_enricher:62-77). Both are single-process and, in the
  * reference, RANDOMIZED (`randomize: true`) — so the semantics to
  * reproduce are "deterministic per-component force-directed positions,
  * non-degenerate, components packed apart", not any byte output.
  *
  * Spark-first design:
  *   - every layout is computed PER CONNECTED COMPONENT and the
  *     component fields are then packed onto a grid — both stages are
  *     plain relational plans (window functions + one broadcast-sized
  *     per-component aggregate), so a corpus of millions of small
  *     documents lays out embarrassingly parallel;
  *   - the force (CoSE-style Fruchterman–Reingold) layout quantizes
  *     every per-pair force term and every post-iteration position to
  *     integer MICRO-units (1e-6) and sums forces as Longs. Integer
  *     sums are associativity-free, so the result is bit-identical
  *     under any partitioning, between the one-task-per-component
  *     regime and the distributed iteration twin, and between the
  *     engine and a DuckDB replay of the same arithmetic — which is
  *     what lets an ITERATED float algorithm carry a full hash oracle
  *     (OracleSql.g8CoseSql macro-expands the same iterations as CTEs);
  *   - closed-form layouts (grid / circle / concentric) mirror
  *     cytoscape.js's deterministic layouts of the same names and are
  *     single-pass window-function plans.
  *
  * Scale note: exact FR repulsion is O(n²) per component per iteration
  * — the honest cost of the reference's own algorithm, bounded here by
  * the served-document contract (layouts run on search responses and
  * per-chromosome documents, as in the reference, never on the whole
  * chromnet). For a pathological giant component the distributed twin
  * keeps every stage a keyed shuffle (no driver state); swapping the
  * all-pairs stage for grid-binned far-field aggregation (Barnes-Hut
  * style) is a drop-in on the same plan shape.
  */
object Layout {

  /** CoSE-style parameters (defaults mirror layout_enricher:63-81:
    * idealEdgeLength 100, initialTemp 200, coolingFactor 0.95; gravity
    * rescaled for the unit-free plane; iterations bounded so the hash
    * oracle's macro-expansion stays readable — convergence at 30 is
    * asserted by LayoutSpec's edge-length contraction check). */
  final case class CoseParams(
      idealEdge: Double = 100.0,
      gravity: Double = 0.25,
      iters: Int = 30,
      temp0: Double = 200.0,
      cool: Double = 0.95,
      minDist2: Double = 0.01,
      spacing: Long = 100L)

  val Micro = 1000000L
  private val MicroD = 1000000.0

  /** Deterministic seed coordinate: 12 hex chars of md5(id) → Long.
    * Cross-engine: DuckDB `('0x'||substr(md5(id),1,12))::BIGINT`,
    * local `java.lang.Long.parseLong(hex.substring(..), 16)`. */
  private def seedCol(id: Column, off: Int): Column =
    conv(substring(md5(id), off, 12), 16, 10).cast("long")

  private def seedLocal(id: String, off: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(id.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(off - 1, off - 1 + 12), 16)
  }

  /** Component field width in micro-units: ceil(sqrt(n))·idealEdge.
    * floor(x+0.5) on an exact product — identical in SQL. */
  private def spanMicroLocal(n: Int, idealEdge: Double): Long =
    math.floor(math.ceil(math.sqrt(n.toDouble)) * idealEdge * MicroD + 0.5)
      .toLong

  private def spanMicroCol(cnt: Column, idealEdge: Double): Column =
    floor(ceil(sqrt(cnt.cast("double"))) * lit(idealEdge) * lit(MicroD) +
      lit(0.5)).cast("long")

  // ---------------------------------------------------------------------
  // component assignment: edges' components plus isolated nodes as their
  // own singleton component (a search subnet keeps isolated seeds)
  // ---------------------------------------------------------------------

  /** DF(id, component) for every node: connected-component label from
    * the edge list, the node's own id for isolated nodes. */
  def components(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val cc = GraphOps.connectedComponents(edges)
    nodes.select(col("id"))
      .join(cc.withColumnRenamed("comp", "component"), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id"))
        .as("component"))
  }

  // ---------------------------------------------------------------------
  // closed-form layouts (cytoscape.js 'grid' / 'circle' / 'concentric')
  // ---------------------------------------------------------------------

  /** Grid layout: per component, nodes in id order fill a
    * ceil(sqrt(n))-wide grid at `spacing` pitch. Pure integer
    * arithmetic end to end. */
  def grid(nodes: DataFrame, edges: DataFrame,
           spacing: Long = 100L): DataFrame = {
    val comp = components(nodes, edges)
    val w = Window.partitionBy("component").orderBy("id")
    val n = Window.partitionBy("component")
    val rel = comp
      .withColumn("__j", row_number().over(w) - lit(1))
      .withColumn("__n", count(lit(1)).over(n))
      .withColumn("__c", ceil(sqrt(col("__n").cast("double"))).cast("long"))
      .select(col("component"), col("id"),
        (pmod(col("__j"), col("__c")) * lit(spacing * Micro))
          .as("x_micro"),
        (floor(col("__j").cast("double") / col("__c")).cast("long") *
          lit(spacing * Micro)).as("y_micro"))
    pack(rel, spacing)
  }

  /** Circle layout: per component, nodes in id order on a circle of
    * radius max(idealEdge, n·idealEdge/2π); singletons at the origin.
    * Positions micro-quantized so cross-engine trig ulps vanish. */
  def circle(nodes: DataFrame, edges: DataFrame,
             idealEdge: Double = 100.0, spacing: Long = 100L): DataFrame = {
    val comp = components(nodes, edges)
    val w = Window.partitionBy("component").orderBy("id")
    val n = Window.partitionBy("component")
    val cnt = count(lit(1)).over(n).cast("double")
    val j = (row_number().over(w) - lit(1)).cast("double")
    val r = greatest(lit(idealEdge), cnt * lit(idealEdge) / (lit(2) * lit(math.Pi)))
    val a = lit(2) * lit(math.Pi) * j / cnt
    val rel = comp.select(col("component"), col("id"),
      when(count(lit(1)).over(n) === 1, lit(0L))
        .otherwise(floor(r * cos(a) * lit(MicroD) + lit(0.5)).cast("long"))
        .as("x_micro"),
      when(count(lit(1)).over(n) === 1, lit(0L))
        .otherwise(floor(r * sin(a) * lit(MicroD) + lit(0.5)).cast("long"))
        .as("y_micro"))
    pack(rel, spacing)
  }

  /** Concentric layout (cytoscape.js 'concentric' keyed on degree):
    * per component, ring = dense_rank of degree descending; a ring's
    * radius is (ring+1)·idealEdge except a singleton innermost ring,
    * which sits at the centre; within a ring, id order sets the angle. */
  def concentric(nodes: DataFrame, edges: DataFrame,
                 idealEdge: Double = 100.0,
                 spacing: Long = 100L): DataFrame = {
    val comp = components(nodes, edges)
    val deg = GraphOps.degrees(edges)
    val g = comp.join(deg, Seq("id"), "left")
      .select(col("component"), col("id"),
        coalesce(col("degree"), lit(0L)).as("degree"))
    val ringW = Window.partitionBy("component")
      .orderBy(col("degree").desc)
    val inRing = Window.partitionBy("component", "__ring").orderBy("id")
    val ringN = Window.partitionBy("component", "__ring")
    val ringed = g.withColumn("__ring", dense_rank().over(ringW) - lit(1))
      .withColumn("__j", (row_number().over(inRing) - lit(1)).cast("double"))
      .withColumn("__m", count(lit(1)).over(ringN))
    val r = when(col("__ring") === 0 && col("__m") === 1, lit(0.0))
      .otherwise((col("__ring") + lit(1)).cast("double") * lit(idealEdge))
    val a = lit(2) * lit(math.Pi) * col("__j") / col("__m").cast("double")
    val rel = ringed.select(col("component"), col("id"),
      floor(r * cos(a) * lit(MicroD) + lit(0.5)).cast("long").as("x_micro"),
      floor(r * sin(a) * lit(MicroD) + lit(0.5)).cast("long").as("y_micro"))
    pack(rel, spacing)
  }

  // ---------------------------------------------------------------------
  // CoSE force layout — one task per component (the serving regime)
  // ---------------------------------------------------------------------

  /** Per-iteration temperatures: temp0·cool^i via repeated
    * multiplication; the SQL replay inlines each value's shortest
    * round-trip decimal, which parses back to the identical double. */
  private[graft] def temps(p: CoseParams): Array[Double] = {
    val t = new Array[Double](p.iters)
    var cur = p.temp0
    var i = 0
    while (i < p.iters) { t(i) = cur; cur = cur * p.cool; i += 1 }
    t
  }

  /** The deterministic FR loop for ONE component. `ids` sorted;
    * `edges` are index pairs, one entry per undirected edge. Every
    * arithmetic step mirrors OracleSql.g8CoseSql term for term. */
  private[graft] def coseLocal(ids: Array[String],
                               edges: Array[(Int, Int)],
                               p: CoseParams): Array[(Long, Long)] = {
    val n = ids.length
    val k = p.idealEdge
    val k2 = k * k
    val span = spanMicroLocal(n, k)
    val xm = new Array[Long](n)
    val ym = new Array[Long](n)
    var i = 0
    while (i < n) {
      xm(i) = seedLocal(ids(i), 1) % span
      ym(i) = seedLocal(ids(i), 13) % span
      i += 1
    }
    // symmetrized adjacency for the attraction pass
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val ts = temps(p)
    var it = 0
    while (it < p.iters) {
      val temp = ts(it)
      var sx = 0L; var sy = 0L
      i = 0
      while (i < n) { sx += xm(i); sy += ym(i); i += 1 }
      val cx = (sx.toDouble / n) / MicroD
      val cy = (sy.toDouble / n) / MicroD
      val fx = new Array[Long](n)
      val fy = new Array[Long](n)
      // repulsion: every ordered pair u≠v in the component
      var u = 0
      while (u < n) {
        val xu = xm(u).toDouble / MicroD
        val yu = ym(u).toDouble / MicroD
        var rx = 0L; var ry = 0L
        var v = 0
        while (v < n) {
          if (v != u) {
            val dx = xu - xm(v).toDouble / MicroD
            val dy = yu - ym(v).toDouble / MicroD
            val d2 = dx * dx + dy * dy
            val d2c = math.max(d2, p.minDist2)
            rx += math.floor(dx * k2 / d2c * MicroD + 0.5).toLong
            ry += math.floor(dy * k2 / d2c * MicroD + 0.5).toLong
          }
          v += 1
        }
        fx(u) = rx; fy(u) = ry
        u += 1
      }
      // attraction along edges (both directions of each undirected edge)
      var e = 0
      while (e < sym.length) {
        val (a, b) = sym(e)
        val dx = xm(a).toDouble / MicroD - xm(b).toDouble / MicroD
        val dy = ym(a).toDouble / MicroD - ym(b).toDouble / MicroD
        val d2 = dx * dx + dy * dy
        if (d2 != 0.0) {
          val d = math.sqrt(d2)
          fx(a) += math.floor(-(dx * d / k) * MicroD + 0.5).toLong
          fy(a) += math.floor(-(dy * d / k) * MicroD + 0.5).toLong
        }
        e += 1
      }
      // gravity toward the component centroid + temperature-capped move
      u = 0
      while (u < n) {
        val xu = xm(u).toDouble / MicroD
        val yu = ym(u).toDouble / MicroD
        val gx = math.floor(-((xu - cx) * p.gravity) * MicroD + 0.5).toLong
        val gy = math.floor(-((yu - cy) * p.gravity) * MicroD + 0.5).toLong
        val dxp = (fx(u) + gx).toDouble / MicroD
        val dyp = (fy(u) + gy).toDouble / MicroD
        val len = math.sqrt(dxp * dxp + dyp * dyp)
        val scale = if (len > temp) temp / len else 1.0
        xm(u) = math.floor((xu + dxp * scale) * MicroD + 0.5).toLong
        ym(u) = math.floor((yu + dyp * scale) * MicroD + 0.5).toLong
        u += 1
      }
      it += 1
    }
    xm.zip(ym)
  }

  /** Row bound for the WHOLE-layout one-task route (components +
    * per-component positions + packing inside a single task): node
    * rows + edge rows together. The per-component layout work was
    * single-task already (the cogroup); below this bound the route
    * also collapses the surrounding relational machinery — the CC
    * persist/count/label jobs, the cogroup's two shuffles, and pack's
    * checkpoint + count + rank + two joins (~10 near-empty stages on
    * a served subnet) — into one task, with per-component layouts
    * running on the common ForkJoin pool. Above it the relational
    * pipeline is unchanged. */
  val LocalLayoutMaxRows = 2000000L

  /** CoSE layout, one task per component: components stream through a
    * cogroup (nodes, edges keyed by component label), each laid out by
    * [[coseLocal]] in its own task — parallel across components, no
    * driver state — then packed. Bounded inputs take the one-task
    * whole-layout route ([[localWholeLayout]] — bit-identical
    * positions, LayoutSpec pins the regime equality).
    *
    * `nodes` must carry a column named `id` (the node key that
    * `edges`' `src`/`dst` refer to); other columns are ignored. A frame
    * keyed under another name must be aliased first, e.g.
    * `select(col("fragment").as("id"))`. */
  def cose(nodes: DataFrame, edges: DataFrame,
           p: CoseParams = CoseParams(),
           localMaxRows: Long = LocalLayoutMaxRows): DataFrame = {
    // project to the columns either regime reads BEFORE checkpointing
    // (narrower blocks), and both regimes consume each frame at least
    // twice — the checkpoint pays for itself on either route; the
    // routing decision is then one count job over the pinned blocks
    val n = nodes.select(col("id")).localCheckpoint(eager = true)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(eager = true)
    if (routingRows(n, e) <= localMaxRows)
      localWholeLayout(n, e, p.spacing,
        (ids, eIdx) => coseLocal(ids, eIdx, p))
    else pack(coseRel(n, e, p), p.spacing)
  }

  /** nodes+edges row total for regime routing as ONE job: a tag-union
    * count over the two checkpointed frames (was two count() jobs). */
  private def routingRows(n: DataFrame, e: DataFrame): Long =
    n.select(lit(1).as("one")).unionAll(e.select(lit(1).as("one"))).count()

  /** The whole layout — component labels, per-component positions,
    * grid packing — in ONE task over the tag-unioned (nodes ∪ edges)
    * rows, replicating the relational route operation for operation:
    * CC labels are the component-min endpoint id (UTF8 binary order,
    * [[LocalGraph.componentLabels]] = the distributed min-label
    * propagation); per-component ids sort exactly like coseRel's
    * cogroup (String natural order); edges key by comp(src), dangling
    * dst drops; `layoutOf` is the SAME per-component function the
    * cogroup ran ([[coseLocal]] / [[coseLocalBh]] — integer-micro
    * deterministic); packing mirrors [[pack]]'s arithmetic term for
    * term ((cnt desc, component) rank, ceil(sqrt(ncomp)) columns,
    * max-extent cells, integer-micro offsets). Output rows are
    * bit-identical to pack(coseRel(...)) — LayoutSpec asserts it. */
  private def localWholeLayout(nodes: DataFrame, edges: DataFrame,
                               spacing: Long,
                               layoutOf: (Array[String], Array[(Int, Int)])
                                 => Array[(Long, Long)]): DataFrame = {
    val spark = nodes.sparkSession
    // bind the id column BY NAME, exactly like the relational route
    // (components/coseRel select col("id")) — a nodes frame whose id
    // column is not first binds identically in both regimes
    val tagged = nodes.select(lit(0).as("t"), col("id").as("a"),
        lit(null).cast("string").as("b"))
      .unionAll(edges.select(lit(1).as("t"), col("src").as("a"),
        col("dst").as("b")))
    val rows = tagged.coalesce(1).rdd.mapPartitions { it =>
      val nodeIds = new scala.collection.mutable.ArrayBuffer[String]()
      val es = new scala.collection.mutable.ArrayBuffer[(String, String)]()
      it.foreach { r =>
        if (r.getInt(0) == 0) nodeIds += r.getString(1)
        else es += ((r.getString(1), r.getString(2)))
      }
      if (nodeIds.isEmpty) Iterator.empty
      else {
        import org.apache.spark.unsafe.types.UTF8String
        // CC labels over the edge endpoints (min id, UTF8 order)
        val lbl = new java.util.HashMap[String, String]()
        LocalGraph.componentLabels(LocalGraph.build(
          es.iterator.flatMap(e => Iterator(e, (e._2, e._1)))))
          .foreach { case (id, c) => lbl.put(id, c) }
        def compOf(id: String): String = {
          val c = lbl.get(id); if (c == null) id else c
        }
        val nodeSet = new java.util.HashSet[String]()
        nodeIds.foreach(nodeSet.add)
        // group node ids / edges per component (coseRel's cogroup)
        val nByC = new java.util.HashMap[String,
          scala.collection.mutable.ArrayBuffer[String]]()
        nodeIds.foreach { id =>
          val c = compOf(id)
          var b = nByC.get(c)
          if (b == null) {
            b = new scala.collection.mutable.ArrayBuffer[String]()
            nByC.put(c, b)
          }
          b += id
        }
        val eByC = new java.util.HashMap[String,
          scala.collection.mutable.ArrayBuffer[(String, String)]]()
        es.foreach { case (s, d) =>
          if (nodeSet.contains(s)) { // inner join on comp(src)
            val c = compOf(s)
            var b = eByC.get(c)
            if (b == null) {
              b = new scala.collection.mutable.ArrayBuffer[(String, String)]()
              eByC.put(c, b)
            }
            b += ((s, d))
          }
        }
        // per-component layout — parallel over components (the common
        // pool; results are per-component pure, order re-imposed below)
        val comps = {
          import scala.jdk.CollectionConverters._
          nByC.keySet().iterator().asScala.toArray
        }
        val perComp = new Array[(String, Array[String],
          Array[(Long, Long)])](comps.length)
        java.util.stream.IntStream.range(0, comps.length).parallel()
          .forEach { ci =>
            val c = comps(ci)
            val ids = nByC.get(c).toArray.sorted // String order = cogroup
            val idx = ids.zipWithIndex.toMap
            val ebuf = eByC.get(c)
            val eIdx =
              if (ebuf == null) Array.empty[(Int, Int)]
              else ebuf.iterator.flatMap { case (s, d) =>
                idx.get(d).map(b => (idx(s), b)) }.toArray
            perComp(ci) = (c, ids, layoutOf(ids, eIdx))
          }
        // pack, mirroring [[pack]]'s arithmetic: per-component extents,
        // (cnt desc, component asc UTF8) rank, ceil(sqrt(ncomp)) grid
        val ext = perComp.map { case (c, ids, pos) =>
          var minx = Long.MaxValue; var maxx = Long.MinValue
          var miny = Long.MaxValue; var maxy = Long.MinValue
          pos.foreach { case (x, y) =>
            if (x < minx) minx = x; if (x > maxx) maxx = x
            if (y < miny) miny = y; if (y > maxy) maxy = y
          }
          (c, minx, maxx, miny, maxy, ids.length.toLong)
        }
        val ranked = ext.sortWith { (a, b) =>
          if (a._6 != b._6) a._6 > b._6
          else UTF8String.fromString(a._1)
            .compareTo(UTF8String.fromString(b._1)) < 0
        }
        val ncomp = ranked.length.toLong
        var maxw = Long.MinValue; var maxh = Long.MinValue
        ranked.foreach { e =>
          if (e._3 - e._2 > maxw) maxw = e._3 - e._2
          if (e._5 - e._4 > maxh) maxh = e._5 - e._4
        }
        val ncols = math.ceil(math.sqrt(ncomp.toDouble)).toLong
        val cellw = maxw + spacing * Micro
        val cellh = maxh + spacing * Micro
        val off = new java.util.HashMap[String, (Long, Long)]()
        ranked.zipWithIndex.foreach { case ((c, minx, _, miny, _, _), i) =>
          val idxL = i.toLong
          off.put(c, ((idxL % ncols) * cellw - minx,
            math.floor(idxL.toDouble / ncols).toLong * cellh - miny))
        }
        perComp.iterator.flatMap { case (c, ids, pos) =>
          val (ox, oy) = off.get(c)
          ids.iterator.zip(pos.iterator).map { case (id, (x, y)) =>
            org.apache.spark.sql.Row(id, c,
              (x + ox).toDouble / MicroD, (y + oy).toDouble / MicroD)
          }
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(rows, schema).localCheckpoint(eager = true)
  }

  /** [[cose]] before packing: per-component micro positions
    * (component, id, x_micro, y_micro) — the form [[coseRouted]]
    * unions across regimes so the whole route packs ONCE. */
  private[graft] def coseRel(nodes: DataFrame, edges: DataFrame,
                             p: CoseParams): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val comp = components(nodes, edges)
      .localCheckpoint(eager = true) // used for nodes AND the edge keying
    val nodesC = comp.as[(String, String)] // (id, component)
    val edgesC = edges.select(col("src"), col("dst"))
      .join(comp.withColumnRenamed("id", "src"), Seq("src"))
      .as[(String, String, String)] // (src, dst, component)
    val rel = nodesC.groupByKey(_._2)
      .cogroup(edgesC.groupByKey(_._3)) { (key, ns, es) =>
        val ids = ns.map(_._1).toArray.sorted
        val idx = ids.zipWithIndex.toMap
        // dangling dst (edge endpoint absent from `nodes`) is DROPPED,
        // matching the distributed twin's inner join on pb — the two
        // regimes must diverge on no input, sanitized or not
        val eIdx = es.flatMap(t => idx.get(t._2).map(b => (idx(t._1), b)))
          .toArray
        coseLocal(ids, eIdx, p).zip(ids).iterator.map {
          case ((x, y), id) => (key, id, x, y)
        }
      }
      .toDF("component", "id", "x_micro", "y_micro")
    rel
  }

  /** Per-round lineage AND stats truncation. A bare
    * `localCheckpoint(eager = true)` cuts lineage but its LogicalRDD
    * carries the ORIGIN plan's size estimate forward — and a loop whose
    * round plan joins the previous round's output to itself then
    * SQUARES that estimate every round: by round 30 the size-only stats
    * visitor is multiplying billion-bit BigIntegers and planning time
    * explodes (measured: statsBits 26→3026 in 8 rounds, ToomCook3 by
    * round ~15). Rewrapping the checkpointed RDD through
    * createDataFrame resets the stats to the session default each
    * round, so planning cost stays constant; AQE re-plans from REAL
    * runtime sizes anyway, so nothing is lost. */
  private def truncatePlan(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = true)
    df.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Distributed twin of [[cose]]: the same micro-quantized iteration
    * as relational stages (all-pairs repulsion = per-component self
    * join; attraction = edge join; gravity = per-component aggregate),
    * positions checkpointed per round. Bit-identical to [[cose]] —
    * integer force sums make the result partitioning-independent — and
    * pinned to the same oracle; this is the plan shape a giant
    * component runs at cluster scale. */
  def coseDistributed(nodes: DataFrame, edges: DataFrame,
                      p: CoseParams = CoseParams()): DataFrame = {
    val comp = components(nodes, edges).localCheckpoint(eager = true)
    val k = p.idealEdge
    val k2 = k * k
    val counts = comp.groupBy("component").agg(count(lit(1)).as("__n"))
    var pos = comp.join(counts, Seq("component"))
      .select(col("component"), col("id"),
        (seedCol(col("id"), 1) % spanMicroCol(col("__n"), k)).as("x_micro"),
        (seedCol(col("id"), 13) % spanMicroCol(col("__n"), k)).as("y_micro"))
      .localCheckpoint(eager = true)
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = true)
    def xd(c: Column): Column = c.cast("double") / lit(MicroD)
    def q(c: Column): Column =
      floor(c * lit(MicroD) + lit(0.5)).cast("long")
    for (temp <- temps(p)) {
      val cent = pos.groupBy("component").agg(
        sum("x_micro").as("__sx"), sum("y_micro").as("__sy"),
        count(lit(1)).as("__n"))
        .select(col("component"),
          (col("__sx").cast("double") / col("__n") / lit(MicroD)).as("cx"),
          (col("__sy").cast("double") / col("__n") / lit(MicroD)).as("cy"))
      val a = pos.select(col("component"), col("id"),
        col("x_micro").as("ax"), col("y_micro").as("ay"))
      val b = pos.select(col("component"), col("id").as("vid"),
        col("x_micro").as("bx"), col("y_micro").as("by"))
      val dxr = xd(col("ax")) - xd(col("bx"))
      val dyr = xd(col("ay")) - xd(col("by"))
      val d2r = dxr * dxr + dyr * dyr
      val d2c = greatest(d2r, lit(p.minDist2))
      val rep = a.join(b, Seq("component"))
        .filter(col("id") =!= col("vid"))
        .groupBy(col("component"), col("id"))
        .agg(sum(q(dxr * lit(k2) / d2c)).as("rx"),
             sum(q(dyr * lit(k2) / d2c)).as("ry"))
      val pa = pos.select(col("id").as("src"),
        col("x_micro").as("ax"), col("y_micro").as("ay"))
      val pb = pos.select(col("id").as("dst"),
        col("x_micro").as("bx"), col("y_micro").as("by"))
      val dxa = xd(col("ax")) - xd(col("bx"))
      val dya = xd(col("ay")) - xd(col("by"))
      val d2a = dxa * dxa + dya * dya
      val att = sym.join(pa, Seq("src")).join(pb, Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(when(d2a === 0, lit(0L))
               .otherwise(q(-(dxa * sqrt(d2a) / lit(k))))).as("tx"),
             sum(when(d2a === 0, lit(0L))
               .otherwise(q(-(dya * sqrt(d2a) / lit(k))))).as("ty"))
      val withF = pos
        .join(rep, Seq("component", "id"), "left")
        .join(att, Seq("id"), "left")
        .join(cent, Seq("component"))
        .select(col("component"), col("id"), col("x_micro"), col("y_micro"),
          (coalesce(col("rx"), lit(0L)) + coalesce(col("tx"), lit(0L)) +
            q(-((xd(col("x_micro")) - col("cx")) * lit(p.gravity))))
            .as("fxm"),
          (coalesce(col("ry"), lit(0L)) + coalesce(col("ty"), lit(0L)) +
            q(-((xd(col("y_micro")) - col("cy")) * lit(p.gravity))))
            .as("fym"))
      val dxp = col("fxm").cast("double") / lit(MicroD)
      val dyp = col("fym").cast("double") / lit(MicroD)
      val len = sqrt(dxp * dxp + dyp * dyp)
      val scale = when(len > lit(temp), lit(temp) / len).otherwise(lit(1.0))
      val next = truncatePlan(withF.select(col("component"), col("id"),
        q(xd(col("x_micro")) + dxp * scale).as("x_micro"),
        q(xd(col("y_micro")) + dyp * scale).as("y_micro")))
      pos = next
    }
    pack(pos, p.spacing)
  }

  /** Size-routed CoSE: components at or below `bhMinNodes` run the
    * exact one-task regime ([[cose]]); components in (bhMinNodes,
    * bhLocalMaxNodes] run the far-field iteration in one task
    * ([[coseLocalBarnesHut]] — BhProbe, COVERAGE.md, measured it 3-6x faster
    * than the relational rounds through 131k nodes); only components too big
    * for a single task take the all-relational far-field regime
    * ([[coseBarnesHut]]). The two far-field regimes are bit-identical,
    * so routing between them never changes positions. All position
    * sets union under ONE packing pass (pack is offset-invariant:
    * re-packing already-packed fields reproduces the single-pack
    * bytes, asserted in LayoutSpec). Cutoff defaults are the measured
    * [[BhMinNodes]] / [[BhLocalMaxNodes]] crossovers — this is the
    * entry point a mixed corpus calls at any scale. */
  def coseRouted(nodes: DataFrame, edges: DataFrame,
                 p: CoseParams = CoseParams(iters = 12),
                 bhMinNodes: Long = BhMinNodes,
                 bhLocalMaxNodes: Long = BhLocalMaxNodes): DataFrame = {
    val comp = components(nodes, edges).localCheckpoint(eager = true)
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("__n"))
    def idsWhere(c: Column) = comp
      .join(sizes.filter(c).select("component"), Seq("component"))
      .select("id").localCheckpoint(eager = true)
    val small = idsWhere(col("__n") <= bhMinNodes)
    val mid = idsWhere(col("__n") > bhMinNodes &&
      col("__n") <= bhLocalMaxNodes)
    val large = idsWhere(col("__n") > bhLocalMaxNodes)
    // component membership is closed over edges, so semi-joining on
    // src alone selects each side's full induced edge set
    def edgesOf(ids: DataFrame) =
      edges.join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
    // each regime contributes its UNPACKED micro positions and the
    // union packs ONCE — pack is offset-invariant (asserted in
    // LayoutSpec), so the bytes equal the pack-per-branch-then-repack
    // form while running the rank/offset machinery a single time
    val parts =
      (if (small.isEmpty) Nil
       else Seq(coseRel(small, edgesOf(small), p))) ++
      (if (mid.isEmpty) Nil
       else Seq(coseLocalBhRel(mid, edgesOf(mid), p, levels = 3))) ++
      (if (large.isEmpty) Nil
       else Seq(coseBhRel(large, edgesOf(large), p, levels = 3)))
    pack(parts.reduce(_ unionAll _), p.spacing)
  }

  // ---------------------------------------------------------------------
  // per-document layouts (the S11 tree enrichment)
  // ---------------------------------------------------------------------

  /** Whole-document grid positions for a CORPUS of documents in one
    * plan: per document, nodes in id order fill a ceil(sqrt(n))-wide
    * row-major grid at `spacing` pitch (cytoscape.js 'grid' over the
    * full document). One window pass partitioned by document — the
    * layout a million-document tree can afford; positions are exact
    * LONG multiples of the spacing (never exponent-formatted in JSON,
    * the reference's sed-fixed failure mode). Output:
    * DF(doc, id, x, y). */
  def gridPerDoc(members: DataFrame, spacing: Long = 100L): DataFrame = {
    val doc = members.columns(0)
    val id = members.columns(1)
    val w = Window.partitionBy(doc).orderBy(id)
    val n = Window.partitionBy(doc)
    members
      .withColumn("__j", (row_number().over(w) - lit(1)).cast("long"))
      .withColumn("__c",
        ceil(sqrt(count(lit(1)).over(n).cast("double"))).cast("long"))
      .select(col(doc), col(id),
        // origin-offset by one pitch: a node at exactly (0,0) is the
        // reference checker's "not generated positions" sentinel
        // (chromosomes_positions_checker.sh:12-14)
        ((pmod(col("__j"), col("__c")) + lit(1L)) * lit(spacing)).as("x"),
        (((col("__j") - pmod(col("__j"), col("__c"))) / col("__c") +
          lit(1L)) * lit(spacing)).cast("long").as("y"))
  }

  /** Per-document CoSE positions for a corpus of documents as ONE
    * layout call: documents disjoint-union under doc-prefixed ids
    * ("doc|id" — fragments and chromosome names never contain '|'),
    * so every (document, component) lays out in its own task and the
    * packing keeps all fields disjoint; per document the positions are
    * force-directed and non-degenerate. Size-routed ([[coseRouted]]):
    * components above the measured [[BhMinNodes]] crossover take the
    * far-field regime instead of the O(n²) exact one, so one oversized
    * document can't blow the tree write; the grid form remains the
    * any-scale default. Output: DF(doc, id, x, y). */
  def cosePerDoc(members: DataFrame, edges: DataFrame,
                 p: CoseParams = CoseParams()): DataFrame = {
    val dCol = members.columns(0)
    val iCol = members.columns(1)
    val n2 = members.select(
      concat_ws("|", col(dCol), col(iCol)).as("id"))
    val e2 = edges.select(
      concat_ws("|", col(edges.columns(0)), col(edges.columns(1))).as("src"),
      concat_ws("|", col(edges.columns(0)), col(edges.columns(2))).as("dst"))
    coseRouted(n2, e2, p).select(
      substring_index(col("id"), "|", 1).as("doc"),
      expr("substring(id, instr(id, '|') + 1)").as("id"),
      col("x"), col("y"))
  }

  // ---------------------------------------------------------------------
  // CoSE far-field regime: grid-binned (Barnes-Hut-style) repulsion
  // ---------------------------------------------------------------------

  /** Negative-safe integer floor division as a SQL fragment — the ONE
    * arithmetic primitive the far-field binning adds. Both engines
    * evaluate the identical formula ((a - ((a%s)+s)%s) intdiv s); the
    * numerator is an exact multiple of s, so truncating integer
    * division equals floor division with no float anywhere (a double
    * path would lose exactness once |a| nears 2^53 — a real sum of
    * micro-coordinates over a dense cell at cluster scale). */
  private def fdivSql(a: String, s: String): String =
    s"(($a - ((($a % $s) + $s) % $s)) div $s)"

  /** Measured one-task-vs-BH crossover (BhProbe, COVERAGE.md; local[32],
    * single ring component, iters=12/levels=3): exact coseLocal wins below
    * ~2k nodes (3.5 s at 2k vs BH's ~12 s of fixed per-round stage overhead),
    * the curves cross at ~4k (11.1 s vs 12.3 s), and exact's quadratic term
    * then runs away — 40.9 s vs 14.5 s at 8k, 158.9 s vs 28.0 s at 16k (~4x
    * per doubling vs BH's ~2x). Components above this size should take the
    * far-field regime. */
  val BhMinNodes = 4000L

  /** Measured one-task-BH vs distributed-BH band (BhProbe, COVERAGE.md; same
    * harness): the one-task far-field regime beats the relational rounds 3-6x
    * at every size measured — 3.8s vs 22.5s at 4k, 10.5s vs 37.2s at 16k, 89s
    * vs 286s at 64k — because it pays the relational fixed cost (12
    * rounds x shuffle+plan) zero times, and
    * still 4x at 131k (284s vs 1135s). Its state is 2 longs per node,
    * so the binding constraint is task wall-clock, not memory: at
    * ~131k nodes a single task's far-field pass (near-field pairs +
    * per-level monopole scans at the oracle-fixed levels=3) hits ~5
    * minutes — the straggler budget a shared cluster tolerates —
    * while the relational regime spreads the same arithmetic over
    * every core of every executor, not the 32 local threads this
    * probe had. Components above this take the distributed twin —
    * bit-identical, so the route never changes positions. */
  val BhLocalMaxNodes = 131072L

  /** The [[coseBarnesHut]] iteration for ONE component in one task:
    * identical cells, identical interaction lists, identical
    * floor-quantized force terms — integer sums make the result
    * bit-identical to the distributed far-field regime under any
    * execution, so both regimes pin to the SAME macro-expanded hash
    * oracle (the a6/g6 regime-twin pattern). O(n·levels) per
    * iteration via per-level hash-grid indexes. */
  private[graft] def coseLocalBh(ids: Array[String],
                                 edges: Array[(Int, Int)],
                                 p: CoseParams, levels: Int)
      : Array[(Long, Long)] = {
    val n = ids.length
    val k = p.idealEdge
    val k2 = k * k
    val s0 = math.floor(k * MicroD + 0.5).toLong
    val span = spanMicroLocal(n, k)
    val xm = new Array[Long](n)
    val ym = new Array[Long](n)
    var i = 0
    while (i < n) {
      xm(i) = seedLocal(ids(i), 1) % span
      ym(i) = seedLocal(ids(i), 13) % span
      i += 1
    }
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    def qz(v: Double): Long = math.floor(v * MicroD + 0.5).toLong
    val ts = temps(p)
    var it = 0
    while (it < p.iters) {
      val temp = ts(it)
      var sx = 0L; var sy = 0L
      i = 0
      while (i < n) { sx += xm(i); sy += ym(i); i += 1 }
      val cx = (sx.toDouble / n) / MicroD
      val cy = (sy.toDouble / n) / MicroD
      // per-level hash grids: members (level 0) + monopoles + children
      val s = Array.tabulate(levels + 1)(l => s0 << l)
      def cell(v: Long, l: Int): Long = Math.floorDiv(v, s(l))
      val members =
        new scala.collection.mutable.HashMap[(Long, Long),
          scala.collection.mutable.ArrayBuffer[Int]]()
      i = 0
      while (i < n) {
        members.getOrElseUpdate((cell(xm(i), 0), cell(ym(i), 0)),
          new scala.collection.mutable.ArrayBuffer[Int]()) += i
        i += 1
      }
      // (cx, cy) -> (count, centroid xm, centroid ym) per level, and
      // parent cell -> child cells per level
      val mono = Array.fill(levels + 1)(
        new scala.collection.mutable.HashMap[(Long, Long),
          (Long, Long, Long)]())
      val kids = Array.fill(levels + 1)(
        new scala.collection.mutable.HashMap[(Long, Long),
          scala.collection.mutable.ArrayBuffer[(Long, Long)]]())
      for (l <- 0 to levels) {
        val acc = new scala.collection.mutable.HashMap[(Long, Long),
          (Long, Long, Long)]()
        i = 0
        while (i < n) {
          val key = (cell(xm(i), l), cell(ym(i), l))
          val (c0, x0, y0) = acc.getOrElse(key, (0L, 0L, 0L))
          acc(key) = (c0 + 1, x0 + xm(i), y0 + ym(i))
          i += 1
        }
        acc.foreach { case (key, (c0, x0, y0)) =>
          mono(l)(key) = (c0, Math.floorDiv(x0, c0), Math.floorDiv(y0, c0))
          kids(l).getOrElseUpdate(
            (Math.floorDiv(key._1, 2L), Math.floorDiv(key._2, 2L)),
            new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          ) += key
        }
      }
      val fx = new Array[Long](n)
      val fy = new Array[Long](n)
      var u = 0
      while (u < n) {
        val xu = xm(u).toDouble / MicroD
        val yu = ym(u).toDouble / MicroD
        var rx = 0L; var ry = 0L
        // near: exact pairs over the level-0 3x3 neighborhood
        val c0x = cell(xm(u), 0); val c0y = cell(ym(u), 0)
        var di = -1L
        while (di <= 1L) {
          var dj = -1L
          while (dj <= 1L) {
            members.get((c0x + di, c0y + dj)).foreach { vs =>
              var j = 0
              while (j < vs.length) {
                val v = vs(j)
                if (v != u) {
                  val dx = xu - xm(v).toDouble / MicroD
                  val dy = yu - ym(v).toDouble / MicroD
                  val d2c = math.max(dx * dx + dy * dy, p.minDist2)
                  rx += qz(dx * k2 / d2c)
                  ry += qz(dy * k2 / d2c)
                }
                j += 1
              }
            }
            dj += 1
          }
          di += 1
        }
        // far levels: parent-adjacent, self-non-adjacent monopoles
        def monoTerm(cnt: Long, cmx: Long, cmy: Long): Unit = {
          val dx = xu - cmx.toDouble / MicroD
          val dy = yu - cmy.toDouble / MicroD
          val d2c = math.max(dx * dx + dy * dy, p.minDist2)
          rx += qz(dx * k2 / d2c * cnt.toDouble)
          ry += qz(dy * k2 / d2c * cnt.toDouble)
        }
        var l = 0
        while (l < levels) {
          val ucx = cell(xm(u), l); val ucy = cell(ym(u), l)
          val upx = cell(xm(u), l + 1); val upy = cell(ym(u), l + 1)
          di = -1L
          while (di <= 1L) {
            var dj = -1L
            while (dj <= 1L) {
              kids(l).get((upx + di, upy + dj)).foreach { cs =>
                var j = 0
                while (j < cs.length) {
                  val (ccx, ccy) = cs(j)
                  if (math.abs(ccx - ucx) > 1 || math.abs(ccy - ucy) > 1) {
                    val (cnt, cmx, cmy) = mono(l)((ccx, ccy))
                    monoTerm(cnt, cmx, cmy)
                  }
                  j += 1
                }
              }
              dj += 1
            }
            di += 1
          }
          l += 1
        }
        // top level: every non-adjacent cell of the coarsest grid
        val utx = cell(xm(u), levels); val uty = cell(ym(u), levels)
        mono(levels).foreach { case ((ccx, ccy), (cnt, cmx, cmy)) =>
          if (math.abs(ccx - utx) > 1 || math.abs(ccy - uty) > 1)
            monoTerm(cnt, cmx, cmy)
        }
        fx(u) = rx; fy(u) = ry
        u += 1
      }
      // attraction + gravity + capped move: identical to coseLocal
      var e = 0
      while (e < sym.length) {
        val (a, b) = sym(e)
        val dx = xm(a).toDouble / MicroD - xm(b).toDouble / MicroD
        val dy = ym(a).toDouble / MicroD - ym(b).toDouble / MicroD
        val d2 = dx * dx + dy * dy
        if (d2 != 0.0) {
          val d = math.sqrt(d2)
          fx(a) += qz(-(dx * d / k))
          fy(a) += qz(-(dy * d / k))
        }
        e += 1
      }
      u = 0
      while (u < n) {
        val xu = xm(u).toDouble / MicroD
        val yu = ym(u).toDouble / MicroD
        val gx = qz(-((xu - cx) * p.gravity))
        val gy = qz(-((yu - cy) * p.gravity))
        val dxp = (fx(u) + gx).toDouble / MicroD
        val dyp = (fy(u) + gy).toDouble / MicroD
        val len = math.sqrt(dxp * dxp + dyp * dyp)
        val scale = if (len > temp) temp / len else 1.0
        xm(u) = math.floor((xu + dxp * scale) * MicroD + 0.5).toLong
        ym(u) = math.floor((yu + dyp * scale) * MicroD + 0.5).toLong
        u += 1
      }
      it += 1
    }
    xm.zip(ym)
  }

  /** One-task-per-component regime of the far-field layout: each
    * component streams through the cogroup and runs [[coseLocalBh]] —
    * bit-identical to [[coseBarnesHut]] (same binned integer
    * arithmetic, order-free sums), pinned to the same oracle. The
    * serving-path form: an interactive layout over a big component
    * costs O(n·levels·iters) in ONE task instead of 12 relational
    * rounds. As for [[cose]], `nodes` must carry a column named `id`;
    * other columns are ignored. */
  def coseLocalBarnesHut(nodes: DataFrame, edges: DataFrame,
                         p: CoseParams = CoseParams(iters = 12),
                         levels: Int = 3,
                         localMaxRows: Long = LocalLayoutMaxRows): DataFrame = {
    val n = nodes.select(col("id")).localCheckpoint(eager = true)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(eager = true)
    if (routingRows(n, e) <= localMaxRows)
      localWholeLayout(n, e, p.spacing,
        (ids, eIdx) => coseLocalBh(ids, eIdx, p, levels))
    else pack(coseLocalBhRel(n, e, p, levels), p.spacing)
  }

  private[graft] def coseLocalBhRel(nodes: DataFrame, edges: DataFrame,
                                    p: CoseParams,
                                    levels: Int): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val comp = components(nodes, edges).localCheckpoint(eager = true)
    val nodesC = comp.as[(String, String)]
    val edgesC = edges.select(col("src"), col("dst"))
      .join(comp.withColumnRenamed("id", "src"), Seq("src"))
      .as[(String, String, String)]
    val rel = nodesC.groupByKey(_._2)
      .cogroup(edgesC.groupByKey(_._3)) { (key, ns, es) =>
        val ids = ns.map(_._1).toArray.sorted
        val idx = ids.zipWithIndex.toMap
        val eIdx = es.flatMap(t => idx.get(t._2).map(b => (idx(t._1), b)))
          .toArray
        coseLocalBh(ids, eIdx, p, levels).zip(ids).iterator.map {
          case ((x, y), id) => (key, id, x, y)
        }
      }
      .toDF("component", "id", "x_micro", "y_micro")
    rel
  }

  /** CoSE with GRID-BINNED far-field repulsion — the 100 TB regime for
    * a pathological giant component, replacing the per-component
    * all-pairs self-join (O(n²) per iteration) with an FMM-style
    * interaction-list scheme that is O(n·levels) per iteration:
    *
    *   - the plane is binned at `levels`+1 dyadic cell sizes,
    *     S_l = idealEdge·2^l micro-units;
    *   - NEAR field (Chebyshev cell distance ≤ 1 at level 0) stays
    *     exact pairwise — one equi-join on the 9 exploded neighbor
    *     cell keys, bounded by local density, never all-pairs;
    *   - FAR field: each level-l cell whose PARENT (level l+1) is
    *     within the 3×3 neighborhood of the node's parent cell, but
    *     which is itself OUTSIDE the node's level-l 3×3 neighborhood,
    *     acts as one monopole (count n, integer-floor centroid) —
    *     ≤ 27 cells per level per node; cells not adjacent at the TOP
    *     level interact as top-level monopoles. Standard FMM
    *     telescoping: every other node is counted exactly once;
    *   - every force term micro-quantizes exactly like the exact
    *     regimes (the monopole term is the pair term × cell count,
    *     quantized once), so the iteration stays integer-sum
    *     deterministic under any partitioning and carries a full hash
    *     oracle (OracleSql.g8CoseBhSql replays the same cells, the
    *     same interaction lists, the same floor arithmetic).
    *
    * The result APPROXIMATES the exact layout (far mass collapses to
    * centroids) — LayoutSpec pins the deviation on small fixtures; the
    * layout semantics (non-degenerate force-directed positions) are
    * what the reference contract needs. Default iters=12 keeps the
    * macro-expanded oracle tractable; [[BhMinNodes]] documents the
    * measured component size where this regime overtakes the exact
    * one-task regime. */
  def coseBarnesHut(nodes: DataFrame, edges: DataFrame,
                    p: CoseParams = CoseParams(iters = 12),
                    levels: Int = 3): DataFrame =
    pack(coseBhRel(nodes, edges, p, levels), p.spacing)

  private[graft] def coseBhRel(nodes: DataFrame, edges: DataFrame,
                               p: CoseParams, levels: Int): DataFrame = {
    val comp = components(nodes, edges).localCheckpoint(eager = true)
    val k = p.idealEdge
    val k2 = k * k
    val s0 = math.floor(k * MicroD + 0.5).toLong
    val counts = comp.groupBy("component").agg(count(lit(1)).as("__n"))
    var pos = comp.join(counts, Seq("component"))
      .select(col("component"), col("id"),
        (seedCol(col("id"), 1) % spanMicroCol(col("__n"), k)).as("x_micro"),
        (seedCol(col("id"), 13) % spanMicroCol(col("__n"), k)).as("y_micro"))
      .localCheckpoint(eager = true)
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = true)
    def xd(c: Column): Column = c.cast("double") / lit(MicroD)
    def q(c: Column): Column =
      floor(c * lit(MicroD) + lit(0.5)).cast("long")
    val offs = for (di <- -1L to 1L; dj <- -1L to 1L) yield (di, dj)
    for (temp <- temps(p)) {
      // positions + their cell coordinates at every level
      val pc = (0 to levels).foldLeft(pos) { (d, l) =>
        val s = s0 << l
        d.withColumn(s"c${l}x", expr(fdivSql("x_micro", s.toString)))
          .withColumn(s"c${l}y", expr(fdivSql("y_micro", s.toString)))
      }
      // per-level cell monopoles: count + integer-floor centroid
      val cells = (0 to levels).map { l =>
        pc.groupBy(col("component"), col(s"c${l}x").as("cx"),
            col(s"c${l}y").as("cy"))
          .agg(count(lit(1)).as("n"), sum("x_micro").as("sx"),
            sum("y_micro").as("sy"))
          .select(col("component"), col("cx"), col("cy"), col("n"),
            expr(fdivSql("sx", "n")).as("cmx"),
            expr(fdivSql("sy", "n")).as("cmy"))
      }
      // near field: exact pair terms over the 9-cell neighborhood
      val uN = pc.select(col("component"), col("id"), col("x_micro"),
        col("y_micro"),
        explode(array(offs.map { case (di, dj) =>
          struct((col("c0x") + lit(di)).as("kx"),
            (col("c0y") + lit(dj)).as("ky")) }: _*)).as("nb"))
        .select(col("component"), col("id"), col("x_micro"), col("y_micro"),
          col("nb.kx").as("kx"), col("nb.ky").as("ky"))
      val vN = pc.select(col("component"), col("c0x").as("kx"),
        col("c0y").as("ky"), col("id").as("vid"),
        col("x_micro").as("vxm"), col("y_micro").as("vym"))
      val dxN = xd(col("x_micro")) - xd(col("vxm"))
      val dyN = xd(col("y_micro")) - xd(col("vym"))
      val d2cN = greatest(dxN * dxN + dyN * dyN, lit(p.minDist2))
      val nearT = uN.join(vN, Seq("component", "kx", "ky"))
        .filter(col("id") =!= col("vid"))
        .select(col("component"), col("id"),
          q(dxN * lit(k2) / d2cN).as("tx"),
          q(dyN * lit(k2) / d2cN).as("ty"))
      // far field per level: parent-adjacent, self-non-adjacent cells
      val dxF = xd(col("x_micro")) - xd(col("cmx"))
      val dyF = xd(col("y_micro")) - xd(col("cmy"))
      val d2cF = greatest(dxF * dxF + dyF * dyF, lit(p.minDist2))
      val mono = Seq(
        q(dxF * lit(k2) / d2cF * col("n").cast("double")).as("tx"),
        q(dyF * lit(k2) / d2cF * col("n").cast("double")).as("ty"))
      val farTs = (0 until levels).map { l =>
        val cl = cells(l).select(col("component"),
          expr(fdivSql("cx", "2")).as("pkx"),
          expr(fdivSql("cy", "2")).as("pky"),
          col("cx"), col("cy"), col("n"), col("cmx"), col("cmy"))
        val uF = pc.select(col("component"), col("id"), col("x_micro"),
          col("y_micro"), col(s"c${l}x").as("ucx"), col(s"c${l}y").as("ucy"),
          explode(array(offs.map { case (di, dj) =>
            struct((col(s"c${l + 1}x") + lit(di)).as("pkx"),
              (col(s"c${l + 1}y") + lit(dj)).as("pky")) }: _*)).as("pb"))
          .select(col("component"), col("id"), col("x_micro"),
            col("y_micro"), col("ucx"), col("ucy"),
            col("pb.pkx").as("pkx"), col("pb.pky").as("pky"))
        uF.join(cl, Seq("component", "pkx", "pky"))
          .filter(abs(col("cx") - col("ucx")) > 1 ||
            abs(col("cy") - col("ucy")) > 1)
          .select(col("component") +: col("id") +: mono: _*)
      }
      // top level: any cell not adjacent at the coarsest grid
      val topT = pc.select(col("component"), col("id"), col("x_micro"),
          col("y_micro"), col(s"c${levels}x").as("ucx"),
          col(s"c${levels}y").as("ucy"))
        .join(cells(levels), Seq("component"))
        .filter(abs(col("cx") - col("ucx")) > 1 ||
          abs(col("cy") - col("ucy")) > 1)
        .select(col("component") +: col("id") +: mono: _*)
      val rep = (nearT +: farTs :+ topT).reduce(_ unionAll _)
        .groupBy("component", "id")
        .agg(sum("tx").as("rx"), sum("ty").as("ry"))
      // attraction, gravity, temperature-capped move — identical to
      // the exact distributed twin
      val cent = pos.groupBy("component").agg(
        sum("x_micro").as("__sx"), sum("y_micro").as("__sy"),
        count(lit(1)).as("__n"))
        .select(col("component"),
          (col("__sx").cast("double") / col("__n") / lit(MicroD)).as("cx"),
          (col("__sy").cast("double") / col("__n") / lit(MicroD)).as("cy"))
      val pa = pos.select(col("id").as("src"),
        col("x_micro").as("ax"), col("y_micro").as("ay"))
      val pb = pos.select(col("id").as("dst"),
        col("x_micro").as("bx"), col("y_micro").as("by"))
      val dxa = xd(col("ax")) - xd(col("bx"))
      val dya = xd(col("ay")) - xd(col("by"))
      val d2a = dxa * dxa + dya * dya
      val att = sym.join(pa, Seq("src")).join(pb, Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(when(d2a === 0, lit(0L))
               .otherwise(q(-(dxa * sqrt(d2a) / lit(k))))).as("tx"),
             sum(when(d2a === 0, lit(0L))
               .otherwise(q(-(dya * sqrt(d2a) / lit(k))))).as("ty"))
      val withF = pos
        .join(rep, Seq("component", "id"), "left")
        .join(att, Seq("id"), "left")
        .join(cent, Seq("component"))
        .select(col("component"), col("id"), col("x_micro"), col("y_micro"),
          (coalesce(col("rx"), lit(0L)) + coalesce(col("tx"), lit(0L)) +
            q(-((xd(col("x_micro")) - col("cx")) * lit(p.gravity))))
            .as("fxm"),
          (coalesce(col("ry"), lit(0L)) + coalesce(col("ty"), lit(0L)) +
            q(-((xd(col("y_micro")) - col("cy")) * lit(p.gravity))))
            .as("fym"))
      val dxp = col("fxm").cast("double") / lit(MicroD)
      val dyp = col("fym").cast("double") / lit(MicroD)
      val len = sqrt(dxp * dxp + dyp * dyp)
      val scale = when(len > lit(temp), lit(temp) / len).otherwise(lit(1.0))
      pos = truncatePlan(withF.select(col("component"), col("id"),
        q(xd(col("x_micro")) + dxp * scale).as("x_micro"),
        q(xd(col("y_micro")) + dyp * scale).as("y_micro")))
    }
    pos
  }

  // ---------------------------------------------------------------------
  // component packing
  // ---------------------------------------------------------------------

  /** Component count up to which [[pack]] ranks components through a
    * single-partition window and broadcasts the per-component offsets
    * (one small row per component — the serving/tree shapes). Above
    * it, the rank goes range-partitioned (per-partition row_number +
    * prefix-sum offsets over at most `shuffle.partitions` rows) and
    * the offset join is left to the planner — same global (size desc,
    * label) rank, so the regimes are bit-identical. */
  val PackWindowMaxComponents = 100000L

  /** Pack per-component relative positions onto a component grid:
    * components ordered by (size desc, label), placed into uniform
    * cells of (max extent + spacing); every offset is integer micro,
    * so packing never perturbs the layout hash. Final coordinates are
    * micro/1e6 doubles. */
  private[graft] def pack(rel: DataFrame, spacing: Long): DataFrame =
    pack(rel, spacing, PackWindowMaxComponents)

  private[graft] def pack(rel: DataFrame, spacing: Long,
                          windowMax: Long): DataFrame = {
    // one row per component; checkpointed because three consumers
    // (glob, the rank, the offsets) would otherwise re-aggregate rel
    val ext = rel.groupBy("component").agg(
      min("x_micro").as("minx"), max("x_micro").as("maxx"),
      min("y_micro").as("miny"), max("y_micro").as("maxy"),
      count(lit(1)).as("cnt")).localCheckpoint(eager = true)
    val ncomp = ext.count()
    val ord = Seq(col("cnt").desc, col("component"))
    val ranked =
      if (ncomp <= windowMax)
        ext.withColumn("__idx",
          (row_number().over(Window.orderBy(ord: _*)) - lit(1)).cast("long"))
      else {
        // scalable global rank: range-partition on the order, local
        // row_number per partition, add per-partition prefix-sum
        // offsets (≤ shuffle.partitions rows — bounded by config, not
        // data). Checkpoint freezes the sampled range boundaries so
        // the offsets and the ranked rows see the same partitioning.
        val parted = ext.repartitionByRange(ord: _*)
          .localCheckpoint(eager = true)
        val local = parted
          .withColumn("__p", spark_partition_id())
          .withColumn("__li", (row_number().over(
            Window.partitionBy("__p").orderBy(ord: _*)) - lit(1))
            .cast("long"))
        val offs = local.groupBy("__p").agg(count(lit(1)).as("__pc"))
          .withColumn("__off", coalesce(sum("__pc").over(
            Window.orderBy("__p")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("__p", "__off")
        local.join(broadcast(offs), Seq("__p"))
          .withColumn("__idx", col("__off") + col("__li"))
          .drop("__p", "__li", "__off")
      }
    val glob = ext.agg(
      max(col("maxx") - col("minx")).as("maxw"),
      max(col("maxy") - col("miny")).as("maxh"),
      count(lit(1)).as("ncomp"))
    val cells = ranked
      .crossJoin(broadcast(glob))
      .select(col("component"),
        col("minx"), col("miny"),
        col("__idx"),
        ceil(sqrt(col("ncomp").cast("double"))).cast("long").as("ncols"),
        (col("maxw") + lit(spacing * Micro)).as("cellw"),
        (col("maxh") + lit(spacing * Micro)).as("cellh"))
      .select(col("component"),
        (pmod(col("__idx"), col("ncols")) * col("cellw") - col("minx"))
          .as("offx"),
        (floor(col("__idx").cast("double") / col("ncols")).cast("long") *
          col("cellh") - col("miny")).as("offy"))
    // above the window cutoff the offsets frame is too big to force
    // onto the driver — let the planner pick the join strategy
    val cellsSide = if (ncomp <= windowMax) broadcast(cells) else cells
    rel.join(cellsSide, Seq("component"))
      .select(col("id"), col("component"),
        ((col("x_micro") + col("offx")).cast("double") / lit(MicroD))
          .as("x"),
        ((col("y_micro") + col("offy")).cast("double") / lit(MicroD))
          .as("y"))
  }
}
