package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S10 Cytoscape.js JSON sink: nodes + edges nested under `data` with a
  * `group` tag; edge id = "source~target"; `searched` emitted as the
  * string "true"/"false"; NA→""; no scientific notation (typed longs
  * make the reference's sed fix-up obsolete).
  * Reference: generate_cytoscape_json, network_generator_lib.R:242-275;
  * sed hack backend.py:83-85.
  */
object CytoscapeJson {

  /** Position source for the chromosome-document writers. */
  sealed trait DocPositions
  /** No position enrichment. */
  case object NoPositions extends DocPositions
  /** Whole-document grid computed INLINE from the writer's own
    * membership frame: per document, nodes in id order fill a
    * ceil(sqrt(n))-wide row-major grid at `spacing` pitch
    * (cytoscape.js 'grid' over the full document), one window pass,
    * exact LONG coordinates (never exponent-formatted in JSON), no
    * second membership derivation and no positions join. The any-scale
    * default for the tree enrichment. */
  final case class InlineGridPositions(spacing: Long = 100L)
      extends DocPositions
  /** Precomputed per-document positions DF(doc, id, x, y)
    * ([[graft.core.Layout.cosePerDoc]]). */
  final case class FramePositions(df: DataFrame) extends DocPositions

  /** The node `data` struct (shared by every sink form). Extra columns
    * (features, degree, …) are carried into `data` automatically;
    * `exclude` names plumbing columns (e.g. a request key) that must
    * NOT leak into the document. */
  private def nodeStruct(nodes: DataFrame,
                         exclude: Set[String] = Set.empty): Column = {
    val base = Seq("fragment", "gene_names", "chr", "start", "end", "type")
    val extras = nodes.columns.filterNot(base.contains)
      .filterNot(exclude.contains)
    val searched =
      if (nodes.columns.contains("searched"))
        Seq(when(col("searched"), lit("true")).otherwise(lit("false"))
          .as("searched"))
      else Nil
    val extraCols = extras.filterNot(_ == "searched").map(c => col(c).as(c))
    val data = struct(
      Seq(col("fragment").as("id"),
        coalesce(col("gene_names"), lit("")).as("names"),
        col("chr"), col("start"), col("end"), col("type")) ++
      searched ++ extraCols: _*)
    struct(data.as("data"), lit("nodes").as("group"))
  }

  /** The edge `data` struct; id = "source~target". */
  private def edgeStruct(edges: DataFrame): Column = {
    val typeCol =
      if (edges.columns.contains("type")) Seq(col("type").as("type")) else Nil
    val data = struct(
      Seq(col("src").as("source"), col("dst").as("target")) ++ typeCol ++
      Seq(concat_ws("~", col("src"), col("dst")).as("id")): _*)
    struct(data.as("data"), lit("edges").as("group"))
  }

  /** Node elements: one JSON string per node. */
  def nodeElements(nodes: DataFrame): DataFrame =
    nodes.select(to_json(nodeStruct(nodes)).as("element"))

  /** Node elements enriched with layout coordinates — the reference's
    * served shape, where every node element carries `position {x,y}`
    * (layout_enricher:91 `elements().jsons()`;
    * layout_api_enricher:62-77). `positions` is a
    * [[graft.core.Layout]] frame DF(id, component, x, y). */
  def positionedNodeElements(nodes: DataFrame,
                             positions: DataFrame): DataFrame = {
    val joined = nodes.join(
      positions.select(col("id").as("fragment"), col("x").as("__px"),
        col("y").as("__py")), Seq("fragment"), "left")
    val inner = nodeStruct(nodes)
    joined.select(to_json(struct(
      inner.getField("data").as("data"),
      lit("nodes").as("group"),
      struct(col("__px").as("x"), col("__py").as("y")).as("position")))
      .as("element"))
  }

  /** Edge elements: id = "source~target". */
  def edgeElements(edges: DataFrame): DataFrame =
    edges.select(to_json(edgeStruct(edges)).as("element"))

  /** ONE rendered document per key, fully distributed: nodes and edges
    * carry a request-key column, elements render per (key, element)
    * with [[render]]'s exact semantics (nodes sorted by fragment, then
    * edges by (src, dst); "{}" for ≤1 node element), and each key's
    * document assembles inside ONE aggregation — no driver loop over
    * keys, no per-key plan. A whole BATCH of interactive requests is
    * thus one relational plan whose output is DF(keyCol, doc). Each
    * document materializes in a single aggregation buffer, which is the
    * serving contract's bound (documents are search responses, not the
    * whole chromnet); keys absent from `nodes` produce no row — callers
    * wanting the "{}" guard for them left-join against their key set. */
  def renderPerKey(nodes: DataFrame, edges: DataFrame,
                   keyCol: String): DataFrame = {
    val nEls = nodes.select(col(keyCol), lit(0).as("__g"),
      col("fragment").as("__k1"), lit("").as("__k2"),
      to_json(nodeStruct(nodes, exclude = Set(keyCol))).as("element"))
    val eEls = edges.select(col(keyCol), lit(1).as("__g"),
      col("src").as("__k1"), col("dst").as("__k2"),
      to_json(edgeStruct(edges)).as("element"))
    nEls.unionAll(eEls)
      .groupBy(keyCol)
      .agg(sum(when(col("__g") === 0, 1L).otherwise(0L)).as("__n"),
        array_join(transform(
          array_sort(collect_list(
            struct(col("__g"), col("__k1"), col("__k2"), col("element")))),
          e => e.getField("element")), ",").as("__body"))
      .select(col(keyCol),
        when(col("__n") <= 1L, lit("{}"))
          .otherwise(concat(lit("["), col("__body"), lit("]"))).as("doc"))
  }

  /** All document elements with their document-order sort key
    * (nodes by fragment, then edges by (src, dst)) — the distributed
    * building block behind [[writeDocument]] / [[writeDocumentLines]]. */
  def documentElements(nodes: DataFrame, edges: DataFrame): DataFrame =
    nodes.select(lit(0).as("__g"), col("fragment").as("__k1"),
        lit("").as("__k2"), to_json(nodeStruct(nodes)).as("element"))
      .unionAll(edges.select(lit(1).as("__g"), col("src").as("__k1"),
        col("dst").as("__k2"), to_json(edgeStruct(edges)).as("element")))

  /** Full document: "[" ++ elements ++ "]" — or the literal "{}" for an
    * empty / single-node subnet (reference empty-result guard,
    * network_generator.R:88-92; search_query.R:29-30).
    * Collects to the driver: for INTERACTIVE payloads only (bounded by
    * the subnet size). Dataset-tree and bulk exports use
    * [[writeDocument]] / [[writeDocumentLines]], which never hold the
    * document in driver memory. */
  def render(nodes: DataFrame, edges: DataFrame): String = {
    val nodeEls = nodeElements(nodes).collect().map(_.getString(0))
    if (nodeEls.length <= 1) "{}"
    else {
      val edgeEls = edgeElements(edges).collect().map(_.getString(0))
      (nodeEls ++ edgeEls).mkString("[", ",", "]")
    }
  }

  /** Streamed document writer — byte-identical output to [[render]]
    * (nodes sorted by fragment, then edges by (src, dst); "{}" guard
    * for ≤1 node), but the document never materializes on the driver:
    * elements are rendered and range-sorted distributedly, then
    * `toLocalIterator` streams them partition-at-a-time straight into
    * the file. Peak driver memory is one shuffle partition (bounded by
    * `spark.sql.shuffle.partitions` sizing), not the document — the
    * scale path for the per-chromosome tree documents, whose size grows
    * with the dataset. */
  def writeDocument(nodes: DataFrame, edges: DataFrame, path: String): Unit = {
    val out = java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get(path))
    try {
      val nIt = nodeElements(nodes.orderBy("fragment")).toLocalIterator()
      if (!nIt.hasNext) { out.write("{}"); return }
      val first = nIt.next().getString(0)
      if (!nIt.hasNext) { out.write("{}"); return } // single node → guard
      out.write("[")
      out.write(first)
      while (nIt.hasNext) { out.write(","); out.write(nIt.next().getString(0)) }
      val eIt = edgeElements(edges.orderBy("src", "dst")).toLocalIterator()
      while (eIt.hasNext) { out.write(","); out.write(eIt.next().getString(0)) }
      out.write("]")
    } finally out.close()
  }

  /** The one-plan tagged element set behind both all-chromosome
    * writers: every edge exploded to the chromosome documents it
    * touches (both-endpoint F2 semantics), node membership derived
    * from the tagged edges, node JSON rendered ONCE per node. Returns
    * (elements DF(__doc, __g, __k1, __k2, element), node-membership
    * DF(__doc, fragment)).
    *
    * Precondition: nodes are unique per fragment (vertices() output —
    * dedup'd by construction). Duplicate fragment rows would make the
    * stream writer's ">=2 node elements" guard and the lines writer's
    * ">=2 DISTINCT memberships" guard disagree on degenerate docs. */
  private def taggedDocElements(nodes: DataFrame, edges: DataFrame,
                                positions: DocPositions = NoPositions)
      : (DataFrame, DataFrame) = {
    val eTag = edges.withColumn("__doc", explode(array_distinct(array(
      split(col("src"), "_").getItem(0), split(col("dst"), "_").getItem(0)))))
    // a node appears in every document an incident edge touches
    val nDocs = eTag.select(col("__doc"), col("src").as("fragment"))
      .unionAll(eTag.select(col("__doc"), col("dst").as("fragment")))
      .distinct()
    // layout positions are PER DOCUMENT (the reference lays out each
    // chr<c>.json independently, layout_enricher:50-94), so a node's
    // element differs per document ONLY in position{x,y}. The
    // expensive data struct still renders ONCE per node; each
    // (document, node) membership then splices its position object in
    // front of the closing brace — byte-identical to rendering the
    // full positioned struct (both are to_json output), at a
    // per-membership string concat instead of a JSON serialization.
    def spliced(withPos: DataFrame) = {
      val nEls = nodes.select(col("fragment"),
        to_json(nodeStruct(nodes)).as("__el"))
      nEls.join(withPos, Seq("fragment"))
        .select(col("__doc"), lit(0).as("__g"),
          col("fragment").as("__k1"), lit("").as("__k2"),
          concat(expr("substring(__el, 1, length(__el) - 1)"),
            lit(",\"position\":"),
            to_json(struct(col("__px").as("x"), col("__py").as("y"))),
            lit("}")).as("element"))
    }
    val tagN = positions match {
      case NoPositions =>
        // node JSON renders ONCE per node (nodeStruct must not see
        // __doc — extra columns ride into data), then fans out
        val nEls = nodes.select(col("fragment").as("__k1"),
          to_json(nodeStruct(nodes)).as("element"))
        nEls.join(nDocs.withColumnRenamed("fragment", "__k1"), Seq("__k1"))
          .select(col("__doc"), lit(0).as("__g"), col("__k1"),
            lit("").as("__k2"), col("element"))
      case InlineGridPositions(spacing) =>
        // the whole-document grid derives from the tagging's OWN
        // membership frame — no second membership derivation and no
        // positions join: ONE (fragment)-keyed join total for the
        // default tree layout. Coordinates are origin-offset by one
        // pitch: a node at exactly (0,0) is the reference checker's
        // "not generated positions" sentinel
        // (chromosomes_positions_checker.sh:12-14)
        val w = Window.partitionBy("__doc").orderBy("fragment")
        val nW = Window.partitionBy("__doc")
        spliced(nDocs
          .withColumn("__j", (row_number().over(w) - lit(1)).cast("long"))
          .withColumn("__c",
            ceil(sqrt(count(lit(1)).over(nW).cast("double"))).cast("long"))
          .select(col("__doc"), col("fragment"),
            ((pmod(col("__j"), col("__c")) + lit(1L)) * lit(spacing))
              .as("__px"),
            (((col("__j") - pmod(col("__j"), col("__c"))) / col("__c") +
              lit(1L)) * lit(spacing)).cast("long").as("__py")))
      case FramePositions(pos) =>
        spliced(nDocs.join(pos.toDF("__doc", "fragment", "__px", "__py"),
          Seq("__doc", "fragment"), "left"))
    }
    // edgeStruct reads only src/dst/type — safe to render on the
    // tagged frame directly (an edge spans at most two documents)
    val tagE = eTag.select(col("__doc"), lit(1).as("__g"),
      col("src").as("__k1"), col("dst").as("__k2"),
      to_json(edgeStruct(eTag)).as("element"))
    (tagN.unionAll(tagE), nDocs)
  }

  /** Per-document node membership — DF(doc, fragment): every node in
    * every chromosome document an incident edge touches (the SAME
    * both-endpoint F2 tagging as [[taggedDocElements]]). The layout
    * input for the tree's CoSE enrichment
    * ([[graft.core.Layout.cosePerDoc]]). */
  def docMembers(edges: DataFrame): DataFrame = {
    val eTag = edges.withColumn("__doc", explode(array_distinct(array(
      split(col("src"), "_").getItem(0), split(col("dst"), "_").getItem(0)))))
    eTag.select(col("__doc").as("doc"), col("src").as("fragment"))
      .unionAll(eTag.select(col("__doc"), col("dst")))
      .distinct()
  }

  /** Stream a sorted frame's rows to the driver IN PARTITION ORDER
    * with `ahead` partitions prefetched: `toLocalIterator` runs ONE
    * sequential job per reduce partition and the driver sits idle
    * between fetches — on the s11 tree that serial tail was most of
    * the chromosomeDocs lane (6-7 s with < 1 s of actual file IO).
    * Here partition p+1..p+ahead compute on the cluster while the
    * driver consumes p, so the stream costs max(compute, consume)
    * instead of their sum. Row order (and therefore output bytes) is
    * identical — partitions are still consumed strictly in order;
    * peak driver memory is `ahead`+1 partitions instead of 1 (both
    * bounded by shuffle-partition sizing, the scaladoc contract).
    * The iterator is AutoCloseable: an aborting consumer (a write
    * failure mid-stream) closes it from its finally, which cancels
    * every still-in-flight partition job instead of letting up to
    * `ahead`+1 of them keep running and buffering on the driver. */
  private final class PrefetchedRows(df: DataFrame, ahead: Int)
      extends Iterator[org.apache.spark.sql.Row] with AutoCloseable {
    private val rdd = df.rdd
    private val sc = df.sparkSession.sparkContext
    private val n = rdd.getNumPartitions
    private def submit(p: Int) = {
      var buf: Array[org.apache.spark.sql.Row] = null
      sc.submitJob[org.apache.spark.sql.Row,
          Array[org.apache.spark.sql.Row],
          Array[org.apache.spark.sql.Row]](
        rdd, _.toArray, Seq(p),
        (_, a) => buf = a, buf)
    }
    private val inFlight =
      new java.util.ArrayDeque[org.apache.spark.SimpleFutureAction[
        Array[org.apache.spark.sql.Row]]]()
    private var nextPart = 0
    while (nextPart < math.min(ahead + 1, n)) {
      inFlight.add(submit(nextPart)); nextPart += 1
    }
    private var cur: Iterator[org.apache.spark.sql.Row] = Iterator.empty
    private def advance(): Unit = {
      while (!cur.hasNext && !inFlight.isEmpty) {
        val fa = inFlight.poll()
        cur = scala.concurrent.Await
          .result(fa, scala.concurrent.duration.Duration.Inf).iterator
        if (nextPart < n) { inFlight.add(submit(nextPart)); nextPart += 1 }
      }
    }
    def hasNext: Boolean = { advance(); cur.hasNext }
    def next(): org.apache.spark.sql.Row = { advance(); cur.next() }
    /** Cancel every still-running prefetch job (no-op when drained). */
    def close(): Unit =
      while (!inFlight.isEmpty) {
        try inFlight.poll().cancel()
        catch { case scala.util.control.NonFatal(_) => () }
      }
  }

  /** ALL per-chromosome documents in ONE plan: every edge is exploded
    * to the chromosome documents it touches (both-endpoint semantics of
    * the F2 slice), node membership derives from the tagged edges, and
    * a single global sort by (document, group, id) feeds ONE
    * partition-at-a-time driver stream that switches output files as
    * the document key changes. Byte-identical per file to
    * [[writeDocument]] — but 25 documents cost one shuffle + one sort
    * instead of 25 small plans (measured 7x faster on the sf0.1 tree).
    * Documents listed in `chrs` that no edge touches (e.g. the PP
    * pseudo-chromosome) are written as the "{}" guard, as is any
    * document with fewer than two node elements ([[render]]'s
    * contract — a lone node plus self-loop edges still guards).
    *
    * Local frames (the resident build's) with the grid or no layout
    * skip the plan: the same elements come from
    * [[residentDocElements]], in the driver with no job. Both forms
    * feed one file loop ([[streamDocuments]]). */
  def writeChromosomeDocuments(nodes: DataFrame, edges: DataFrame,
                               chrs: Seq[String], dir: String,
                               positions: DocPositions = NoPositions): Unit = {
    val resident = !positions.isInstanceOf[FramePositions] &&
      graft.core.Regime.localRows(nodes).isDefined &&
      graft.core.Regime.localRows(edges).isDefined
    if (resident)
      streamDocuments(residentDocElements(nodes, edges, chrs, positions),
        chrs, dir)
    else {
      // only the requested documents (callers may bound the fan-out)
      val sorted = taggedDocElements(nodes, edges, positions)._1
        .filter(col("__doc").isin(chrs: _*))
        .orderBy("__doc", "__g", "__k1", "__k2")
      val it = new PrefetchedRows(sorted, ahead = 2)
      // cancel any still-in-flight prefetch jobs on abort
      try streamDocuments(
        it.map(r => (r.getString(0), r.getInt(1) == 0, r.getString(4))),
        chrs, dir)
      finally it.close()
    }
  }

  /** [[taggedDocElements]]' requested elements in the writer's order,
    * computed in the driver from two local frames: the node and edge
    * JSON is Spark's own `to_json` over their rows
    * ([[graft.core.Regime.localStrings]], no job), and the rest is the
    * relational plan's, step for step — an edge tags the distinct
    * chromosomes of its two ids ([[graft.core.ResidentTree.chrOf]]); a
    * document's members are its edges' endpoints; the
    * grid places member j of n (binary id order, endpoints without a
    * node row included) at ((j mod c + 1)·s, ((j − j mod c)/c + 1)·s)
    * for c = ⌈√n⌉, the y term in double arithmetic as the plan's `/`;
    * elements sort by (document, nodes first, id) and edges by
    * (src, dst), binary string order throughout — here as int ranks:
    * every id is ranked once, a document's members are a bit set over
    * the ranks, and the edges are bucketed by source rank and sorted by
    * target rank within a bucket. */
  private def residentDocElements(nodes: DataFrame, edges: DataFrame,
                                  chrs: Seq[String], positions: DocPositions)
      : Iterator[(String, Boolean, String)] = {
    import graft.core.Regime.localStrings
    val Array(frag, nodeEl) =
      localStrings(nodes, col("fragment"), to_json(nodeStruct(nodes)))
    val Array(src, dst, edgeEl) =
      localStrings(edges, col("src"), col("dst"), to_json(edgeStruct(edges)))
    val ids = (frag ++ src ++ dst).distinct
      .sortWith(graft.core.LocalChain.bcmp(_, _) < 0)
    val rank = new java.util.HashMap[String, Integer](ids.length * 2)
    ids.indices.foreach(i => rank.put(ids(i), i))
    val nodeJson = new Array[String](ids.length)
    frag.indices.foreach(i => nodeJson(rank.get(frag(i))) = nodeEl(i))
    val rs = src.map(rank.get(_).intValue)
    val rd = dst.map(rank.get(_).intValue)
    // edges in (src, dst) order: bucketed by source rank, each bucket
    // sorted as (target rank, edge) longs
    val start = new Array[Int](ids.length + 1)
    rs.foreach(v => start(v + 1) += 1)
    for (v <- ids.indices) start(v + 1) += start(v)
    val fill = start.clone()
    val sorted = new Array[Long](src.length)
    for (i <- src.indices) {
      sorted(fill(rs(i))) = (rd(i).toLong << 32) | i; fill(rs(i)) += 1
    }
    for (v <- ids.indices) java.util.Arrays.sort(sorted, start(v), start(v + 1))
    import graft.core.ResidentTree.chrOf
    val wanted = chrs.toSet
    val members = scala.collection.mutable.HashMap.empty[String, java.util.BitSet]
    val docEdges = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    for (k <- sorted) {
      val i = (k & 0xffffffffL).toInt
      for (doc <- Set(chrOf(src(i)), chrOf(dst(i))) if wanted(doc)) {
        val m = members.getOrElseUpdate(doc, new java.util.BitSet(ids.length))
        m.set(rs(i)); m.set(rd(i))
        docEdges.getOrElseUpdate(doc, scala.collection.mutable.ArrayBuffer.empty) +=
          edgeEl(i)
      }
    }
    members.keys.toSeq.sortWith(graft.core.LocalChain.bcmp(_, _) < 0).iterator
      .flatMap { doc =>
        val m = members(doc)
        val c = math.ceil(math.sqrt(m.cardinality.toDouble)).toLong
        val nodeEls = m.stream().toArray.iterator.zipWithIndex.flatMap {
          case (v, j) => Option(nodeJson(v)).map { el =>
            positions match {
              case InlineGridPositions(spacing) =>
                val x = (j % c + 1L) * spacing
                val y = (((j - j % c).toDouble / c + 1.0) * spacing).toLong
                el.substring(0, el.length - 1) +
                  s""","position":{"x":$x,"y":$y}}"""
              case _ => el
            }
          }
        }
        nodeEls.map((doc, true, _)) ++ docEdges(doc).iterator.map((doc, false, _))
      }
  }

  /** The document file loop behind both writer forms: `elements` are
    * (document, is-node, JSON) in document order, each document's
    * elements together, nodes first. Every requested document starts as
    * the "{}" guard; a document with fewer than two node elements keeps
    * it ([[render]]'s contract — a lone node plus self-loop edges still
    * guards). */
  private def streamDocuments(elements: Iterator[(String, Boolean, String)],
                              chrs: Seq[String], dir: String): Unit = {
    def path(c: String) = java.nio.file.Paths.get(s"$dir/chr$c.json")
    // IO-vs-render attribution (r13 verdict #3): every byte reaches
    // the file through one TimedWriter per document, whose underlying
    // write/flush/close time accumulates here — BufferedWriter batches
    // the element writes into 8 KiB chunks, so the timing calls are
    // per-chunk, not per-element (negligible overhead). The total is
    // published to [[lastStreamWriteIoSec]] for the bench artifact.
    var ioNanos = 0L
    final class TimedWriter(under: java.io.Writer) extends java.io.Writer {
      override def write(cbuf: Array[Char], off: Int, len: Int): Unit = {
        val t = System.nanoTime(); under.write(cbuf, off, len)
        ioNanos += System.nanoTime() - t
      }
      override def flush(): Unit = {
        val t = System.nanoTime(); under.flush()
        ioNanos += System.nanoTime() - t
      }
      override def close(): Unit = {
        val t = System.nanoTime(); under.close()
        ioNanos += System.nanoTime() - t
      }
    }
    chrs.foreach { c =>
      // a prior distributed-lines run leaves chr<c>.json as a DIRECTORY
      // — writeString on it would throw before any element streams
      val p = path(c)
      if (java.nio.file.Files.isDirectory(p)) deleteRecursively(p)
      val t = System.nanoTime()
      java.nio.file.Files.writeString(p, "{}")
      ioNanos += System.nanoTime() - t
    }
    var cur: String = null
    var held: String = null // first element of the current document
    var skipDoc = false     // <=1 node -> leave the "{}" guard in place
    var out: java.io.Writer = null
    def closeDoc(): Unit = {
      if (out != null) { out.write("]"); out.close(); out = null }
      held = null // a lone held element leaves the "{}" guard in place
    }
    try {
      for ((doc, isNode, el) <- elements) {
        if (doc != cur) {
          // render's contract: a document needs >=2 NODES. Nodes sort
          // first, so the first two elements decide: anything else
          // (lone node + self-loop edges, or edges with no node rows)
          // keeps the pre-written "{}" guard and swallows the rest of
          // the document.
          closeDoc(); cur = doc
          skipDoc = !isNode; held = if (isNode) el else null
        } else if (skipDoc) ()
        else if (held != null) {
          if (isNode) {
            out = new java.io.BufferedWriter(new TimedWriter(
              java.nio.file.Files.newBufferedWriter(path(cur))))
            out.write("["); out.write(held); out.write(","); out.write(el)
            held = null
          } else { held = null; skipDoc = true }
        } else { out.write(","); out.write(el) }
      }
      closeDoc()
    } finally {
      if (out != null) out.close()
      lastStreamWriteIoSec = ioNanos / 1e9
    }
  }

  /** Pure file-IO seconds of the MOST RECENT stream-writer run in
    * this JVM ([[writeChromosomeDocuments]]) — the write half of the
    * s11 render-vs-write bench attribution. */
  @volatile private[graft] var lastStreamWriteIoSec: Double = 0.0

  /** Fully-distributed document writer: the same sorted elements as ONE
    * text file of newline-separated rows — "[" prefixes the first
    * element, "," every later one, "]" terminates the last row. JSON
    * ignores whitespace between tokens, so the file PARSES identically
    * to [[render]]'s output (and concatenating its lines reproduces it
    * byte-for-byte — asserted in CytoscapeJsonSpec). Element rendering
    * stays distributed; the single-partition external sort + streaming
    * text write on one executor is the standard single-file export
    * shape (no driver involvement at all). Use for bulk/data-plane
    * exports; the byte-exact tree format keeps [[writeDocument]]. */
  def writeDocumentLines(nodes: DataFrame, edges: DataFrame,
                         path: String): Unit = {
    import nodes.sparkSession.implicits._
    if (nodes.limit(2).count() <= 1L) {
      Seq("{}").toDF("line").coalesce(1)
        .write.mode("overwrite").text(path)
      return
    }
    val sorted = documentElements(nodes, edges)
      .repartition(1).sortWithinPartitions("__g", "__k1", "__k2")
    // single partition by construction → the global window is safe
    val w = Window.orderBy("__g", "__k1", "__k2")
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    sorted.select(concat(
        when(row_number().over(w) === 1, lit("[")).otherwise(lit(",")),
        col("element"),
        when(row_number().over(w) === count(lit(1)).over(wAll), lit("]"))
          .otherwise(lit(""))).as("line"))
      .write.mode("overwrite").text(path)
  }

  /** ALL per-chromosome documents with ZERO driver byte-streaming: the
    * same one-plan tagged element set as [[writeChromosomeDocuments]],
    * but decorated into document lines per chromosome (["[", ",", "]"]
    * prefixes via a per-document window) and written by the EXECUTORS
    * through `partitionBy(__doc)` text. Each `chr<c>.json` becomes a
    * DIRECTORY whose single part file's concatenated lines reproduce
    * the driver-stream file byte-for-byte (newlines between JSON array
    * elements are insignificant whitespace — the document parses
    * identically; asserted in CytoscapeJsonSpec). One document = one
    * task (the window clusters each document into one partition), so
    * write bandwidth scales with the number of chromosomes × executor
    * disks instead of one driver thread — the bulk path for trees
    * whose JSON outgrows a single writer. The "{}" guard semantics
    * (<2 node elements, absent chromosomes) match the stream writer.
    * Renames use the local filesystem: swap in a Hadoop FileSystem
    * rename for object-store deployments. */
  /** `shardsPerDoc` > 1 splits each document's line rows over that
    * many ordered range partitions so no single task serializes a
    * giant chromosome (the bulk regime's remaining straggler at
    * extreme document sizes); concatenating a document's part files
    * in filename order always reproduces the stream writer's bytes. */
  def writeChromosomeDocumentLines(nodes: DataFrame, edges: DataFrame,
                                   chrs: Seq[String], dir: String,
                                   positions: DocPositions = NoPositions,
                                   shardsPerDoc: Int = 1)
      : Unit = {
    import nodes.sparkSession.implicits._
    val (els, nDocs) = taggedDocElements(nodes, edges, positions)
    // the guard set comes from a cheap membership aggregate, not the
    // rendered elements: documents with <2 node ELEMENTS keep "{}".
    // The semi-join drops memberships whose endpoint has no node row
    // (orphan edges render no node element — same count the stream
    // writer's first-two-elements check sees).
    val okDocs = nDocs.filter(col("__doc").isin(chrs: _*))
      .join(nodes.select(col("fragment")), Seq("fragment"), "left_semi")
      .groupBy("__doc").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2L)
      .select("__doc").collect().map(_.getString(0)).toSet
    val wDoc = Window.partitionBy("__doc")
    val wOrd = wDoc.orderBy("__g", "__k1", "__k2")
    val decorated = els
      .filter(col("__doc").isin(okDocs.toSeq: _*))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__cnt", count(lit(1)).over(wDoc))
      .select(col("__doc"), col("__g"), col("__k1"), col("__k2"), concat(
        when(col("__rn") === 1, lit("[")).otherwise(lit(",")),
        col("element"),
        when(col("__rn") === col("__cnt"), lit("]")).otherwise(lit("")))
        .as("line"))
    // shardsPerDoc == 1: the window already clusters+sorts by
    // document — one task writes each document's single part file.
    // shardsPerDoc > 1: a giant document's serial write is the tree's
    // straggler, so range-repartition the decorated lines on the
    // document order key — each document spreads over ~shardsPerDoc
    // ordered range partitions, every task writes its slice, and the
    // part files CONCATENATED IN FILENAME ORDER reproduce the document
    // (part file names embed the task id, task ids follow range
    // order, rows are sorted within each part; asserted in
    // CytoscapeJsonSpec). Range boundaries are sampled, so the SPLIT
    // POINTS vary run to run — the concatenated bytes never do.
    val lines = (if (shardsPerDoc <= 1) decorated
      else decorated.repartitionByRange(
        math.max(1, shardsPerDoc * chrs.size),
        col("__doc"), col("__g"), col("__k1"), col("__k2")))
      .sortWithinPartitions("__doc", "__g", "__k1", "__k2")
      .select(col("__doc"), col("line"))
    val guards = chrs.filterNot(okDocs)
    val guardRows = guards.toDF("__doc")
      .select(col("__doc"), lit("{}").as("line"))
    val tmp = s"$dir/.docs_tmp"
    lines.unionAll(guardRows)
      .write.partitionBy("__doc").mode("overwrite").text(tmp)
    // swap the partition dirs into the tree's chr<c>.json names
    val tmpPath = java.nio.file.Paths.get(tmp)
    for (c <- chrs) {
      val from = tmpPath.resolve(s"__doc=$c")
      val to = java.nio.file.Paths.get(s"$dir/chr$c.json")
      if (java.nio.file.Files.exists(from)) {
        deleteRecursively(to)
        java.nio.file.Files.move(from, to)
      }
    }
    deleteRecursively(tmpPath)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val it = java.nio.file.Files.walk(p).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try it.forEach(java.nio.file.Files.delete(_))
      finally it.close()
    }
}
