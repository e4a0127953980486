package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** End-to-end dataset-build composition mirroring the reference's main
  * flow (network_generator.R:40-290): load → threshold filter (F1) →
  * edge typing (J9) → chromosome / P-P slicing (F2/F3) → vertex build
  * (A1) → annotations (J2/J3/J4/J6) → simplify (G2) → degree (A4) →
  * metadata (A5/A9/A10) → snapshots (S9) / Cytoscape JSON (S10).
  *
  * Above [[Regime.ResidentMaxEdges]] rows, one declarative plan per
  * output — the reference's per-chromosome process fan-out
  * (pipeline.sh GNU parallel) collapses into Spark partitioning; the
  * chr1-task special-casing (whole-genome stats computed only there)
  * disappears because the full-DF aggregates are computed once. At or
  * below it the whole tree is written the way the reference's one R
  * process writes it: the vertices and edges are computed in the
  * driver ([[ResidentBuild]]) after one fetch job, and so is every
  * tree file from them ([[writeDatasetTree]]'s driver route) — no
  * Spark job after the fetch.
  */
object Pipeline {

  /** Everything the reference materializes per (organism, cell type)
    * dataset. Every member is a lazy plan, itself built on first use —
    * callers pay only for what they read. `resident` is the same
    * dataset with `nodes` and `edges` computed in the driver, when the
    * build's inputs fit its cutoff ([[build]]'s `residentMaxEdges`):
    * local frames, one fetch job on first use, and no vertex or
    * annotation plan built; the tree writer reads that form. */
  final class BuiltDataset private[core] (
      val interactions: DataFrame, // post-threshold working set
      plans: => (DataFrame, DataFrame),
      residentPlans: => Option[(DataFrame, DataFrame)]) {
    private lazy val nodesAndEdges = plans
    lazy val nodes: DataFrame = nodesAndEdges._1 // annotated vertex table
    lazy val edges: DataFrame = nodesAndEdges._2 // simplified, typed edges
    lazy val degrees: DataFrame = GraphOps.degrees(edges) // A4
    lazy val graphMetadata: DataFrame = GraphOps.graphMetadata(nodes, edges)
    lazy val suggestions: DataFrame = Metadata.suggestions(nodes)
    lazy val chromosomes: DataFrame = Metadata.chromosomes(nodes)
    lazy val resident: BuiltDataset = residentPlans.fold(this)(ne =>
      new BuiltDataset(interactions, ne, None))
  }

  /** Optional annotation inputs (each `None` skips that join, like the
    * reference's organism-specific branches). */
  case class Annotations(
      baitNames: Option[DataFrame] = None,     // J2  (Chr,Start,End,gene_id)
      aliasRanges: Option[DataFrame] = None,   // J3  (chr,start,end,gene_name)
      aliasNames: Option[DataFrame] = None,    // J4  (gene_name,ensembl_gene_id,alias)
      intronic: Option[DataFrame] = None)      // J6  (chr,start,end)

  /** Build one dataset from a raw interaction table (PCHiC/HiC shaped,
    * see Interactions). `chromosome` = Some("7") slices F2-style;
    * Some("PP") is the pseudo-chromosome (P-P edges only, F3).
    *
    * `nodes` and `edges` are relational plans. When the thresholded
    * working set and each annotation table have at most
    * `residentMaxEdges` rows, the dataset's `resident` form holds local
    * frames with the same rows and schemas instead: one job fetches the
    * inputs and [[ResidentBuild]] computes the vertices and edges in the
    * driver. `residentMaxEdges = 0` (or a larger input) keeps the
    * relational plans there too, the at-scale form. */
  def build(raw: DataFrame,
            threshold: Double = 5.0,
            annotations: Annotations = Annotations(),
            chromosome: Option[String] = None,
            hasNames: Boolean = true,
            residentMaxEdges: Long = Regime.ResidentMaxEdges): BuiltDataset = {
    // F1 + F4: score threshold, MT drop — pushed to the scan by Catalyst.
    val working0 = Interactions.dropMT(
      Interactions.filterByThreshold(raw, threshold))
    // F2 chromosome slice (keeps inter-chromosomal edges touching chr).
    val working = chromosome match {
      case Some(c) if c != "PP" => Interactions.filterByChromosome(working0, c)
      case _                    => working0
    }
    val ppOnly = chromosome.contains("PP")
    new BuiltDataset(working,
      relational(working, annotations, ppOnly, hasNames),
      resident(working, annotations, ppOnly, hasNames, residentMaxEdges))
  }

  /** [[build]]'s (nodes, edges) as local frames computed in the driver,
    * when its inputs have at most `maxRows` rows each. */
  private def resident(working: DataFrame, annotations: Annotations,
                       ppOnly: Boolean, hasNames: Boolean, maxRows: Long)
      : Option[(DataFrame, DataFrame)] = {
    lazy val in = ResidentBuild.inputs(working, annotations, hasNames)
    if (maxRows <= 0L || !ResidentBuild.supports(in)) None
    else Regime.collectAtMost(maxRows, in.all: _*).map { rows =>
      val (nodes, edges) = ResidentBuild.build(in.fill(rows), ppOnly)
      val (nodeSchema, edgeSchema) = ResidentBuild.schemas(in)
      val spark = working.sparkSession
      (spark.createDataFrame(nodes, nodeSchema),
        spark.createDataFrame(edges, edgeSchema))
    }
  }

  /** [[build]]'s (nodes, edges) as lazy relational plans. */
  private def relational(working: DataFrame, annotations: Annotations,
                         ppOnly: Boolean, hasNames: Boolean)
      : (DataFrame, DataFrame) = {
    // G1/G2 + J9: edges → simplify (first-wins by score then key — a
    // total order, deterministic under any partitioning) → bait typing.
    val rawEdges = Interactions.edges(working, Some(working.columns(11)))
      .select(col("src"), col("dst"), col("score"))
    val simplified = Interactions.simplifyBy(rawEdges,
      Seq(col("score"), col("src"), col("dst")))
    val typed0 = Interactions.addTypes(simplified)
    // F3: the PP pseudo-chromosome keeps only promoter-promoter edges.
    val typed = if (ppOnly) Interactions.filterPPOnly(typed0) else typed0

    // A1 vertex derivation + the annotation joins the reference applies
    // in network_generator.R:98-122 order: J2 bait names, J3 other-end
    // alias ranges, J4 promoter alias names, J6 intronic flags.
    val v0 = Interactions.vertices(working, hasNames)
    val v1 = annotations.baitNames.fold(v0)(Annotate.overwriteBaitNames(v0, _))
    val v2 = annotations.aliasRanges.fold(v1)(Annotate.annotateOtherEnds(v1, _))
    val v3 = annotations.aliasNames.fold(v2)(Annotate.annotatePromoters(v2, _))
    (annotations.intronic.fold(v3)(Annotate.flagIntronic(v3, _)), typed)
  }

  /** Hi-C-mode dataset build (reference network_generator.R:52-62, 95):
    * the 6-column input has no scores, names, or baits — no threshold
    * filter, every edge typed "O-O", every vertex "O" with empty
    * names; the name-dependent annotations (J2/J4) don't apply. The
    * graph metadata still emits promoter/P-P counts (they are zero) —
    * the reference omits them in this mode, a presentation difference
    * only. */
  def buildHiC(raw6: DataFrame,
               chromosome: Option[String] = None): BuiltDataset = {
    val inter = Interactions.fromHiC(raw6)
    val working0 = Interactions.dropMT(inter)
    val working = chromosome match {
      case Some(c) => Interactions.filterByChromosome(working0, c)
      case None    => working0
    }
    // unweighted: simplify's first-wins order falls back to the
    // undirected key itself — deterministic without a score
    val simplified = Interactions.simplifyBy(
      Interactions.edges(working).select(col("src"), col("dst")),
      Seq(col("src"), col("dst")))
    val typed = simplified
      .withColumn("score", lit(1.0)).withColumn("type", lit("O-O"))
    val nodes = Interactions.vertices(working, hasNames = false,
      hicMode = true)
    new BuiltDataset(working, (nodes, typed), None)
  }

  /** Edge-count cutoff for the tree's document writer: at or below,
    * one driver thread streams the sorted elements into single
    * chr<c>.json files (byte-golden layout); above, the executors
    * write per-document line directories. 20M edges ≈ several GB of
    * document JSON — around where one ~100 MB/s writer thread turns
    * into minutes of serial tail. */
  val DocStreamMaxEdges = 20000000L

  /** S10/S11 end-to-end output tree — the per-dataset layout the
    * reference's pipeline materializes (pipeline.sh:109-124,
    * network_generator.R:181-284):
    *
    * {{{
    * outDir/
    *   metadata.json            A5-A8 graph summary
    *   suggestions.json         A9 search suggestions
    *   chromosomes.json         A10 chromosome list
    *   features_metadata.json   A17 per-subnet feature stats (if features)
    *   chromosomes/chr<N>.json  S10 per-chromosome Cytoscape documents
    * }}}
    *
    * Per-chromosome documents keep every edge TOUCHING the chromosome
    * plus both endpoints (the F2 slice semantics) and are written with
    * elements sorted by id, so the tree is byte-deterministic under any
    * partitioning. On the relational route documents are
    * BATCH-STREAMED (CytoscapeJson.writeChromosomeDocuments): one
    * tagged element plan
    * + one global sort for ALL chromosome documents, piped
    * partition-at-a-time to the files — document size never bounds
    * driver memory, only the files grow. `chromosomesToWrite` bounds
    * the fan-out explicitly.
    *
    * Above [[DocStreamMaxEdges]] edges the single driver byte stream
    * becomes the tree's only serial stage, so the writer switches to
    * the DISTRIBUTED CytoscapeJson.writeChromosomeDocumentLines:
    * chr<c>.json becomes a directory of document lines written by the
    * executors (concatenation reproduces the stream file's bytes; the
    * document parses identically). Below the cutoff the byte-golden
    * single-file layout is preserved. `distributedDocs` overrides the
    * regime explicitly (tests; deployments that always want dirs).
    *
    * `docLayout` selects the per-document position enrichment
    * (pipeline.sh:109-118 / layout_api_enricher:62-77 — the reference
    * pipes every chr<c>.json through a layout and serves
    * `position{x,y}` on every node): "grid" (default) is the
    * whole-document closed form — one window pass, integer coordinates
    * (never exponent-formatted, the failure mode
    * chromosomes_positions_checker.sh:9-27 guards), affordable at any
    * tree scale; "cose" runs the per-document force layout
    * (Layout.cosePerDoc — interactively-sized documents only, the
    * reference's own enricher contract); None skips enrichment.
    *
    * Two routes write the same bytes. When the dataset's `resident`
    * form holds local frames ([[build]]'s cutoff) and `docLayout` is
    * the grid or None, with the stream writer, the DRIVER ROUTE reads
    * their rows once and computes every file in the driver, as the
    * reference's one R process does: one symmetric [[LocalGraph.Csr]]
    * for components, the exact diameter (the iFUB descent on driver
    * threads) and the triangle/triad counts, [[ResidentTree]] for the
    * A5/A9/A10 values, and the documents from the frames' own `to_json`
    * (CytoscapeJson.writeChromosomeDocuments' local form). The features
    * input is fetched beside the dataset's own fetch, so after the
    * fetch the tree runs no Spark job. Every other input — above the
    * cutoff, `docLayout = "cose"`, `distributedDocs = Some(true)` —
    * takes the RELATIONAL fan-out below, the at-scale form. */
  def writeDatasetTree(dataset: BuiltDataset, outDir: String,
                       features: Option[DataFrame] = None,
                       nReplicates: Int = 3, seed: Long = 42L,
                       chromosomesToWrite: Option[Seq[String]] = None,
                       distributedDocs: Option[Boolean] = None,
                       docLayout: Option[String] = Some("grid")): Unit = {
    import graft.io.{CytoscapeJson, MetadataJson}
    import org.apache.spark.storage.StorageLevel
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$outDir/chromosomes"))
    // per-lane wall-clock, recorded into [[lastTreeTimings]] (the s11
    // bench artifact's sub-component attribution — r13 verdict #3)
    val timings = new Timings()
    def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)
    // the passes are independent until the final JSON assembly — run
    // them as concurrent lanes. Iterative relational lanes (CC, BFS
    // sweeps, the swap chain) leave most cores idle between their
    // narrow stages; overlapping them fills the gaps, so the tree costs
    // ~max(lane) instead of Σ(lane). On a cluster the same shape
    // overlaps scheduler round-trips.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val driverEligible =
        docLayout.forall(_ == "grid") && !distributedDocs.contains(true)
      // the features fetch runs beside the dataset's: (frame, the
      // statistics' cutoff) — local rows, or the input itself when it
      // is over the cutoff (the statistics then skip a second attempt)
      val fFeatIn = features.map { f =>
        if (!driverEligible) Future.successful((f, Regime.ResidentMaxEdges))
        else Future {
          val in = f.select("fragment", "feature", "value")
          Regime.collectAtMost(Regime.ResidentMaxEdges, in) match {
            case Some(Seq(rows)) =>
              (f.sparkSession.createDataFrame(rows.toSeq.asJava, in.schema),
                Regime.ResidentMaxEdges)
            case _ => (f, 0L)
          }
        }
      }
      val ds = dataset.resident
      // A local frame (the resident build's) is already computed: it is
      // read in place, not pinned, and its rows are counted with no job.
      val localEdges = Regime.localRows(ds.edges)
      val localNodes = Regime.localRows(ds.nodes).isDefined
      val driver = driverEligible && localEdges.isDefined && localNodes
      // the relational route reads nodes/edges many times over (three
      // iterative metadata passes, the randomization envelope, one
      // document per chromosome): pin both once so every pass is a
      // cache scan, not a re-run of the build lineage. The EDGE cache
      // materializes before the fan-out (it underlies most lanes, and
      // its row count routes the document writer); so does the NODES
      // cache — four lanes block on it, and under the concurrent region
      // the annotated-vertex build interleaves with every other lane's
      // stages (measured ~18 s of lane wall-clock vs ~2 s when it runs
      // with the whole box here).
      val edgesC = if (localEdges.isDefined) ds.edges
        else ds.edges.persist(StorageLevel.MEMORY_AND_DISK)
      val nodesC = if (localNodes) ds.nodes
        else ds.nodes.persist(StorageLevel.MEMORY_AND_DISK)
      // the symmetrized edge list is shared (CC + diameter both consume
      // it), persisted here so the concurrent lanes never race an
      // unpersist against each other's scans
      val sym = if (driver) None
        else Some(GraphOps.symmetrize(edgesC).persist(StorageLevel.MEMORY_AND_DISK))
      try {
        val nEdges = localEdges.getOrElse(edgesC.count())
        if (!localNodes) timings("nodesCache") { nodesC.count() }
        val lanes = sym.fold(residentLanes(ds, timings))(
          relationalLanes(ds, edgesC, _, outDir, timings))
        // the edge count is at hand: an edge set over the driver cutoff
        // takes the relational statistics without a fetch attempt
        val fFeat = fFeatIn.map(_.map { case (f, cut) =>
          timings("featuresMetadata") {
            MetadataJson.featuresMetadataJson(
              Chas.featuresMetadataSubnets(edgesC, f, nReplicates, seed,
                residentMaxEdges =
                  if (nEdges > Regime.ResidentMaxEdges) 0L else cut))
          }
        })
        // documents wait only on the chromosome list, not the other lanes
        val fDocs = lanes.chromosomes.map { all =>
          timings("chromosomeDocs") {
            val chrs = chromosomesToWrite.getOrElse(all)
            val positions = docPositions(docLayout, edgesC)
            if (distributedDocs.getOrElse(nEdges > DocStreamMaxEdges))
              CytoscapeJson.writeChromosomeDocumentLines(nodesC, edgesC, chrs,
                s"$outDir/chromosomes", positions)
            else
              CytoscapeJson.writeChromosomeDocuments(nodesC, edgesC, chrs,
                s"$outDir/chromosomes", positions)
          }
        }

        val (components, maxComponentPct) = await(lanes.components)
        MetadataJson.write(s"$outDir/metadata.json",
          MetadataJson.metadataJson(await(lanes.graphMetadata),
            components = components, maxComponentPct = maxComponentPct,
            diameter = await(lanes.diameter),
            transitivity = await(lanes.transitivity)))
        MetadataJson.write(s"$outDir/suggestions.json",
          MetadataJson.stringArrayJson(await(lanes.suggestions)))
        MetadataJson.write(s"$outDir/chromosomes.json",
          MetadataJson.stringArrayJson(await(lanes.chromosomes)))
        fFeat.foreach(f =>
          MetadataJson.write(s"$outDir/features_metadata.json", await(f)))
        await(fDocs)
      } finally {
        sym.foreach(_.unpersist(blocking = false))
        if (localEdges.isEmpty) edgesC.unpersist(blocking = false)
        if (!localNodes) nodesC.unpersist(blocking = false)
      }
    } finally {
      pool.shutdown()
      // publish the run's sub-component timings for the bench artifact;
      // chromosomeDocsWrite is the stream writer's pure file-IO time
      // (the render-vs-write split inside the chromosomeDocs lane —
      // zero when the distributed writer ran, whose IO is executor-side)
      lastTreeTimings = timings.asScala.toMap +
        ("chromosomeDocsWrite" ->
          graft.io.CytoscapeJson.lastStreamWriteIoSec)
    }
  }

  /** A tree write's metadata passes, each a concurrent lane: (component
    * count, largest-component share), the exact diameter, the
    * transitivity, the A5 row, the suggestions and the chromosome
    * list. */
  private final case class TreeLanes(
      components: scala.concurrent.Future[(Long, String)],
      diameter: scala.concurrent.Future[Long],
      transitivity: scala.concurrent.Future[Double],
      graphMetadata: scala.concurrent.Future[Row],
      suggestions: scala.concurrent.Future[Seq[String]],
      chromosomes: scala.concurrent.Future[Seq[String]])

  /** Per-lane wall-clock seconds, written by concurrent lanes. */
  private final class Timings
      extends java.util.concurrent.ConcurrentHashMap[String, Double] {
    def apply[T](lane: String)(f: => T): T = {
      val s = System.nanoTime(); val r = f
      put(lane, (System.nanoTime() - s) / 1e9)
      r
    }
  }

  /** The driver route's lanes over a resident dataset's local frames:
    * the columns they read, taken from the frames' rows in place (no
    * job), one symmetric CSR for the three graph passes, and
    * [[ResidentTree]] for the rest. */
  private def residentLanes(ds: BuiltDataset, lane: Timings)(
      implicit ec: scala.concurrent.ExecutionContext): TreeLanes = {
    import scala.concurrent.Future
    val Array(src, dst, edgeType) =
      Regime.localStrings(ds.edges, col("src"), col("dst"), col("type"))
    val Array(nodeType, names, chr) =
      Regime.localStrings(ds.nodes, col("type"), col("gene_names"), col("chr"))
    val fG = Future(lane("symmetrize") {
      LocalGraph.build(src.indices.iterator.flatMap(i =>
        Iterator((src(i), dst(i)), (dst(i), src(i)))))
    })
    TreeLanes(
      fG.map(g => lane("componentStats") {
        val (n, largest, total) = LocalGraph.componentStats(g)
        (n, ResidentTree.maxComponentPct(largest, total))
      }),
      fG.map(g => lane("diameter") { LocalGraph.diameterDriver(g) }),
      fG.map(g => lane("transitivity") {
        val (triangles, triads) = LocalGraph.triangleTriads(g)
        ResidentTree.transitivity(triangles, triads)
      }),
      Future(lane("graphMetadata") {
        ResidentTree.graphMetadata(nodeType, src, dst, edgeType) }),
      Future(lane("suggestions") {
        ResidentTree.suggestions(names) }),
      Future(lane("chromosomes") {
        ResidentTree.chromosomes(chr) }))
  }

  /** The relational route's lanes: Spark plans over the pinned edges,
    * the shared symmetrized frame `sym` and the dataset's members. */
  private def relationalLanes(ds: BuiltDataset, edges: DataFrame,
                              sym: DataFrame, outDir: String, lane: Timings)(
      implicit ec: scala.concurrent.ExecutionContext): TreeLanes = {
    import scala.concurrent.Future
    // the sym cache materializes INSIDE the lanes that first touch it
    // (concurrent first readers of one cached partition block on the
    // computing thread, they don't recompute)
    val fSym = Future(lane("symmetrize") { sym.count() })
    TreeLanes(
      fSym.map(nSym => lane("componentStats") {
        val r = GraphOps.componentStatsSym(sym, nSym).collect()(0)
        (r.getLong(0), r.getString(1))
      }),
      fSym.map(nSym => lane("diameter") {
        val r = GraphOps.diameterCertifiedSym(sym, nSym).collect()(0)
        // the certified path is exact in every regime since the
        // distributed iFUB escalation replaced the size refusal; this
        // surfacing stays as a safety net on the `exact` contract
        if (!r.getBoolean(r.fieldIndex("exact")))
          System.err.println(s"[graft] writeDatasetTree($outDir): diameter " +
            s"${r.getLong(0)} is an UNCERTIFIED lower bound (graph over " +
            "the exact-BFS escalation cap); metadata.json carries it as-is")
        r.getLong(0)
      }),
      Future(lane("transitivity") {
        val r = GraphOps.transitivity(edges).collect()(0)
        r.getDouble(r.fieldIndex("transitivity"))
      }),
      Future(lane("graphMetadata") { ds.graphMetadata.collect()(0) }),
      Future(lane("suggestions") {
        ds.suggestions.collect().map(_.getString(0)).toSeq }),
      Future(lane("chromosomes") {
        ds.chromosomes.collect().map(_.getString(0)).toSeq }))
  }

  /** The document writers' position source for `docLayout` (see
    * [[writeDatasetTree]]); "cose" lays out the documents of `edges`. */
  private def docPositions(docLayout: Option[String], edges: DataFrame)
      : graft.io.CytoscapeJson.DocPositions = {
    import graft.io.CytoscapeJson
    def chrOf(c: org.apache.spark.sql.Column) = split(c, "_").getItem(0)
    docLayout match {
      case None => CytoscapeJson.NoPositions
      // derives inside the writer from its own membership — no second
      // membership pass, no positions join
      case Some("grid") => CytoscapeJson.InlineGridPositions()
      case Some("cose") =>
        CytoscapeJson.FramePositions(
          Layout.cosePerDoc(CytoscapeJson.docMembers(edges),
            edges.select(explode(array_distinct(array(
                chrOf(col("src")), chrOf(col("dst"))))).as("doc"),
              col("src"), col("dst"))))
      case Some(other) =>
        throw new IllegalArgumentException(s"docLayout: $other")
    }
  }

  /** Sub-component wall-clock of the MOST RECENT [[writeDatasetTree]]
    * in this JVM (seconds per timed lane, plus `chromosomeDocsWrite` —
    * the driver stream writer's accumulated file-IO time, so
    * chromosomeDocs − chromosomeDocsWrite ≈ plan execution + render).
    * The bench scrapes this after each s11 rep so the artifact can
    * attribute an s11 swing to a named sub-component (r13 verdict #3)
    * instead of one opaque total. */
  @volatile private[graft] var lastTreeTimings: Map[String, Double] =
    Map.empty

  /** Incremental tree maintenance: rewrite ONLY the requested
    * chromosomes' documents in an existing tree — the 100 TB delta
    * shape (a new cell-type delta lands on two chromosomes; the other
    * documents and the iterative metadata passes don't re-run, the
    * reference's per-chromosome GNU-parallel fan-out re-run for just
    * the dirty chromosomes, pipeline.sh:96-118). The edge working set
    * first narrows to edges TOUCHING a requested chromosome (either
    * endpoint — exactly the both-endpoint F2 tagging the document
    * writers use), so member derivation, per-document layout, element
    * render and the sort are all sized by the delta's chromosomes,
    * not the dataset. Output bytes are IDENTICAL to what a full
    * [[writeDatasetTree]] writes for those documents (per-document
    * layouts depend only on the document's own members/edges —
    * asserted byte-for-byte in PipelineTreeSpec). A resident dataset
    * (local frames) with the grid or no layout and the stream writer
    * writes the requested documents in the driver with no job, as the
    * tree's driver route does. */
  def refreshChromosomeDocs(dataset: BuiltDataset, outDir: String,
                            chrs: Seq[String],
                            distributedDocs: Option[Boolean] = None,
                            docLayout: Option[String] = Some("grid")): Unit = {
    import graft.io.CytoscapeJson
    import org.apache.spark.storage.StorageLevel
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$outDir/chromosomes"))
    val ds = dataset.resident
    // regime default: FOLLOW THE STANDING TREE'S PHYSICAL FORM
    // before sizing the delta — writeDatasetTree routes on the
    // full-dataset edge count, so a tree built by the distributed
    // writer has chr<c>.json DIRECTORIES, and a delta refresh that
    // routed on its own (small) working set would replace one with a
    // single stream-written FILE. Both forms read back identically
    // (the logical-listing contract), but a silently mixed layout
    // surprises downstream tooling; explicit `distributedDocs`
    // still overrides.
    val standingDistributed = chrs.exists { c =>
      java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$outDir/chromosomes/chr$c.json")) }
    if (docLayout.forall(_ == "grid") &&
        !distributedDocs.getOrElse(standingDistributed) &&
        Regime.localRows(ds.edges).isDefined &&
        Regime.localRows(ds.nodes).isDefined) {
      // the driver writer reads only the requested documents' edges
      CytoscapeJson.writeChromosomeDocuments(ds.nodes, ds.edges, chrs,
        s"$outDir/chromosomes", docPositions(docLayout, ds.edges))
      return
    }
    def chrOf(c: org.apache.spark.sql.Column) = split(c, "_").getItem(0)
    // read twice below (count for the regime route + the write) and
    // up to twice more for positions: pin the narrowed set once
    val edgesT = ds.edges
      .filter(chrOf(col("src")).isin(chrs: _*) ||
              chrOf(col("dst")).isin(chrs: _*))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val positions = docPositions(docLayout, edgesT)
      if (distributedDocs.getOrElse(
            standingDistributed || edgesT.count() > DocStreamMaxEdges))
        CytoscapeJson.writeChromosomeDocumentLines(ds.nodes, edgesT, chrs,
          s"$outDir/chromosomes", positions)
      else
        CytoscapeJson.writeChromosomeDocuments(ds.nodes, edgesT, chrs,
          s"$outDir/chromosomes", positions)
    } finally edgesT.unpersist(blocking = false)
  }

  /** Interactive-search entry (reference §3.1): search the built
    * dataset, return the subnet nodes+edges ready for the JSON sink. */
  def searchDataset(ds: BuiltDataset, query: String,
                    ensembl2name: Option[DataFrame] = None,
                    expand: Long = 0L,
                    nearest: Boolean = false): Search.Subnet =
    Search.search(ds.nodes, ds.edges, ensembl2name, query, expand, nearest)
}
