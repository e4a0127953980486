package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end dataset-build composition mirroring the reference's main
  * flow (network_generator.R:40-290): load → threshold filter (F1) →
  * edge typing (J9) → chromosome / P-P slicing (F2/F3) → vertex build
  * (A1) → annotations (J2/J3/J4/J6) → simplify (G2) → degree (A4) →
  * metadata (A5/A9/A10) → snapshots (S9) / Cytoscape JSON (S10).
  *
  * One declarative plan per output — the reference's per-chromosome
  * process fan-out (pipeline.sh GNU parallel) collapses into Spark
  * partitioning; the chr1-task special-casing (whole-genome stats
  * computed only there) disappears because the full-DF aggregates are
  * computed once.
  */
object Pipeline {

  /** Everything the reference materializes per (organism, cell type)
    * dataset. All members are lazy plans — callers pay only for what
    * they write. */
  case class BuiltDataset(
      interactions: DataFrame, // post-threshold working set
      nodes: DataFrame,        // annotated vertex table
      edges: DataFrame,        // simplified, typed edge list with score
      degrees: DataFrame,      // A4 per-vertex degree
      graphMetadata: DataFrame,
      suggestions: DataFrame,
      chromosomes: DataFrame)

  /** Optional annotation inputs (each `None` skips that join, like the
    * reference's organism-specific branches). */
  case class Annotations(
      baitNames: Option[DataFrame] = None,     // J2  (Chr,Start,End,gene_id)
      aliasRanges: Option[DataFrame] = None,   // J3  (chr,start,end,gene_name)
      aliasNames: Option[DataFrame] = None,    // J4  (gene_name,ensembl_gene_id,alias)
      intronic: Option[DataFrame] = None)      // J6  (chr,start,end)

  /** Build one dataset from a raw interaction table (PCHiC/HiC shaped,
    * see Interactions). `chromosome` = Some("7") slices F2-style;
    * Some("PP") is the pseudo-chromosome (P-P edges only, F3). */
  def build(raw: DataFrame,
            threshold: Double = 5.0,
            annotations: Annotations = Annotations(),
            chromosome: Option[String] = None,
            hasNames: Boolean = true): BuiltDataset = {
    // F1 + F4: score threshold, MT drop — pushed to the scan by Catalyst.
    val working0 = Interactions.dropMT(
      Interactions.filterByThreshold(raw, threshold))
    // F2 chromosome slice (keeps inter-chromosomal edges touching chr).
    val working = chromosome match {
      case Some(c) if c != "PP" => Interactions.filterByChromosome(working0, c)
      case _                    => working0
    }

    // G1/G2 + J9: edges → simplify (first-wins by score then key — a
    // total order, deterministic under any partitioning) → bait typing.
    val rawEdges = Interactions.edges(working, Some(working.columns(11)))
      .select(col("src"), col("dst"), col("score"))
    val simplified = Interactions.simplifyBy(rawEdges,
      Seq(col("score"), col("src"), col("dst")))
    val typed0 = Interactions.addTypes(simplified)
    // F3: the PP pseudo-chromosome keeps only promoter-promoter edges.
    val typed = if (chromosome.contains("PP"))
      Interactions.filterPPOnly(typed0) else typed0

    // A1 vertex derivation + the annotation joins the reference applies
    // in network_generator.R:98-122 order: J2 bait names, J3 other-end
    // alias ranges, J4 promoter alias names, J6 intronic flags.
    val v0 = Interactions.vertices(working, hasNames)
    val v1 = annotations.baitNames.fold(v0)(Annotate.overwriteBaitNames(v0, _))
    val v2 = annotations.aliasRanges.fold(v1)(Annotate.annotateOtherEnds(v1, _))
    val v3 = annotations.aliasNames.fold(v2)(Annotate.annotatePromoters(v2, _))
    val nodes = annotations.intronic.fold(v3)(Annotate.flagIntronic(v3, _))

    val deg = GraphOps.degrees(typed)
    BuiltDataset(
      interactions = working,
      nodes = nodes,
      edges = typed,
      degrees = deg,
      graphMetadata = GraphOps.graphMetadata(nodes, typed),
      suggestions = Metadata.suggestions(nodes),
      chromosomes = Metadata.chromosomes(nodes))
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
    BuiltDataset(
      interactions = working,
      nodes = nodes,
      edges = typed,
      degrees = GraphOps.degrees(typed),
      graphMetadata = GraphOps.graphMetadata(nodes, typed),
      suggestions = Metadata.suggestions(nodes),
      chromosomes = Metadata.chromosomes(nodes))
  }

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
    * partitioning. Documents are BATCH-STREAMED
    * (CytoscapeJson.writeChromosomeDocuments): one tagged element plan
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
    */
  /** Edge-count cutoff for the tree's document writer: at or below,
    * one driver thread streams the sorted elements into single
    * chr<c>.json files (byte-golden layout); above, the executors
    * write per-document line directories. 20M edges ≈ several GB of
    * document JSON — around where one ~100 MB/s writer thread turns
    * into minutes of serial tail. */
  val DocStreamMaxEdges = 20000000L

  /** `docLayout` selects the per-document position enrichment
    * (pipeline.sh:109-118 / layout_api_enricher:62-77 — the reference
    * pipes every chr<c>.json through a layout and serves
    * `position{x,y}` on every node): "grid" (default) is the
    * whole-document closed form — one window pass, integer coordinates
    * (never exponent-formatted, the failure mode
    * chromosomes_positions_checker.sh:9-27 guards), affordable at any
    * tree scale; "cose" runs the per-document force layout
    * (Layout.cosePerDoc — interactively-sized documents only, the
    * reference's own enricher contract); None skips enrichment. */
  def writeDatasetTree(ds: BuiltDataset, outDir: String,
                       features: Option[DataFrame] = None,
                       nReplicates: Int = 3, seed: Long = 42L,
                       chromosomesToWrite: Option[Seq[String]] = None,
                       distributedDocs: Option[Boolean] = None,
                       docLayout: Option[String] = Some("grid")): Unit = {
    import graft.io.{CytoscapeJson, MetadataJson}
    import org.apache.spark.storage.StorageLevel
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$outDir/chromosomes"))
    val spark = ds.edges.sparkSession
    // the tree reads nodes/edges many times over (three iterative
    // metadata passes, the randomization envelope, one document per
    // chromosome): pin both once so every pass is a cache scan, not a
    // re-run of the build lineage — at any scale the tree write is
    // then O(passes · |dataset|) reads of a materialized frame. The
    // symmetrized edge list is ALSO shared (CC + diameter both consume
    // it), persisted here so the concurrent lanes below never race an
    // unpersist against each other's scans.
    val edgesC = ds.edges.persist(StorageLevel.MEMORY_AND_DISK)
    val nodesC = ds.nodes.persist(StorageLevel.MEMORY_AND_DISK)
    val sym = GraphOps.symmetrize(edgesC).persist(StorageLevel.MEMORY_AND_DISK)
    // per-lane wall-clock, recorded into [[lastTreeTimings]] (the s11
    // bench artifact's sub-component attribution — r13 verdict #3)
    val timings = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    def timed[T](lane: String)(f: => T): T = {
      val s = System.nanoTime(); val r = f
      timings.put(lane, (System.nanoTime() - s) / 1e9)
      r
    }
    // the passes are independent until the final JSON assembly — run
    // them as concurrent job lanes on the shared session. Iterative
    // lanes (CC, BFS sweeps, the swap chain) leave most cores idle
    // between their narrow stages; overlapping them fills the gaps, so
    // the tree costs ~max(lane) instead of Σ(lane). On a cluster the
    // same shape overlaps scheduler round-trips.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val conf = spark.conf
    val prevWidth = conf.get("spark.sql.shuffle.partitions")
    var pinned = false
    try {
      // materialize the EDGE cache once before the fan-out (its row
      // count sizes the pinned width; it also underlies sym and most
      // lanes) and pin one shuffle width for the whole region, sized
      // for the largest lane working set — the randomization chain at
      // 2 subnet tags × nReplicates × |E|. Per-chain narrowing
      // (GraphOps.withShuffleWidthFor) is a declared no-op under the
      // pin: lanes would otherwise race set/restore on the session
      // conf. The nodes and sym caches materialize INSIDE the lanes
      // that first touch them (concurrent first readers of one cached
      // partition block on the computing thread, they don't recompute).
      val nEdges = edgesC.count()
      prevWidth.toLongOption.foreach { pw =>
        // floor at the session's core parallelism: narrowing BELOW the
        // core count starves the whole concurrent-lane region (every
        // shuffle stage of every lane gets `width` tasks — measured
        // 51.5 s vs 37.0 s end-to-end at sf0.1 when the row-based
        // formula pinned 4 on a 32-core session). The row-based term
        // still bounds tiny-partition overhead when the session width
        // is far above the data (e.g. 200 default on a small dataset).
        val cores = spark.sparkContext.defaultParallelism.toLong
        val width = math.max(math.min(pw, cores),
          math.min(pw, 2L * nReplicates * nEdges / 50000L + 1))
        if (width < pw)
          conf.set("spark.sql.shuffle.partitions", width.toString)
        // the pin engages even when no narrowing applies: without it
        // the lanes would each run their own set/restore and race —
        // an interleaved restore can leave the session narrowed (or
        // AQE off) AFTER the tree write
        conf.set(GraphOps.WidthPinKey, "true")
        pinned = true
      }
      // materialize the NODES cache before the fan-out too: four lanes
      // (graphMetadata, suggestions, chromosomes, documents) block on
      // it, and under the concurrent region the annotated-vertex build
      // interleaves with every other lane's stages — measured ~18 s of
      // lane wall-clock vs ~2 s when it runs with the whole box here
      timed("nodesCache") { nodesC.count() }
      val fSym = Future(timed("symmetrize") { sym.count() })
      val fCs = fSym.map(nSym => timed("componentStats") {
        GraphOps.componentStatsSym(sym, nSym).collect()(0) })
      val fD = fSym.map(nSym => timed("diameter") {
        GraphOps.diameterCertifiedSym(sym, nSym).collect()(0) })
      val fT = Future(timed("transitivity") {
        GraphOps.transitivity(edgesC).collect()(0) })
      val fGm = Future(timed("graphMetadata") {
        ds.graphMetadata.collect()(0) })
      val fSugg = Future(timed("suggestions") {
        MetadataJson.stringArrayJson(ds.suggestions) })
      val fChrs = Future(timed("chromosomes") {
        ds.chromosomes.collect().map(_.getString(0)).toSeq })
      val fFeat = features.map(f => Future(timed("featuresMetadata") {
        MetadataJson.featuresMetadataJson(
          Chas.featuresMetadataSubnets(edgesC, f, nReplicates, seed)) }))
      // documents wait only on the chromosome list, not the other lanes
      val fDocs = fChrs.map { all =>
        timed("chromosomeDocs") {
          val chrs = chromosomesToWrite.getOrElse(all)
          val positions: CytoscapeJson.DocPositions = docLayout match {
            case None => CytoscapeJson.NoPositions
            case Some("grid") =>
              // derives inside the writer from its own membership
              // frame — no second membership pass, no positions join
              CytoscapeJson.InlineGridPositions()
            case Some("cose") =>
              CytoscapeJson.FramePositions(
                Layout.cosePerDoc(CytoscapeJson.docMembers(edgesC),
                  edgesC.select(explode(array_distinct(array(
                      split(col("src"), "_").getItem(0),
                      split(col("dst"), "_").getItem(0)))).as("doc"),
                    col("src"), col("dst"))))
            case Some(other) =>
              throw new IllegalArgumentException(s"docLayout: $other")
          }
          if (distributedDocs.getOrElse(nEdges > DocStreamMaxEdges))
            CytoscapeJson.writeChromosomeDocumentLines(nodesC, edgesC, chrs,
              s"$outDir/chromosomes", positions)
          else
            CytoscapeJson.writeChromosomeDocuments(nodesC, edgesC, chrs,
              s"$outDir/chromosomes", positions)
        }
      }

      val cs = Await.result(fCs, Duration.Inf)
      val dRow = Await.result(fD, Duration.Inf)
      // the certified path is exact in every regime since the
      // distributed iFUB escalation replaced the size refusal; this
      // surfacing stays as a safety net on the `exact` contract
      if (!dRow.getBoolean(dRow.fieldIndex("exact")))
        System.err.println(s"[graft] writeDatasetTree($outDir): diameter " +
          s"${dRow.getLong(0)} is an UNCERTIFIED lower bound (graph over " +
          "the exact-BFS escalation cap); metadata.json carries it as-is")
      val tRow = Await.result(fT, Duration.Inf)
      MetadataJson.write(s"$outDir/metadata.json",
        MetadataJson.metadataJson(Await.result(fGm, Duration.Inf),
          components = cs.getLong(0), maxComponentPct = cs.getString(1),
          diameter = dRow.getLong(0),
          transitivity = tRow.getDouble(tRow.fieldIndex("transitivity"))))
      MetadataJson.write(s"$outDir/suggestions.json",
        Await.result(fSugg, Duration.Inf))
      MetadataJson.write(s"$outDir/chromosomes.json",
        MetadataJson.stringArrayJson(Await.result(fChrs, Duration.Inf)))
      fFeat.foreach(f => MetadataJson.write(s"$outDir/features_metadata.json",
        Await.result(f, Duration.Inf)))
      Await.result(fDocs, Duration.Inf)
    } finally {
      pool.shutdown()
      if (pinned) {
        conf.set("spark.sql.shuffle.partitions", prevWidth)
        conf.unset(GraphOps.WidthPinKey)
      }
      sym.unpersist(blocking = false)
      edgesC.unpersist(blocking = false)
      nodesC.unpersist(blocking = false)
      // publish the run's sub-component timings for the bench artifact;
      // chromosomeDocsWrite is the stream writer's pure file-IO time
      // (the render-vs-write split inside the chromosomeDocs lane —
      // zero when the distributed writer ran, whose IO is executor-side)
      import scala.jdk.CollectionConverters._
      lastTreeTimings = timings.asScala.toMap +
        ("chromosomeDocsWrite" ->
          graft.io.CytoscapeJson.lastStreamWriteIoSec)
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
    * asserted byte-for-byte in PipelineTreeSpec). */
  def refreshChromosomeDocs(ds: BuiltDataset, outDir: String,
                            chrs: Seq[String],
                            distributedDocs: Option[Boolean] = None,
                            docLayout: Option[String] = Some("grid")): Unit = {
    import graft.io.CytoscapeJson
    import org.apache.spark.storage.StorageLevel
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$outDir/chromosomes"))
    def chrOf(c: org.apache.spark.sql.Column) = split(c, "_").getItem(0)
    // read twice below (count for the regime route + the write) and
    // up to twice more for positions: pin the narrowed set once
    val edgesT = ds.edges
      .filter(chrOf(col("src")).isin(chrs: _*) ||
              chrOf(col("dst")).isin(chrs: _*))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val positions: CytoscapeJson.DocPositions = docLayout match {
        case None => CytoscapeJson.NoPositions
        case Some("grid") => CytoscapeJson.InlineGridPositions()
        case Some("cose") =>
          CytoscapeJson.FramePositions(
            Layout.cosePerDoc(CytoscapeJson.docMembers(edgesT),
              edgesT.select(explode(array_distinct(array(
                  chrOf(col("src")), chrOf(col("dst"))))).as("doc"),
                col("src"), col("dst"))))
        case Some(other) =>
          throw new IllegalArgumentException(s"docLayout: $other")
      }
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
