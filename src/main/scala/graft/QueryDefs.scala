package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.ext._
import graft.streaming.EventStreams

/** The Spark side of the driver's correctness harness: one named query
  * per implemented operator from SURVEY.md §2 (+ the LLM-pipeline
  * extensions), each running over the driver's parquet tables through
  * the TestMapping domain mapping. Every column that the paired oracle
  * SQL (OracleSql.scala) produces is aliased to the SAME name and, where
  * the engines' natural integer widths differ, cast to long — the
  * driver hash-compares values after sorting columns by name.
  */
object QueryDefs {
  import TestMapping._

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- graph
  val graphQueries: Map[String, Q] = Map(
    "f1_threshold_filter" -> ((s, d) => filtered(s, d)),
    "f2_chromosome_filter" -> ((s, d) =>
      Interactions.filterByChromosome(filtered(s, d), "7")),
    "f3_pp_only" -> ((s, d) => Interactions.filterPPOnly(typed(s, d))),
    "a1_vertices" -> ((s, d) => verts(s, d)),
    "g2_simplify" -> ((s, d) => simplified(s, d)),
    "j9_edge_types" -> ((s, d) => typed(s, d)),
    "a4_degree" -> ((s, d) => GraphOps.degrees(simplified(s, d))),
    "a5_graph_metadata" -> ((s, d) =>
      GraphOps.graphMetadata(verts(s, d), typed(s, d))),
    "a6_components" -> ((s, d) => GraphOps.connectedComponents(thin(s, d))),
    // g9: fixed-point integer PageRank — node importance on the same
    // thin graph the other iterative lanes pin (10 power iterations,
    // all-LONG arithmetic, see GraphOps.pageRank)
    "g9_pagerank" -> ((s, d) => GraphOps.pageRank(thin(s, d))),
    // g10: deterministic synchronous label propagation — community
    // labels after exactly 4 rounds, (count DESC, label ASC) tie
    // order; the oracle macro-expands every round over the same
    // thin/tsym frames as a6/g9
    "g10_label_prop" -> ((s, d) =>
      GraphOps.labelPropagation(thin(s, d))),
    // INCREMENTAL CC: a deterministic ~10% edge batch folds into the
    // standing labeling via the contracted label graph; the oracle is
    // a6's FULL-rebuild SQL with no split in sight — the hash match IS
    // the incremental ≡ rebuild equivalence (d12/s9/r6 precedent,
    // graph leg)
    "a6_components_inc" -> ((s, d) => {
      // the thin frame feeds THREE consumers (standing CC + the batch
      // twice inside the fold) — checkpoint it once so the upstream
      // scan + simplify window runs once, not three times (§5)
      val e = thin(s, d).localCheckpoint(eager = true)
      val splitK = pmod(conv(substring(
        md5(concat(col("src"), lit("|"), col("dst"))), 1, 8), 16, 10)
        .cast("long"), lit(10L))
      GraphOps.incrementalComponents(
        GraphOps.connectedComponents(e.filter(splitK =!= 9)),
        e.filter(splitK === 9))
    }),
    // ...and the SERVED twin: the standing labeling memoized across
    // calls (bandIndexServed lifecycle; connectedComponents returns an
    // eagerly-checkpointed frame, so the memo holds concrete blocks,
    // not a lineage), so the median measures the FOLD alone —
    // batch-label resolution + contracted CC + relabel — the per-batch
    // cost a maintained deployment actually pays
    "a6_components_inc_served" -> ((s, d) => {
      val e = thin(s, d)
      val splitK = pmod(conv(substring(
        md5(concat(col("src"), lit("|"), col("dst"))), 1, 8), 16, 10)
        .cast("long"), lit(10L))
      GraphOps.incrementalComponents(
        memo("standing_labels", s, d)(
          GraphOps.connectedComponents(e.filter(splitK =!= 9))),
        e.filter(splitK === 9))
    }),
    "a6_component_stats" -> ((s, d) => GraphOps.componentStats(thin(s, d))),
    "a7_diameter" -> ((s, d) => GraphOps.diameterCertified(thin(s, d))),
    "a7_diameter_exact" -> ((s, d) => {
      // exact variant on the bounded P-P slice of the thin graph
      val t = thin(s, d)
      val pp = GraphOps.subsetPP(t, t.select(col("src").as("id")))
      // dump the pp-slice witness certificate alongside the scalar:
      // at sf0.01 the gate judges this lane by the all-pairs closure
      // (which never reads the fixture); at sf1 — where that closure
      // is quadratic-OOM — the override oracle re-runs one bounded
      // BFS per witness here (OracleSql.sf1Overrides)
      val srcs = GraphOps.diameterCertificate(pp)
        .collect().map(_.getString(0)).distinct.sorted
      val dir = java.nio.file.Paths.get(ReaderHarness.fixtureRoot,
        s"a7_exact_cert_${ReaderHarness.sfToken(d)}")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("sources.csv"),
        "source\n" + (if (srcs.isEmpty) ""
                      else srcs.mkString("\n") + "\n"))
      s.range(1).select(lit(GraphOps.diameterExact(pp)).as("diameter"))
    }),
    // the CERTIFICATE form of a7: per component the root pivot + the
    // diameter witness with their exact eccentricities. The witness
    // list is dumped as a fixture so the ORACLE re-runs one bounded
    // BFS per listed source (2 per component — never the all-pairs
    // closure that is quadratic-OOM at sf1) and independently
    // recomputes every ecc AND diameter = max(ecc).
    "a7_diameter_cert" -> ((s, d) => {
      import s.implicits._
      val rows = GraphOps.diameterCertificate(thin(s, d))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // the witness dump is scoped by SF dir (same token Verify
      // substitutes into the oracle SQL): a verify run at another SF
      // must not clobber this run's witnesses between its dump and its
      // oracle check — the round-10 sf1 gate caught exactly that race
      val dir = java.nio.file.Paths.get(ReaderHarness.fixtureRoot,
        s"a7_cert_${ReaderHarness.sfToken(d)}")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("sources.csv"),
        "source\n" + rows.map(_._1).distinct.sorted.mkString("\n") + "\n")
      rows.toSeq.toDF("source", "ecc", "diameter")
    }),
    "a8_transitivity" -> ((s, d) => GraphOps.transitivity(thin(s, d))),
    "a9_suggestions" -> ((s, d) => Metadata.suggestions(verts(s, d))),
    "a10_chromosomes" -> ((s, d) => Metadata.chromosomes(verts(s, d))),
    "a11_chas" -> ((s, d) =>
      Chas.chas(simplified(s, d), features(s, d))
        .select(col("feature"), Num.roundLike(col("chas"), 6).as("chas"))),
    "a12_abundance" -> ((s, d) =>
      Chas.abundance(features(s, d))
        .select(col("feature"), Num.roundLike(col("abundance"), 6).as("abundance"))),
    "a13_mean_degree_positives" -> ((s, d) =>
      Chas.meanDegreeOfPositives(features(s, d),
          GraphOps.degrees(simplified(s, d)))
        .select(col("feature"), Num.roundLike(col("mean_degree"), 6).as("mean_degree"))),
    "g6_randomize" -> ((s, d) =>
      Chas.randomize(simplified(s, d), nReplicates = 2, seed = 42L)
        .select(col("replica").cast("long").as("replica"),
          col("src"), col("dst"))),
    // forced-DISTRIBUTED regime pins (localMaxEdges=0 /
    // localMaxChainRows=0): identical semantics and oracle SQL as the
    // entries above, but exercising the pointer-jumping CC, the
    // sweep+iFUB diameter, and the windowed swap rounds — the code
    // paths that run at 100 TB, which the bounded-regime routing would
    // otherwise keep out of the driver's hash gate
    "a6_components_dist" -> ((s, d) =>
      GraphOps.connectedComponents(thin(s, d), localMaxEdges = 0L)),
    // the distributed power-iteration twin, pinned against g9's oracle
    "g9_pagerank_dist" -> ((s, d) =>
      GraphOps.pageRank(thin(s, d), localMaxEdges = 0L)),
    // localMaxEdges=0 forces past the one-task regime AND
    // broadcastMaxEdges=0 past the broadcast-CSR regime, so this entry
    // pins the pure DataFrame multi-source-BFS descent — the shape
    // that runs when the adjacency no longer fits a broadcast
    "a7_diameter_dist" -> ((s, d) =>
      GraphOps.diameterCertified(thin(s, d), localMaxEdges = 0L,
        broadcastMaxEdges = 0L)),
    "g6_randomize_dist" -> ((s, d) =>
      Chas.randomize(simplified(s, d), nReplicates = 2, seed = 42L,
          localMaxChainRows = 0L)
        .select(col("replica").cast("long").as("replica"),
          col("src"), col("dst"))),
    "a14_random_chas_envelope" -> ((s, d) =>
      Chas.randomChasEnvelope(simplified(s, d), features(s, d),
          nReplicates = 3, seed = 42L)
        .select(col("feature"), Num.roundLike(col("chas_min"), 6).as("chas_min"),
          Num.roundLike(col("chas_max"), 6).as("chas_max"))),
    "a15_feature_agg_mean" -> ((s, d) =>
      Chas.aggregateOntoFragments(verts(s, d), featureIntervals(s, d), "mean")
        .select(col("fragment"), col("feature"),
          Num.roundLike(col("value"), 6).as("value"))),
    "a15_feature_agg_min" -> ((s, d) =>
      Chas.aggregateOntoFragments(verts(s, d), featureIntervals(s, d), "min")
        .select(col("fragment"), col("feature"),
          Num.roundLike(col("value"), 6).as("value"))),
    "a15_feature_agg_max" -> ((s, d) =>
      Chas.aggregateOntoFragments(verts(s, d), featureIntervals(s, d), "max")
        .select(col("fragment"), col("feature"),
          Num.roundLike(col("value"), 6).as("value"))),
    "a15_feature_agg_proportion" -> ((s, d) =>
      Chas.aggregateOntoFragments(verts(s, d), featureIntervals(s, d),
          proportion = true)
        .select(col("fragment"), col("feature"),
          Num.roundLike(col("value"), 6).as("value"))),
    "a16_binarize" -> ((s, d) => Chas.binarize(features(s, d))),
    "a17_features_metadata" -> ((s, d) =>
      Chas.featuresMetadataSubnets(typed(s, d), features(s, d),
        nReplicates = 3, seed = 42L)),
    "j1_join_features" -> ((s, d) =>
      Annotate.joinFeatures(verts(s, d), features(s, d))),
    "j2_bait_names" -> ((s, d) =>
      Annotate.overwriteBaitNames(verts(s, d), baitNamesTable(s, d))),
    "j3_annotate_otherends" -> ((s, d) =>
      Annotate.annotateOtherEnds(verts(s, d), aliasRanges(s, d))),
    "j4_annotate_promoters" -> ((s, d) =>
      Annotate.annotatePromoters(verts(s, d), aliasTable(s, d))),
    "j4_annotate_promoters_mus" -> ((s, d) =>
      Annotate.annotatePromoters(verts(s, d),
        aliasTable(s, d)
          .withColumn("alias", concat(lit("MGI:"), col("alias"))),
        organism = "mus_musculus")),
    "j6_intronic_flag" -> ((s, d) =>
      Annotate.flagIntronic(verts(s, d), intronicRegions(s, d))),
    "j8_nearest_join" -> ((s, d) =>
      Intervals.nearestJoin(probes(s, d),
          verts(s, d).select("fragment", "chr", "start", "end"),
          rightPrefix = "v_")
        .select(col("probe_id"), col("v_fragment").as("nearest_fragment"),
          col("__dist").as("dist"))),
    "j10_ego_edges" -> ((s, d) => {
      import s.implicits._
      val seeds = Seq("7_7000_7999", "11_11000_11999").toDF("id")
      GraphOps.egoEdges(simplified(s, d), seeds)
    }),
    "j11_induced_subgraph" -> ((s, d) =>
      GraphOps.induced(simplified(s, d),
        verts(s, d).filter(col("chr") === "7")
          .select(col("fragment").as("id")))),
    "g5_subset_pp" -> ((s, d) => {
      val e = simplified(s, d)
      GraphOps.subsetPP(e, e.select(col("src").as("id")))
    }),
    "g5_subset_po" -> ((s, d) => {
      val e = simplified(s, d)
      GraphOps.subsetPO(e, e.select(col("src").as("id")))
        .select("src", "dst", "score")
    }),
    // Hi-C-mode pipeline (6-col input, file -> loadHiC -> buildHiC):
    // all-"O" vertices with empty names; unweighted "O-O" edges
    "g1_hic_vertices" -> ((s, d) => {
      val ds = Pipeline.buildHiC(
        graft.io.Readers.loadHiC(s, ReaderHarness.hicFixture(s, d)))
      ds.nodes
    }),
    "g1_hic_edges" -> ((s, d) => {
      val ds = Pipeline.buildHiC(
        graft.io.Readers.loadHiC(s, ReaderHarness.hicFixture(s, d)))
      ds.edges.select(col("src"), col("dst"), col("type"))
    }),
    "q1_fragment_lookup" -> ((s, d) =>
      Search.byFragmentId(verts(s, d), "7_7000_7999")),
    "q2_gene_search" -> ((s, d) => Search.byGeneName(verts(s, d), "S7")),
    "q2_gene_search_indexed" -> ((s, d) => {
      val v = verts(s, d)
      Search.byGeneNameIndexed(Search.buildNameIndex(v), v, "S7")
    }),
    "q4_gene_list_search_indexed" -> ((s, d) => {
      val v = verts(s, d)
      Search.byGeneListIndexed(Search.buildNameIndex(v), v,
        Seq("S5", "S6", "ALT5"))
    }),
    "q3_ensembl_search" -> ((s, d) =>
      Search.byEnsemblId(verts(s, d), Annotate.ensembl2name(aliasTable(s, d)),
        "ENSG00000000007")),
    "q4_gene_list_search" -> ((s, d) =>
      Search.byGeneList(verts(s, d), Seq("S5", "S6", "ALT5"))),
    "q5_range_search" -> ((s, d) =>
      Search.byRange(verts(s, d), "7:30000-60000", expand = 0L,
        nearest = false)),
    "q5_range_nearest" -> ((s, d) =>
      Search.byRange(verts(s, d), "7:700000-700100", expand = 0L,
        nearest = true)),
    "f7_scrub_aliases" -> ((s, d) =>
      Interactions.scrubNonAsciiString(
          Annotate.annotatePromoters(verts(s, d), aliasTable(s, d)), "alias")
        .select(col("fragment"), col("alias"))),
    // F6 empty-result guard (reference network_generator.R:88-92,
    // search_query.R:29-30): a guaranteed-miss search renders the
    // literal "{}" document instead of an empty element array
    "f6_empty_guard" -> ((s, d) => {
      val v = verts(s, d)
      val subnet = Search.subnetFromSeeds(v, simplified(s, d),
        Search.byGeneName(v, "NO_SUCH_GENE_XYZZY"), ego = true)
      s.range(1).select(
        lit(graft.io.CytoscapeJson.render(subnet.nodes, subnet.edges))
          .as("doc"))
    }),
    "s10_cytoscape_nodes" -> ((s, d) => {
      val v = verts(s, d)
      val seeds = Search.byGeneName(v, "S7")
      graft.io.CytoscapeJson.nodeElements(
        Search.subnetFromSeeds(v, simplified(s, d), seeds, ego = true).nodes)
    }),
    "q6_search_subnet" -> ((s, d) => {
      // the vertex table feeds BOTH the seed scan and the subnet node
      // join — materialize the build once (same lineage both times)
      val v = verts(s, d).localCheckpoint(eager = true)
      val seeds = Search.byGeneName(v, "S7")
      Search.subnetFromSeeds(v, simplified(s, d), seeds, ego = true).nodes
    }),
    // the INTERACTIVE serving path: S9 snapshot (nodes + edges) + the
    // persisted inverted name index, opened once per dataset (memoized
    // below), then Q2→J10→Q6 served from the pinned frames. Pinned to
    // the SAME oracle as q6_search_subnet — snapshot-served must be
    // row-identical to rebuilt-served. As a bench lane, the unmeasured
    // warm-up run pays the build+open, the median reflects the warm
    // serve.
    "q6_search_served" -> ((s, d) =>
      Serving.geneSearch(servedDataset(s, d), "S7").nodes),
    // the served Q5 RANGE form: Serving.search routes the range query
    // over the pinned snapshot frames (no ego expansion — the
    // reference keeps only overlapping vertices), pinned to the SAME
    // oracle as the rebuilt q5_range_search: snapshot-served must be
    // row-identical to rebuilt
    "q5_range_served" -> ((s, d) =>
      Serving.search(servedDataset(s, d), "7:30000-60000").nodes
        .select(col("fragment").as("id"))),
    // the same served range over the chromosome-PARTITIONED snapshot
    // layout: node scan prunes to chr=7/, edge scan to src_chr=7/ (the
    // partition-pruning serving shape — SearchSpec drives the scans'
    // own partitionFilters listing and asserts only the 7-partitions'
    // files survive). Same oracle as the full-scan q5_range_search:
    // pruning must not change a row.
    "q5_range_served_part" -> ((s, d) =>
      Serving.rangeSearch(partitionedSnapshot(s, d), "7:30000-60000").nodes
        .select(col("fragment").as("id"))),
    // the hot Q2→J10→Q6 gene path over the partitioned layout: index
    // seeds → seed-chromosome-pruned 1-hop over the adjacency-sharded
    // symmetric copy → hop-chromosome-pruned induced edges + node
    // attributes. Same oracle as the full-scan q6_search_subnet:
    // file-level pruning must not change a row.
    "q6_search_served_pruned" -> ((s, d) =>
      Serving.geneSearchPruned(partitionedSnapshot(s, d), "S7").nodes),
    // the snapshot BUILD as its own pinned lane (r10 verdict task #7:
    // q6_search_served's rep-1 spread smeared build cost into the
    // serve numbers): times Serving.buildSnapshot against a FRESH temp
    // dir every call — as a bench lane every rep pays the full
    // build+write — and pins the landed frames' row counts against the
    // pipeline oracle (a build that drops or duplicates rows fails).
    "q6_snapshot_build" -> ((s, d) => {
      import s.implicits._
      val dir = scratchDir("graft_snap_build")
      Serving.buildSnapshot(verts(s, d), simplified(s, d), dir)
      Seq(
        ("edges", graft.io.Readers.loadSnapshot(s, s"$dir/edges").count()),
        ("nodes", graft.io.Readers.loadSnapshot(s, s"$dir/nodes").count()))
        .toDF("part", "n")
    }),
    // S12 response memo-cache (backend.py:51-99) as batch semantics
    // over the REAL serving payload: a request batch with duplicate
    // keys and a pre-seeded memo — memo hits serve the STORED response
    // (provably not recomputed: the stored text differs from the
    // rendered document a recompute would produce), and the distinct
    // miss keys run the ACTUAL served search -> Cytoscape JSON
    // document render (Serving.geneSearchDocs) as one batched plan,
    // the full reference loop `if key not in shelve_cache: response =
    // run_R_pipeline(); cache[key] = response`
    "s12_response_cache" -> ((s, d) => {
      val reqs = table(s, d, "orders").select(
        col("o_orderkey").as("request_id"),
        concat(lit("S"), (col("o_orderkey") % 150).cast("string")).as("key"))
      val memo = reqs.filter(col("request_id") % 3 === 0)
        .select("key").distinct()
        .withColumn("response", concat(lit("memo:"), col("key")))
      val sd = servedDataset(s, d)
      val (resp, _) = Serving.serveCached(reqs, memo,
        misses => Serving.geneSearchDocs(sd, misses))
      resp
    }),
    // G8 layouts over the SERVED subnet (the reference's own layout
    // input: layout_enricher runs on search responses, never the whole
    // chromnet). grid is exact integer arithmetic; circle/concentric
    // micro-quantize away cross-engine trig ulps; cose is the
    // integer-micro FR iteration whose oracle macro-expands the same
    // 30 rounds as CTEs; _dist pins the distributed iteration twin to
    // the SAME oracle (regime bit-identity, like a6/g6).
    "g8_layout_grid" -> ((s, d) => {
      val (n, e) = subnetGraph(s, d); Layout.grid(n, e)
    }),
    "g8_layout_circle" -> ((s, d) => {
      val (n, e) = subnetGraph(s, d); Layout.circle(n, e)
    }),
    "g8_layout_concentric" -> ((s, d) => {
      val (n, e) = subnetGraph(s, d); Layout.concentric(n, e)
    }),
    "g8_layout_cose" -> ((s, d) => {
      val (n, e) = subnetGraph(s, d); Layout.cose(n, e)
    }),
    "g8_layout_cose_dist" -> ((s, d) => {
      val (n, e) = subnetGraph(s, d); Layout.coseDistributed(n, e)
    }),
    // the FAR-FIELD regime: grid-binned (Barnes-Hut style) repulsion —
    // O(n·levels) per iteration instead of the exact twins' O(n²) —
    // with its own macro-expanded hash oracle replaying the same
    // cells, interaction lists, and floor arithmetic (iters=12 keeps
    // the 12-stage expansion tractable in DuckDB)
    "g8_layout_cose_bh" -> ((s, d) => {
      val (n, e) = subnetGraph(s, d); Layout.coseBarnesHut(n, e)
    }),
    // the one-task regime of the SAME far-field iteration (hash-grid
    // interaction lists inside each component's task) — bit-identical
    // to the distributed regime by integer-sum order-freedom, pinned
    // to the SAME oracle (the a6/g6 regime-twin pattern)
    "g8_layout_cose_bh_local" -> ((s, d) => {
      val (n, e) = subnetGraph(s, d); Layout.coseLocalBarnesHut(n, e)
    }),
    // S11 end-to-end: the FULL per-dataset output tree (metadata +
    // suggestions + chromosomes + features_metadata + one streamed
    // Cytoscape document per chromosome) written to a temp dir; the
    // result row set proves the reference layout exists and every file
    // is non-empty. Thin threshold = the GoldenTree config (the
    // iterative metadata passes are part of what is being benched).
    "s11_tree_write" -> treeWrite(distributedDocs = None),
    // same tree, chromosome documents FORCED through the distributed
    // per-document-lines writer (the 100 TB bulk path) — hash-pinned
    // against the SAME oracle row set as s11 via the logical listing
    "s11_tree_write_dist" -> treeWrite(distributedDocs = Some(true)),
    // INCREMENTAL tree maintenance: rewrite only a delta's chromosome
    // documents (chr7 dirty, chrMT requested-but-absent — MT edges are
    // F4-dropped, so its document must keep the "{}" guard). `rendered`
    // is data-dependent: true iff the thin working set actually touches
    // the chromosome. PipelineTreeSpec asserts the refreshed bytes
    // equal a full tree write's; this entry pins the dirty-set listing.
    "s11_tree_refresh" -> ((s, d) => {
      import s.implicits._
      val out =
        scratchDir("graft_refresh")
      val ds = Pipeline.build(
        TestMapping.interactions(s, d),
        threshold = TestMapping.ThinScore)
      Pipeline.refreshChromosomeDocs(ds, out, Seq("7", "MT"))
      Seq("7", "MT").map { c =>
        val p = java.nio.file.Paths.get(s"$out/chromosomes/chr$c.json")
        (s"chromosomes/chr$c.json", java.nio.file.Files.size(p) > 2L)
      }.toDF("file", "rendered")
    }))

  /** SF-safe planted-copy id shift: max(doc_id)+1, so shifted ids can
    * never collide with real ids at any scale factor (a fixed 100000
    * collides once a SF yields doc_id >= 100000). One-row aggregate —
    * fixture construction only, never a data-plane collect. The
    * paired oracles compute the same shift as (SELECT max(doc_id)+1
    * FROM documents). */
  private def plantShift(docs: DataFrame): Long =
    docs.agg(max(col("doc_id")).cast("long")).head().getLong(0) + 1

  /** The served subnet as a bare (nodes(id), edges(src,dst)) graph —
    * the G8 layout input (reference layout_enricher's stdin). */
  /** The layout lanes' input subnet, derived over the SERVED snapshot
    * (the reference's own layout input: layout_enricher runs on search
    * responses — a layout request always follows a served search, never
    * a from-scratch pipeline rebuild). Row-identical to the rebuilt
    * derivation: q6_search_served is pinned to the SAME oracle as
    * q6_search_subnet, so swapping the source cannot change a layout
    * lane's rows — it removes the ~4 s per-call pipeline rebuild that
    * dominated every g8 lane (r14 verdict #5: the subnet build, not the
    * layout, was g8_layout_cose's cost). */
  private def subnetGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val sd = servedDataset(s, d)
    val sub = Search.subnetFromSeeds(sd.nodes, sd.edges,
      Search.byGeneNameIndexed(sd.index, sd.nodes, "S7"), ego = true)
    (sub.nodes.select(col("fragment").as("id")),
      sub.edges.select("src", "dst"))
  }

  /** The served-artifact memo: one artifact per (session, kind, sfDir),
    * built on the first lookup and kept for the JVM's lifetime — the
    * deployment shape, where a snapshot or index outlives the requests
    * it serves. The session object itself is in the key, and
    * SparkSession overrides neither equals nor hashCode, so two live
    * sessions never share an artifact. Keys are held strongly: every
    * cached DataFrame holds its session, so a weak key would never
    * clear. Each lookup, hit or miss, counts in [[memoLookups]];
    * graft.Bench leaves a lane's first run unmeasured exactly when
    * that run looked up the memo. */
  private val memoStore = new scala.collection.concurrent.TrieMap[
    (SparkSession, String, String), Any]
  private val memoLookupCount = new java.util.concurrent.atomic.AtomicLong

  private[graft] def memoLookups: Long = memoLookupCount.get

  private[graft] def memo[A](kind: String, s: SparkSession, d: String)(
      build: => A): A = {
    memoLookupCount.incrementAndGet()
    memoStore.getOrElseUpdate((s, kind, d), build).asInstanceOf[A]
  }

  /** The opened serving snapshot: the build+open cost is paid once;
    * every later q6_search_served call serves from the pinned frames. */
  private def servedDataset(s: SparkSession, d: String)
      : Serving.ServedDataset =
    memo("served", s, d) {
      val dir = scratchDir("graft_serving")
      Serving.buildSnapshot(verts(s, d), simplified(s, d), dir)
      Serving.open(s, dir)
    }

  /** The chromosome-partitioned snapshot: built once, served lazily —
    * nothing pinned, requests read their pruned partitions. */
  private def partitionedSnapshot(s: SparkSession, d: String)
      : Serving.PartitionedSnapshot =
    memo("served_part", s, d) {
      val dir = scratchDir("graft_serving_part")
      Serving.buildSnapshotPartitioned(verts(s, d), simplified(s, d), dir)
      Serving.openPartitioned(s, dir)
    }

  /** The 2000-cap NN-Descent graph, the serving lifecycle of the ANN
    * index: s8_graph_served measures the warm beam serve, while the
    * rebuild-per-call s8_graph_search lane is the cold shape. */
  private def knnGraphServed(s: SparkSession, d: String): DataFrame =
    memo("knn_graph", s, d) {
      Similarity.knnGraphNNDescent(
          table(s, d, "embeddings").filter(col("vec_id") < 2000))
        .localCheckpoint(eager = true)
    }

  /** Lane-scratch temp dir with CLEANUP (ADVICE r11: the served
    * artifacts and stream lanes leaked one temp tree per invocation):
    * every dir created here is recursively deleted on JVM exit, so
    * repeated gate/bench runs stop accumulating unbounded /tmp
    * garbage. In-run lifetime is unchanged — a served artifact lives in
    * the memo for the JVM's lifetime, and so does its dir. */
  private[graft] def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(f => try java.nio.file.Files.deleteIfExists(f)
            catch { case _: java.io.IOException => () })
      } catch { case scala.util.control.NonFatal(_) => () }))
    p.toString
  }

  /** The rag composition's build stage, shared by the cold lane and
    * the served twin: capped chunk corpus with dense retrieval-unit
    * ids, norm-filtered hashed chunk embeddings, and the NN-Descent
    * kNN graph over them. */
  private def ragBuild(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val chunks = Sampling.chunkDocs(
      table(s, d, "documents").filter(col("doc_id") < 400),
      chunkTokens = 16, overlap = 4)
    // dense retrieval-unit ids: lane plumbing over the CAPPED chunk
    // corpus (a global row_number is fine at 2k rows; a production
    // pipeline assigns ids at chunk-write time)
    val cid = chunks.withColumn("vec_id",
        (row_number().over(Window.orderBy(col("doc_id"),
          col("chunk_idx"))) - 1).cast("long"))
      .localCheckpoint(eager = true)
    // checkpoint BEFORE the norm filter so the filter (and the ANN
    // stages) scan concrete arrays instead of re-inlining the
    // hashEmbed projection per consumer (same reasoning as
    // t14_embed_knn)
    val vecs = TextOps.hashEmbed(cid, idCol = "vec_id",
        textCol = "chunk_text")
      .withColumnRenamed("doc_id", "vec_id")
      .localCheckpoint(eager = true)
      .filter(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double")) > 0)
    val g = Similarity.knnGraphNNDescent(vecs)
    (cid, vecs, g)
  }

  /** The rag composition's QUERY stage — beam-search candidate pool,
    * MMR diversification, provenance join — over whatever artifact
    * frames the caller hands it (freshly built or reopened). */
  private def ragServe(cid: DataFrame, vecs: DataFrame,
                       g: DataFrame): DataFrame = {
    val pool = Similarity.graphBeamSearch(vecs,
        g.select(col("src"), col("dst")), probeMax = 5, k = 20)
      .select(col("probe_id"), col("corpus_id"), col("cosine").as("rel"))
    val sel = Retrieval.mmrFromPool(
      vecs.select(col("vec_id").as("vid"),
        col("embedding").cast("array<double>").as("v")), pool, k = 10)
    sel.join(cid.select(col("vec_id").as("corpus_id"), col("doc_id"),
        col("chunk_idx")), Seq("corpus_id"))
      .select(col("probe_id"), col("rank"), col("corpus_id"),
        col("doc_id"), col("chunk_idx"), col("rel"), col("mmr"))
  }

  /** Persisted rag artifacts (chunk frame, chunk embeddings, kNN
    * graph) for the rag_served warm twin: built and written once, every
    * serve call reopens the parquet snapshots. */
  private def ragArtifactsServed(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    memo("rag", s, d) {
      val dir = scratchDir("graft_rag")
      val (cid, vecs, g) = ragBuild(s, d)
      cid.write.parquet(s"$dir/chunks")
      vecs.write.parquet(s"$dir/vecs")
      g.write.parquet(s"$dir/graph")
      (s.read.parquet(s"$dir/chunks"), s.read.parquet(s"$dir/vecs"),
        s.read.parquet(s"$dir/graph"))
    }

  /** The persisted LABELED IVF index: the attribute-carrying assigned
    * frame is written once and reopened from parquet; the
    * s13_filtered_served lane runs only the search stage over it. */
  private def filteredIvfServed(s: SparkSession, d: String): DataFrame =
    memo("filtered_ivf", s, d) {
      val emb = table(s, d, "embeddings")
      val dir = scratchDir("graft_ivf_attr")
      Similarity.writeIvfIndex(
        Similarity.ivfAssignAttr(emb, Similarity.codebook(emb, 16)), dir)
      Similarity.readIvfIndex(s, dir)
    }

  /** The centroid-PARTITIONED labeled index (one directory per coarse
    * bucket): the s13_filtered_served_pruned lane's scan lists only
    * the probed buckets' directories ([[partitionedSnapshot]]
    * precedent for the ANN leg). */
  private def filteredIvfPartServed(s: SparkSession, d: String): DataFrame =
    memo("filtered_ivf_part", s, d) {
      val emb = table(s, d, "embeddings")
      val dir = scratchDir("graft_ivf_attr_part")
      Similarity.writeIvfIndexPartitioned(
        Similarity.ivfAssignAttr(emb, Similarity.codebook(emb, 16)), dir)
      s.read.parquet(dir)
    }

  /** The persisted BM25 postings index: r1_bm25_served measures the
    * postings-scan serve over the reopened snapshot. */
  private def bm25IndexServed(s: SparkSession, d: String)
      : Retrieval.Bm25Index =
    memo("bm25", s, d) {
      val dir = scratchDir("graft_bm25")
      Retrieval.writeBm25Index(table(s, d, "documents"), dir)
      Retrieval.openBm25Index(s, dir)
    }

  /** Persisted BPE-vocabulary snapshot for the t16 served twin: the
    * 12-round train+write is paid once, the serve is the one-join
    * tokenize over the reopened vocab. */
  private def bpeVocabServed(s: SparkSession, d: String): DataFrame =
    memo("bpe_vocab", s, d) {
      val dir = scratchDir("graft_bpe")
      TextOps.writeBpeVocab(table(s, d, "documents"), dir)
      TextOps.openBpeVocab(s, dir)
    }

  /** Standing-corpus band-index snapshot for the d12 served twin: the
    * serve is the batch probe over the reopened snapshot. */
  private def bandIndexServed(s: SparkSession, d: String): DataFrame =
    memo("band_index", s, d) {
      val dir = scratchDir("graft_bands")
      Dedup.writeBandIndex(
        table(s, d, "documents").filter(col("doc_id") % 10 =!= 9), dir)
      Dedup.openBandIndex(s, dir)
    }

  /** Standing per-gram count index snapshot for the d16 ingest served
    * twin: the serve is the batch probe over the reopened snapshot. */
  private def gramIndexServed(s: SparkSession, d: String): DataFrame =
    memo("gram_index", s, d) {
      val dir = scratchDir("graft_grams")
      Dedup.writeGramIndex(
        table(s, d, "documents").filter(col("doc_id") % 10 =!= 9), dir)
      Dedup.readGramIndex(s, dir)
    }

  /** The s11 tree-write body, parameterized by the document-writer
    * regime. The listing reports LOGICAL tree files: the distributed
    * writer produces `chr<c>.json` as a directory of part files whose
    * concatenation is the stream writer's bytes (CytoscapeJsonSpec),
    * so part files inside a `*.json` directory collapse to their
    * document (nonempty = any payload byte) and Spark bookkeeping
    * files (`_SUCCESS`, `.crc`) are skipped — both regimes then
    * satisfy one oracle. */
  private def treeWrite(distributedDocs: Option[Boolean]): Q = (s, d) => {
    import s.implicits._
    val out = scratchDir("graft_tree")
    val ds = Pipeline.build(
      TestMapping.interactions(s, d),
      threshold = TestMapping.ThinScore,
      annotations = Pipeline.Annotations(
        baitNames = Some(baitNamesTable(s, d)),
        aliasRanges = Some(aliasRanges(s, d)),
        aliasNames = Some(aliasTable(s, d)),
        intronic = Some(intronicRegions(s, d))))
    Pipeline.writeDatasetTree(ds, out, features = Some(features(s, d)),
      distributedDocs = distributedDocs)
    val root = java.nio.file.Paths.get(out)
    val files = scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.walk(root).iterator()).asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => (root.relativize(p).toString, java.nio.file.Files.size(p)))
      .filterNot { case (rel, _) =>
        val leaf = rel.substring(rel.lastIndexOf('/') + 1)
        leaf.startsWith("_") || leaf.startsWith(".") }
      .map { case (rel, size) =>
        val cut = rel.indexOf(".json/")
        if (cut >= 0) (rel.substring(0, cut + 5), size) else (rel, size) }
      .toSeq.groupBy(_._1).view
      .mapValues(_.map(_._2).sum > 0L).toSeq.sorted
    files.toDF("file", "nonempty")
  }

  // ------------------------------------------------- LLM-pipeline ext
  val extQueries: Map[String, Q] = Map(
    "d1_exact_dedup" -> ((s, d) => Dedup.exact(table(s, d, "documents"))),
    "d2_minhash_lsh" -> ((s, d) =>
      Dedup.minhashCandidates(table(s, d, "documents"))),
    // d12: INCREMENTAL dedup — the last-decile ids (doc_id % 10 = 9)
    // arrive as a new batch, probed against the standing corpus's band
    // index; the oracle is the FULL d2 rebuild restricted to
    // batch-touching pairs, so the hash match IS the
    // incremental ≡ rebuild equivalence proof (s9_graph_compact /
    // r6_bm25_compacted precedent, dedup leg)
    "d12_incremental_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val standing = docs.filter(col("doc_id") % 10 =!= 9)
      Dedup.incrementalCandidates(standing,
        Dedup.lshBands(standing, "doc_id", "text"),
        docs.filter(col("doc_id") % 10 === 9))
    }),
    // ...and the SERVED twin: the standing band index read from a
    // parquet snapshot instead of recomputed — the warm per-batch
    // ingest shape (r1_bm25_served precedent). SAME oracle as d12.
    "d12_incremental_served" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.incrementalCandidates(
        docs.filter(col("doc_id") % 10 =!= 9), bandIndexServed(s, d),
        docs.filter(col("doc_id") % 10 === 9))
    }),
    "d3_simhash" -> ((s, d) =>
      Dedup.simhashDF(table(s, d, "documents"), "doc_id", "text", 16)),
    "d4_ngram_jaccard" -> ((s, d) => {
      // shingle sets bound per doc BEFORE the pair join (tokenize once
      // per doc, not once per shingle — see Dedup.shinglesOfTokens)
      val sh = table(s, d, "documents")
        .select(col("doc_id"),
          graft.ext.TextOps.tokens(lower(col("text"))).as("__toks"))
        .select(col("doc_id"),
          array_distinct(Dedup.shinglesOfTokens(col("__toks"))).as("__sh"))
      sh.as("a").join(sh.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          Num.roundLike(
            size(array_intersect(col("a.__sh"), col("b.__sh"))).cast("double") /
              size(array_union(col("a.__sh"), col("b.__sh"))).cast("double"), 4)
            .as("jaccard"))
    }),
    "d5_embedding_neardups" -> ((s, d) => {
      // bits grow with corpus size (target ~125 vectors/bucket/band):
      // fixed bits make in-bucket pair counts quadratic in the corpus.
      // max(4, …) keeps the gate SFs (≤2k vectors) on exactly the
      // 4-bit layout the DuckDB oracle replicates.
      val emb = table(s, d, "embeddings")
      // integer form of max(4, ceil(log2(n/125))): the float log ratio
      // lands on k + 1ulp at exact powers (observed for n/125 = 128),
      // which would silently diverge from the oracle's exact log2
      val m = (emb.count() + 124) / 125
      var bits = 4
      while ((1L << bits) < m) bits += 1
      Dedup.embeddingNearDups(emb, threshold = 0.3,
        bands = 4, bitsPerBand = bits, dim = 64)
    }),
    "s1_similarity_bruteforce" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // s7: NN-Descent approximate kNN graph — the FULL graph carries a
    // hash oracle (the oracle macro-expands the same deterministic
    // init + 4 rounds as CTEs), plus a brute-force recall certificate
    // on a bounded probe set (meets_target=TRUE pinned, like s2/s5).
    // The gate corpus is capped at 2000 vectors: each oracle round
    // scores ~corpus·cap²/2 pairs in DuckDB, intractable at sf1
    // uncapped (the a7/d5 oracle-tractability precedent); the engine
    // itself is linear-per-round and runs any corpus — the cap is an
    // oracle budget, not an engine limit.
    "s7_knn_graph" -> ((s, d) =>
      Similarity.knnGraphNNDescent(
        table(s, d, "embeddings").filter(col("vec_id") < 2000))),
    "s7_knn_recall" -> ((s, d) =>
      Similarity.knnGraphRecall(
        table(s, d, "embeddings").filter(col("vec_id") < 2000),
        probeMax = 20, target = 0.5)),
    // s8: beam search OVER the s7 graph — the graph-ANN serve path;
    // full-row hash oracle (the oracle replays graph build + 3
    // expand-score-prune steps) + recall cert vs brute force
    "s8_graph_search" -> ((s, d) => {
      val emb2 = table(s, d, "embeddings").filter(col("vec_id") < 2000)
      Similarity.graphBeamSearch(emb2,
        Similarity.knnGraphNNDescent(emb2)
          .select(col("src"), col("dst")), probeMax = 20)
    }),
    "s8_beam_recall" -> ((s, d) =>
      Similarity.beamSearchRecall(
        table(s, d, "embeddings").filter(col("vec_id") < 2000),
        probeMax = 20)),
    // s8 SERVED: beam search over the memoized pre-built graph — the
    // production amortization (build once, serve many); SAME oracle as
    // s8_graph_search (the deterministic build yields the same graph)
    "s8_graph_served" -> ((s, d) =>
      Similarity.graphBeamSearch(
        table(s, d, "embeddings").filter(col("vec_id") < 2000),
        knnGraphServed(s, d).select(col("src"), col("dst")),
        probeMax = 20)),
    // s9: incremental insert INTO the s7 graph — the index-maintenance
    // path (batch = every 17th id held out of the build, then
    // bulk-inserted); full-row hash oracle replays build + per-probe
    // beam + forward/reverse merge, plus a recall cert vs brute force
    "s9_graph_insert" -> ((s, d) => {
      val emb2 = table(s, d, "embeddings").filter(col("vec_id") < 2000)
      val base = emb2.filter(col("vec_id") % 17 =!= 0)
      Similarity.knnGraphInsert(base, Similarity.knnGraphNNDescent(base),
        emb2.filter(col("vec_id") % 17 === 0))
    }),
    "s9_insert_recall" -> ((s, d) => {
      val emb2 = table(s, d, "embeddings").filter(col("vec_id") < 2000)
      Similarity.knnGraphInsertRecall(
        emb2.filter(col("vec_id") % 17 =!= 0),
        emb2.filter(col("vec_id") % 17 === 0))
    }),
    // s9b: LSM compaction — folding streamed forward edges (the e12
    // output contract) into the standing graph must reproduce the
    // direct batch insert BIT-FOR-BIT, so this entry pins against the
    // SAME oracle SQL as s9_graph_insert
    "s9_graph_compact" -> ((s, d) => {
      val emb2 = table(s, d, "embeddings").filter(col("vec_id") < 2000)
      val base = emb2.filter(col("vec_id") % 17 =!= 0)
      val batch = emb2.filter(col("vec_id") % 17 === 0)
      val g = Similarity.knnGraphNNDescent(base)
      Similarity.knnGraphCompact(g,
        Similarity.knnGraphForwardEdges(base, g, batch))
    }),
    // s7c: NN-Descent refinement of the INSERTED graph — the
    // post-ingest maintenance round; full hash oracle + before/after
    // recall cert with the monotone `improved` flag pinned
    "s7_knn_refine" -> ((s, d) => {
      val emb2 = table(s, d, "embeddings").filter(col("vec_id") < 2000)
      val base = emb2.filter(col("vec_id") % 17 =!= 0)
      val batch = emb2.filter(col("vec_id") % 17 === 0)
      Similarity.knnGraphRefine(emb2,
        Similarity.knnGraphInsert(base,
          Similarity.knnGraphNNDescent(base), batch))
    }),
    "s7_refine_recall" -> ((s, d) => {
      val emb2 = table(s, d, "embeddings").filter(col("vec_id") < 2000)
      Similarity.knnGraphRefineRecall(
        emb2.filter(col("vec_id") % 17 =!= 0),
        emb2.filter(col("vec_id") % 17 === 0))
    }),
    // s10: delete + neighborhood repair (every 29th id removed); full
    // updated-graph hash oracle + the integrity/recall certificate
    "s10_graph_delete" -> ((s, d) => {
      val emb2 = table(s, d, "embeddings").filter(col("vec_id") < 2000)
      Similarity.knnGraphDelete(emb2,
        Similarity.knnGraphNNDescent(emb2),
        emb2.filter(col("vec_id") % 29 === 0).select("vec_id"))
    }),
    "s10_delete_cert" -> ((s, d) => {
      val emb2 = table(s, d, "embeddings").filter(col("vec_id") < 2000)
      Similarity.knnGraphDeleteCert(emb2,
        emb2.filter(col("vec_id") % 29 === 0).select("vec_id"))
    }),
    // r1/r2: retrieval over documents (+ aligned embeddings: vec_id and
    // doc_id share the corpus id space, TESTDATA.md) — BM25 lexical
    // top-20 per probe doc, and the RRF-fused hybrid of that leg with
    // the brute-force cosine leg
    "r1_bm25" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Retrieval.bm25(docs,
        docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text")))
    }),
    "r2_hybrid_rrf" -> ((s, d) =>
      Retrieval.hybridRrf(table(s, d, "documents"),
        table(s, d, "embeddings"), probeMax = 5)),
    // r5: hard-negative mining — dense top-20 minus the d2 LSH
    // near-dup candidate pairs (recall-biased positives: a lexical
    // near-match can never leak into the negatives); DPR-style
    // contrastive training data
    "r5_hard_negatives" -> ((s, d) =>
      Retrieval.hardNegatives(table(s, d, "documents"),
        table(s, d, "embeddings").filter(col("vec_id") < 2000),
        probeMax = 20)),
    // r4: RM3-style pseudo-relevance-feedback expansion — first-pass
    // feedback docs contribute top tf·idf terms, second pass ranks
    // with the expanded query; full row hash over the expanded top-20
    "r4_prf_expand" -> ((s, d) =>
      Retrieval.prfExpand(table(s, d, "documents"), probeMax = 5)),
    // r3: MMR diversified re-rank of the dense top-20 pool — the
    // retrieval stack's last stage; greedy selection macro-expanded in
    // the oracle, same 2000-vector cap as s7/s8
    "r3_mmr_rerank" -> ((s, d) =>
      Retrieval.mmrRerank(
        table(s, d, "embeddings").filter(col("vec_id") < 2000),
        probeMax = 20)),
    // ...and the all-relational greedy iteration against the SAME
    // oracle — the regime a pool too large for one task would take
    // (r11 verdict #1: the one-task twin is the serving path, this
    // pins the distributed iteration stays bit-identical to it)
    "r3_mmr_rerank_dist" -> ((s, d) =>
      Retrieval.mmrRerankDist(
        table(s, d, "embeddings").filter(col("vec_id") < 2000),
        probeMax = 20)),
    // t14: feature-hashing text embedding — documents become dense
    // vectors with no model; compared in exploded (doc, dim, val) form
    // (the m4 convention), 2000-doc cap like s7/s8
    "t14_hash_embed" -> ((s, d) =>
      TextOps.hashEmbed(
          table(s, d, "documents").filter(col("doc_id") < 2000))
        .select(col("doc_id"), posexplode(col("embedding")))
        .select(col("doc_id"), col("pos").cast("long").as("dim_i"),
          col("col").cast("double").as("val"))),
    // ...and the end-to-end proof the vectors are ANN-usable: raw text
    // -> hashed embedding -> brute-force cosine top-k, full row hash
    "t14_embed_knn" -> ((s, d) => {
      val docs = table(s, d, "documents").filter(col("doc_id") < 2000)
      // MATERIALIZE the embedding frame before any consumer: the
      // hashEmbed projection is a dim-lambda transform that Catalyst
      // inlines into every downstream expression (filter + both join
      // sides of the topK), multiplying its interpreted cost; at
      // scale embeddings are computed once and persisted, never
      // re-derived per consumer (T14Probe, COVERAGE.md: topK 3.4 s
      // inlined vs 0.33 s materialized on the same 2000 vectors).
      // positive-norm guard mirrors the oracle's HAVING: a zero vector
      // (bigram-less doc, or full sign cancellation) has no cosine
      val emb = TextOps.hashEmbed(docs).localCheckpoint(eager = true)
        .filter(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")) > 0)
      Similarity.bruteForceTopK(emb, emb.filter(col("doc_id") < 5),
          k = 5, idCol = "doc_id", vecCol = "embedding")
        .withColumn("rank", col("rank").cast("long"))
    }),
    // r1 SERVED: BM25 over the persisted postings snapshot — the
    // serving layer's warm path (the reference's saved-cache model,
    // search_query.R:14): the bench's warm-up run pays the index
    // build+write, the median is the postings-scan serve. SAME oracle
    // as r1_bm25 (identical ranking arithmetic over identical frames).
    "r1_bm25_served" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Retrieval.bm25Served(bm25IndexServed(s, d),
        docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text")))
    }),
    // r6: serve from the COMPACTED segment index — docPostings
    // segments → bm25FromSegments rebuild → the same ranking chain,
    // pinned against r1's oracle verbatim: the LSM compaction ≡ batch
    // build equality for the lexical leg (s9_graph_compact precedent;
    // e13 pins the segments themselves against the stream)
    "r6_bm25_compacted" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Retrieval.bm25Served(
        Retrieval.bm25FromSegments(Retrieval.docPostings(docs)),
        docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text")))
    }),
    // THE composed RAG loop as ONE pinned entry — every stage is an
    // already-certified operator, this lane proves they compose with
    // no seam: p8 overlapping chunks (16-token windows, stride 12 —
    // sized to the ~54-token corpus docs) → dense chunk ids →
    // t14 feature-hash embedding per chunk (zero-vector chunks
    // dropped, the t14_embed_knn guard) → s7 NN-Descent graph over
    // the chunk vectors → s8 beam serve for 5 probe chunks (the
    // final 20-beam is the candidate pool) → r3 MMR diversification
    // to the top-10 retrieval units, provenance (doc_id, chunk_idx)
    // joined back. The doc_id < 400 cap bounds the chunk corpus
    // (~2k vectors) for oracle tractability — the s7/s8 cap
    // precedent; every stage is the uncapped operator.
    "rag_retrieve" -> ((s, d) => {
      val (cid, vecs, g) = ragBuild(s, d)
      ragServe(cid, vecs, g)
    }),
    // the WARM twin: chunk frame + embeddings + kNN graph persisted
    // once (the bench's warm-up run), the serve is beam search + MMR
    // + provenance join over the reopened artifacts — the reference's
    // cache-serving model (backend.py:66-99) applied to the flagship
    // composition; SAME oracle as rag_retrieve (r11 verdict #5)
    "rag_served" -> ((s, d) => {
      val (cid, vecs, g) = ragArtifactsServed(s, d)
      ragServe(cid, vecs, g)
    }),
    // s8 AT-SCALE certificate: beamSearchRecall over the FULL
    // embeddings table — no 2000-vector cap, so at sf1 the engine
    // builds and serves the 20k-vector graph. Only the
    // oracle-computable columns are pinned (n_total from the oracle's
    // own k·n brute-force truth and the meets_target flag): the
    // oracle needs NO graph replay, which is what lets this entry run
    // uncapped at every SF — the engine does the full work and a
    // recall regression below target fails the hash gate at sf1
    // scale, closing the "at-scale proof is a probe, not a pinned
    // entry" gap (r10 verdict Missing #1). Uncapped-corpus serving
    // parameters (RecallProbe, COVERAGE.md): the DEFAULT graph degree 10
    // measures recall 0.275 at 20k isotropic vectors — distance
    // concentration starves the beam — while degree-20 edges +
    // beam 40 measure 0.710 (sf0.01: 1.000, sf0.1: 0.980), a 2.4x
    // margin over the pinned 0.3 target at linear extra cost.
    "s8_beam_recall_full" -> ((s, d) =>
      Similarity.beamSearchRecall(table(s, d, "embeddings"),
          probeMax = 20, target = 0.3, rounds = 6, beam = 40,
          steps = 7, seeds = 20, graphK = 20)
        .select(col("n_total"), col("meets_target"))),
    // SQ8: 8-bit scalar-quantized approximate scan (4× less index
    // traffic) feeding an exact re-rank of the 4k-deep candidate pool
    "s5_sq8_rerank" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 5), k = 10)
    }),
    // IVF-SQ8 composed: coarse prune to nProbe=4 of 16 buckets, SQ8
    // reconstruction scores only those buckets' codes, exact re-rank
    "s6_ivfsq8_rerank" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val cb = Similarity.codebook(emb, 16)
      Similarity.ivfSq8TopK(emb, cb, emb.filter(col("vec_id") < 5),
        k = 10, nProbe = 4)
    }),
    // SQ8 quality certificate: recall@10 of the quantized scan + exact
    // re-rank vs brute force over 20 probes; meets_target=TRUE pinned,
    // so quantization-noise regressions fail the hash gate
    "s5_sq8_recall" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.sq8Recall(emb, emb.filter(col("vec_id") < 20), k = 10)
    }),
    "s2_similarity_ivf" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val cb = Similarity.codebook(emb, 16)
      val assigned = Similarity.ivfAssign(emb, cb)
      Similarity.ivfTopK(assigned, cb, emb.filter(col("vec_id") < 5),
          k = 10, nProbe = 2)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ANN quality certificate: recall@10 of the bucket-pruned search vs
    // the exact scan, over 20 probes. The synthetic embeddings are
    // isotropic (no cluster structure), so recall ~ scanned fraction;
    // nProbe=14/16 meets the 0.9 target with margin at every SF — the
    // oracle pins meets_target=TRUE, so a recall regression fails the
    // hash gate, not just a log line.
    "s2_ivf_recall" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val cb = Similarity.codebook(emb, 16)
      Similarity.ivfRecall(emb, cb, emb.filter(col("vec_id") < 20),
        k = 10, nProbe = 14)
    }),
    // trained-codebook certificate: on clustered embeddings, 2 Lloyd
    // iterations concentrate each cluster into its own bucket, so the
    // 0.9 recall target holds at nProbe=2 of 16 (the sampled codebook
    // on isotropic data needs nProbe=14 — s2_ivf_recall above). Only
    // (n_total, meets_target) are pinned: the margin is wide (measured
    // ~1.0), so float-sum ordering in the centroid means cannot flip it
    "s2_ivf_recall_kmeans" -> ((s, d) => {
      val emb = clusteredEmbeddings(s, d)
      val cb = Similarity.codebookKMeans(emb, 16, iters = 2)
      Similarity.ivfRecall(emb, cb, emb.filter(col("vec_id") < 20),
          k = 10, nProbe = 2)
        .select(col("n_total"), col("meets_target"))
    }),
    // s13: attribute-constrained (filtered) ANN — top-k among the
    // probe's own label only, the tenant/language-scoped search every
    // production vector store serves. Pre-filter shape: the label
    // joins into the (centroid, attr) candidate key, so discarded
    // rows are never scored (Similarity.ivfTopKFiltered scaladoc).
    "s13_filtered_ivf" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val cb = Similarity.codebook(emb, 16)
      Similarity.ivfTopKFiltered(emb, cb, emb.filter(col("vec_id") < 5),
          k = 10, nProbe = 2)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // s13 SERVED: the search stage over the PERSISTED labeled index
    // (the bench's warm-up run pays assign+write; every call here reads
    // the reopened parquet snapshot) — same oracle as the cold lane
    // verbatim: a reopened index must be row-identical to a fresh one
    "s13_filtered_served" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val cb = Similarity.codebook(emb, 16)
      Similarity.ivfSearchFiltered(filteredIvfServed(s, d), cb,
          emb.filter(col("vec_id") < 5), k = 10, nProbe = 2)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // s13 PRUNED serve: the same search over the centroid-PARTITIONED
    // snapshot — probed bucket ids (bounded) push into the scan as a
    // literal isin, the FileIndex lists only those directories; same
    // oracle verbatim: directory pruning must not change a row
    "s13_filtered_served_pruned" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val cb = Similarity.codebook(emb, 16)
      Similarity.ivfSearchFilteredPruned(filteredIvfPartServed(s, d), cb,
          emb.filter(col("vec_id") < 5), k = 10, nProbe = 2)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // filtered-search certificate: recall vs the filtered EXACT scan
    // over 20 probes — the oracle recomputes both sides (s2_ivf_recall
    // shape), so the recall VALUE is pinned, not just the flag
    "s13_filtered_recall" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val cb = Similarity.codebook(emb, 16)
      Similarity.filteredIvfRecall(emb, cb, emb.filter(col("vec_id") < 20),
        k = 10, nProbe = 14, target = 0.7)
    }),
    "t1_token_stats" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        TextOps.fingerprint(col("text")).as("fingerprint"))),
    "t2_quality_score" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))),
    // the corpus DATA CARD: the per-(lang, source) dataset report
    // every curation run publishes — doc counts and corpus share,
    // token/char volume, mean quality — in ONE scan + one (lang,
    // source) agg + a 1-row total broadcast. All sums are exact longs
    // (quality rides as a 1e4 fixed-point int, the t15 trick), so the
    // card is bit-stable under any partitioning.
    "report_corpus" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val e = docs.select(col("lang"), col("source"), col("n_chars"),
        TextOps.tokenCount(col("text")).cast("long").as("__tok"),
        Num.roundLike(TextOps.qualityScore(col("text")) * 10000, 0)
          .cast("long").as("__q4"))
      val tot = e.agg(count(lit(1)).cast("double").as("__n"))
      e.groupBy("lang", "source").agg(
          count(lit(1)).as("n_docs"),
          sum("__tok").as("total_tokens"),
          sum("n_chars").as("total_chars"),
          sum("__q4").as("__qs"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_docs"),
          Num.roundLike(col("n_docs").cast("double") / col("__n"), 6)
            .as("share"),
          col("total_tokens"), col("total_chars"),
          Num.roundLike(col("__qs").cast("double") /
            (col("n_docs") * lit(10000)), 4).as("mean_quality"))
    }),
    "t3_lang_id" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextOps.langId(col("text")).as("lang"))),
    // tokens pre-bound through a Generate boundary so the rolling
    // window lambda slices an attribute instead of re-tokenizing per
    // window (the t14/chunkDocs lesson)
    "t4_fingerprints" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), col("text"),
          explode(array(TextOps.tokens(lower(col("text"))))).as("__t"))
        .select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fingerprint"),
          TextOps.rollingFingerprintOfTokens(col("__t"), 8)
            .as("rolling_fp"))),
    "t5_tfidf" -> ((s, d) => TextOps.tfidf(table(s, d, "documents"))),
    "t11_gopher_filter" -> ((s, d) =>
      TextOps.gopherFilter(table(s, d, "documents"))),
    "t6_repetition" -> ((s, d) =>
      TextOps.repetition(table(s, d, "documents"))),
    "d6_shared_substring" -> ((s, d) =>
      Dedup.sharedSubstring(table(s, d, "documents"))),
    "d7_dedup_clusters" -> ((s, d) =>
      Dedup.dedupClusters(table(s, d, "documents"))),
    // d14: the corpus REWRITE d7 only labels — near-dup clusters keep
    // their min-id member, everything else passes through; one
    // broadcast anti join over the corpus, text compared by digest
    "d14_fuzzy_rewrite" -> ((s, d) =>
      Dedup.fuzzyRewrite(table(s, d, "documents"))),
    // d16: CHARACTER-level exact duplicated-span detection (Lee et
    // al. 2022 span removal — the residual the block/CDC forms d9/d10
    // approximate; r11 verdict "What's missing" #3): maximal spans
    // whose every 40-gram repeats an earlier corpus position, gram
    // equality via md5 prefix-doubling (log2 L equi-join rounds — no
    // L-fold substring shuffle, no all-pairs), the oracle re-derives
    // every span from the ACTUAL substrings (a hash collision would
    // hash-mismatch, not hide)
    "d16_exact_spans" -> ((s, d) =>
      Dedup.exactSpans(table(s, d, "documents"))),
    // ...and its AT-SCALE regime (r12 verdict #2): per-gram stats via
    // groupBy(h)+join-back — partial-agg + AQE-skew-splittable, no
    // single-hot-key window task — same oracle (regime bit-identity)
    "d16_exact_spans_dist" -> ((s, d) =>
      Dedup.exactSpansDist(table(s, d, "documents"))),
    // ...and the corpus rewrite under those spans: duplicated chars
    // cut (canonical occurrences intact), survivors re-assembled
    "d16_exact_span_rewrite" -> ((s, d) =>
      Dedup.exactSpanRewrite(table(s, d, "documents"))),
    // ...and the INGEST form (the d12/d15 %10 split): the batch's
    // spans against the standing-so-far gram index, first-ingested
    // wins, per-batch cost bounded by the batch
    "d16_incremental_spans" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.incrementalSpans(docs.filter(col("doc_id") % 10 =!= 9),
        docs.filter(col("doc_id") % 10 === 9))
    }),
    // ...and its snapshot-served twin: the standing gram index
    // reopened from parquet, the serve is batch scan + probe join
    // only (same oracle — the d12_incremental_served precedent)
    "d16_incremental_served" -> ((s, d) =>
      Dedup.incrementalSpansIndexed(gramIndexServed(s, d),
        table(s, d, "documents").filter(col("doc_id") % 10 === 9))),
    // ...and the served twin's at-scale regime: batch-internal dup
    // stats via groupBy+join-back (no batch-key window), same oracle
    "d16_incremental_served_dist" -> ((s, d) =>
      Dedup.incrementalSpansIndexedDist(gramIndexServed(s, d),
        table(s, d, "documents").filter(col("doc_id") % 10 === 9))),
    // d15: d14's INGEST form — the %10 batch folds into the standing
    // corpus via the d12 incremental probe; standing-touching clusters
    // drop their batch members (first-ingested wins), pure-batch
    // clusters keep min id, the standing side is never rewritten
    "d15_incremental_rewrite" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val standing = docs.filter(col("doc_id") % 10 =!= 9)
      Dedup.incrementalRewrite(standing,
        Dedup.lshBands(standing, "doc_id", "text"),
        docs.filter(col("doc_id") % 10 === 9))
    }),
    "d8_semdedup" -> ((s, d) => {
      val corpus = dupEmbeddings(s, d)
      val cb = Similarity.codebook(table(s, d, "embeddings"), 16)
      Dedup.semDedup(corpus, cb, tau = 0.9)
    }),
    // 3-token blocks (not the production 16): the gate corpus's 31-word
    // vocabulary needs small blocks to exercise real cross-doc removal
    // (~19% of blocks dedup at B=3; at B=16 nothing repeats)
    "d9_block_dedup" -> ((s, d) =>
      Dedup.blockDedup(table(s, d, "documents"), blockTokens = 3)),
    // d13: the boilerplate rule d9 can't express — a block in ≥4
    // DISTINCT docs is dropped from ALL of them (first copy included);
    // minDf=4 removes ~3% of gate blocks, so both verdicts exercise
    "d13_boilerplate_dedup" -> ((s, d) =>
      Dedup.boilerplateDedup(table(s, d, "documents"))),
    "d11_intradoc_dedup" -> ((s, d) =>
      Dedup.intraDocDedup(table(s, d, "documents"))),
    // content-defined cuts at window=2 / divisor=4 (~3.7-token chunks,
    // the same granularity as d9's B=3 — ~45% of gate chunks dedup)
    "d10_cdc_dedup" -> ((s, d) =>
      Dedup.cdcDedup(table(s, d, "documents"))),
    "p1_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(table(s, d, "documents"))),
    // p12: Efraimidis-Spirakis weighted sampling — n_chars-weighted
    // top-50 by deterministic -ln(u)/w priority, TakeOrdered plan
    "p12_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(table(s, d, "documents"))),
    "p5_leak_safe_split" -> ((s, d) =>
      Sampling.leakSafeSplit(table(s, d, "documents"))),
    "p6_dsir_weights" -> ((s, d) =>
      Sampling.dsirWeights(table(s, d, "documents"))),
    // cluster-balanced mixture: the s2 sampled-codebook assignment
    // feeding the p3 share/temp-weight aggregation
    "p7_cluster_mixture" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Sampling.clusterMixture(emb, Similarity.codebook(emb, 16))
    }),
    "p2_length_quartiles" -> ((s, d) =>
      Sampling.lengthQuartiles(table(s, d, "documents"))),
    "p3_mixture_weights" -> ((s, d) =>
      Sampling.mixtureWeights(table(s, d, "documents"))),
    "p4_pack_sequences" -> ((s, d) =>
      Sampling.packSequences(table(s, d, "documents"))),
    // p8: overlapping-window chunking — the RAG context-prep step
    // (per-doc provenance preserved, unlike p4's concat packing);
    // map-only, full chunk-text row hash
    "p8_chunk_docs" -> ((s, d) =>
      Sampling.chunkDocs(table(s, d, "documents"))),
    // p9: deterministic training-order shuffle → (shard, pos) — the
    // epoch-reproducible shard materialization; one balanced window
    // shuffle, full row hash
    "p9_shard_shuffle" -> ((s, d) =>
      Sampling.shardShuffle(table(s, d, "documents"))),
    // p10: materialize the mixture p3 prescribes — temperature weights
    // rescaled ×2.5 so the gate exercises floor≥1 repeats AND the
    // fractional keyed-uniform copy on real data; broadcast join +
    // map-only posexplode, full copy-row hash
    "p10_epoch_upsample" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Sampling.epochUpsample(docs,
        Sampling.mixtureWeights(docs)
          .select(col("source"), (col("temp_weight") * 2.5).as("weight")))
    }),
    // v2: the diff DRIVES an index refresh — stale band rows dropped,
    // fresh ones appended from the new snapshot's text; the oracle is
    // the e15 band SQL over the WHOLE new snapshot, so the hash match
    // proves refresh ≡ rebuild (per-refresh work scales with the
    // delta, never the corpus)
    "v2_index_refresh" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val old = docs.filter(col("doc_id") % 7 =!= 3)
      val nw = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Versioning.refreshBandIndex(
          Dedup.lshBands(old, "doc_id", "text"),
          Versioning.corpusDiff(old, nw), nw)
        .select(col("doc").as("doc_id"),
          col("band").cast("long").as("band"), col("band_hash"))
    }),
    // v1: corpus snapshot diff — the between-runs delta (added /
    // removed / changed) driving incremental re-embedding/re-deduping;
    // fixture: old drops the %7=3 ids, new drops %11=0 and rewrites
    // the %5=0 texts
    "v1_corpus_diff" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Versioning.corpusDiff(
        docs.filter(col("doc_id") % 7 =!= 3),
        docs.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text")))
    }),
    "t9_bigram_lm" -> ((s, d) =>
      TextOps.bigramCounts(table(s, d, "documents"))),
    "t10_lm_crossentropy" -> ((s, d) =>
      TextOps.lmCrossEntropy(table(s, d, "documents"))),
    "t12_perplexity_buckets" -> ((s, d) =>
      TextOps.perplexityBuckets(table(s, d, "documents"))),
    // t15: MODEL-BASED quality filter — multinomial NB trained on the
    // %3 seed split labeled by the t2 heuristic at the 0.72
    // corpus-median cut, applied to every document; scores are exact
    // fixed-point longs (the t10 argument), so labels and margins are
    // hash-pinned, not thresholded doubles
    "t15_nb_quality" -> ((s, d) =>
      TextOps.nbQualityClassifier(table(s, d, "documents"))),
    // t17: corpus-novelty fraction per doc (unique-shingle share —
    // the dual of the t5/t6 repetition signals)
    "t17_novelty" -> ((s, d) =>
      TextOps.noveltyScore(table(s, d, "documents"))),
    // t16: TRUE BPE induction (12 merge rounds, vocab-frame training,
    // merge = one string replace — see TextOps.bpeTrain) + the corpus
    // tokenized under the learned vocabulary
    "t16_bpe_train" -> ((s, d) =>
      TextOps.bpeTrain(table(s, d, "documents"))),
    // ...and the relational per-round loop forced past the one-task
    // trainer regime, on the SAME oracle (r11 verdict #4: BpeLocal is
    // the realistic-vocab path — 1 job instead of 1 per merge — and
    // this pin keeps the distributed fallback bit-identical to it)
    "t16_bpe_train_dist" -> ((s, d) =>
      TextOps.bpeTrainDist(table(s, d, "documents"))),
    // t16 at REALISTIC vocab scale (r12 verdict #5): 448 merges over
    // the trigram-derived corpus (tens of thousands of distinct words
    // — the 31-word natural vocab exhausts at ~107 merges), certified
    // by the same macro-expanded DuckDB replay as the 12-round lane.
    // 448 is the DuckDB binder-depth ceiling (OracleSql.Bpe448Rounds),
    // 37x the gate lane and far past where the one-job-per-merge
    // relational regime stops being a plan; the 32k-merge evidence
    // is BpeScaleProbe's (COVERAGE.md).
    "t16_bpe_train_448" -> ((s, d) =>
      TextOps.bpeTrain(TextOps.trigramDocs(table(s, d, "documents")),
        rounds = 448)),
    "t16_bpe_tokenize" -> ((s, d) =>
      TextOps.bpeTokenize(table(s, d, "documents"))),
    // p11: the composed pretraining path — t16 tokenizer feeding p4's
    // packing window, pinned as one seam-free lane
    "p11_bpe_pack" -> ((s, d) =>
      Sampling.bpePack(table(s, d, "documents"))),
    // t16 served: tokenize from the persisted vocab snapshot — same
    // oracle as the cold lane (r1_bm25_served precedent)
    "t16_bpe_served" -> ((s, d) =>
      TextOps.bpeTokenizeServed(table(s, d, "documents"),
        bpeVocabServed(s, d))),
    // the END-TO-END curation pipeline as one pinned lane: t15 NB
    // filter → d13 boilerplate scrub → t16 BPE retrained on the
    // curated text → p11 pack (see Sampling.curateCorpus)
    "curate_corpus" -> ((s, d) =>
      Sampling.curateCorpus(table(s, d, "documents"))),
    // Bloom-filter decontamination over the same t8 bench split; the
    // relational filter is deterministic arithmetic, so hits AND false
    // positives hash-match the oracle
    "t13_bloom_decontaminate" -> ((s, d) => {
      val docs = table(s, d, "documents")
      TextOps.bloomDecontaminate(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0))
    }),
    // PQ code search: 8 subspaces × 16 centroids over the 64-dim
    // embeddings; ADC scores probes against 4-bit codes only. The
    // fixed-point distance makes every rank key an exact long, so the
    // full top-10 (ids AND distances) is oracle-pinned.
    "s3_similarity_pq" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val pcb = Similarity.pqCodebook(emb, m = 8, ks = 16, dim = 64)
        .localCheckpoint(eager = true) // 1 row; one sample scan, not per-consumer
      val codes = Similarity.pqAssign(emb, pcb, m = 8, ks = 16, dim = 64)
      Similarity.pqTopK(codes, pcb, emb.filter(col("vec_id") < 5),
          k = 10, m = 8, ks = 16, dim = 64)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ADC quality certificate: recall@10 of the code-only search vs
    // the exact L2 scan over 20 probes. The isotropic synthetic
    // embeddings are the distance-concentration WORST case for any
    // quantizer (neighbor gaps ≪ quantization distortion), so the
    // honest target is 0.1 (measured 0.125–0.17 across SFs, vs
    // ~10/n_corpus for a random ranking); the clustered certificate
    // below shows the same codes at 0.95+ when structure exists.
    "s3_pq_recall" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val pcb = Similarity.pqCodebook(emb, m = 8, ks = 16, dim = 64)
        .localCheckpoint(eager = true) // 1 row; one sample scan, not per-consumer
      Similarity.pqRecall(emb, pcb, emb.filter(col("vec_id") < 20),
        k = 10, target = 0.1, m = 8, ks = 16, dim = 64)
    }),
    // Structured-data certificate: on the 16-cluster embeddings
    // (TestMapping.clusteredEmbeddings, cluster = vec_id % 16), the
    // ADC top-10 must come from the probe's own cluster — the property
    // PQ codes exist to preserve (within-cluster ORDER is 0.25-noise
    // by construction, so same-cluster precision is the meaningful
    // metric; random baseline 1/16 = 0.0625). Measured 0.985/0.95/
    // 0.795 at sf0.001/0.01/0.1; pinned ≥ 0.7. Constant-pin oracle
    // like s2_ivf_recall_kmeans: only (n_total, meets_target).
    "s3_pq_precision_clustered" -> ((s, d) => {
      val cl = clusteredEmbeddings(s, d)
      val pcb = Similarity.pqCodebook(cl, m = 8, ks = 16, dim = 64)
        .localCheckpoint(eager = true) // 1 row; one sample scan, not per-consumer
      Similarity.pqTopK(Similarity.pqAssign(cl, pcb), pcb,
          cl.filter(col("vec_id") < 20), k = 10)
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("probe_id") % 16 === col("corpus_id") % 16, 1)
            .otherwise(0)).as("__same"))
        .select(col("n_total"),
          (col("__same") / col("n_total") >= 0.7).as("meets_target"))
    }),
    // Trained-sub-codebook certificate: Lloyd-refined PQ codebooks
    // must not lose to the md5 sample on the SAME corpus and probes —
    // the scale-stable comparative pin (absolute recall@10 on
    // isotropic data decays with corpus density: sampled
    // 0.14/0.17/0.125/0.04 vs trained 0.185/0.27/0.175/0.11 at
    // sf0.001/0.01/0.1/sf1 — training lifts 1.3–2.75× everywhere, and
    // the 0.05 floor holds at every SF with ≥2× margin). Constant-pin
    // oracle: (n_total, trained_ge_sampled, trained_meets_floor).
    "s3_pq_recall_trained" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 20)
      val sampled = Similarity.pqRecall(emb,
          Similarity.pqCodebook(emb, m = 8, ks = 16, dim = 64),
          probes, k = 10, target = 0.05)
        .select(col("recall").as("__sampled"))
      Similarity.pqRecall(emb,
          Similarity.pqCodebookKMeans(emb, m = 8, ks = 16, dim = 64,
            iters = 2),
          probes, k = 10, target = 0.05)
        .crossJoin(broadcast(sampled))
        .select(col("n_total"),
          (col("recall") >= col("__sampled")).as("trained_ge_sampled"),
          col("meets_target").as("trained_meets_floor"))
    }),
    // IVF-PQ composition certificate: coarse k-means buckets prune the
    // corpus (nProbe=2 of 16), ADC scores only the pruned codes — the
    // billion-scale ANN architecture end-to-end. Same-cluster
    // precision@10 on the 16-cluster embeddings, target 0.7 (measured
    // 0.985/0.975/0.855 at sf0.001/0.01/0.1 — pruning IMPROVES on
    // plain PQ at scale by removing cross-cluster distractors).
    // Constant-pin oracle like the other trained-codebook certificates.
    "s4_ivfpq_precision" -> ((s, d) => {
      val cl = clusteredEmbeddings(s, d)
      val cb = Similarity.codebookKMeans(cl, 16, iters = 2)
      val pcb = Similarity.pqCodebook(cl, m = 8, ks = 16, dim = 64)
        .localCheckpoint(eager = true) // 1 row; one sample scan, not per-consumer
      Similarity.ivfPqTopK(Similarity.buildIvfPqIndex(cl, cb, pcb),
          cb, pcb, cl.filter(col("vec_id") < 20), k = 10, nProbe = 2)
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("probe_id") % 16 === col("corpus_id") % 16, 1)
            .otherwise(0)).as("__same"))
        .select(col("n_total"),
          (col("__same") / col("n_total") >= 0.7).as("meets_target"))
    }),
    // IVFADC residual-encoding certificate: PQ codes encode the vector
    // MINUS its coarse centroid (residual-trained sub-codebooks), so
    // the 4-byte budget covers only the within-cluster offset — the
    // recall lift Jégou et al. report for IVFADC. Pinned at the same
    // 0.855 the PLAIN IVF-PQ lane bottoms out at (sf0.1), i.e. the
    // residual path must be at least as precise as plain IVF-PQ's
    // worst measured point, at equal nProbe.
    "s4_ivfpq_residual" -> ((s, d) => {
      val cl = clusteredEmbeddings(s, d)
      val cb = Similarity.codebookKMeans(cl, 16, iters = 2)
        .localCheckpoint(eager = true) // k rows; shared by build + probe
      val pcb = Similarity.pqResidualCodebook(cl, cb, m = 8, ks = 16,
        dim = 64, iters = 2) // already checkpointed per iteration
      Similarity.ivfAdcTopK(
          Similarity.buildIvfAdcIndex(cl, cb, pcb), cb, pcb,
          cl.filter(col("vec_id") < 20), k = 10, nProbe = 2)
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("probe_id") % 16 === col("corpus_id") % 16, 1)
            .otherwise(0)).as("__same"))
        .select(col("n_total"),
          (col("__same") / col("n_total") >= 0.855).as("meets_target"))
    }),
    // The synthetic corpus is digit-free, so the scrub is exercised on
    // deterministically planted PII (same construction in the oracle):
    // every doc gains an e-mail + an IPv4, every third a phone number.
    "t7_pii_scrub" -> ((s, d) => {
      val docs = table(s, d, "documents")
      TextOps.piiScrub(docs.select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail"), (col("doc_id") % 7).cast("string"),
          lit(".com via 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), ((col("doc_id") * 7) % 256).cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" call 555-867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text")))
    }),
    // Held-out set = doc_id ≡ 0 (mod 37); the generator's planted
    // near-dups give the overlap real signal across the split.
    "t8_decontaminate" -> ((s, d) => {
      val docs = table(s, d, "documents")
      TextOps.decontaminate(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0))
    }),
    "e1_sessionize" -> ((s, d) =>
      EventStreams.sessionizeBatch(events(s, d))
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("session_start"), col("session_end"), col("session_value"))),
    // w-family: as-of join + mergeable-sketch certificates
    "w1_asof_join" -> ((s, d) => EventStreams.asofJoinBatch(events(s, d))),
    "w2_hll_distinct" -> ((s, d) => Sketches.hllDistinctCert(events(s, d))),
    "w3_quantile_cert" -> ((s, d) =>
      Sketches.quantileCert(table(s, d, "lineitem"), "l_quantity",
        Seq(0.25, 0.5, 0.75, 0.9))),
    "w4_cms_heavy_hitters" -> ((s, d) =>
      Sketches.cmsHeavyHitters(table(s, d, "documents"))),
    "e3_stream_sessionize" -> ((s, d) => {
      val raw = table(s, d, "events").schema
      EventStreams.sessionizeStreamFromParquet(s, s"$d/events.parquet", raw,
          queryName = "e3_sessions_" + math.abs(d.hashCode).toString)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), Num.roundLike(col("value"), 4).as("value"))
    }),
    "e2_windowed_counts" -> ((s, d) =>
      EventStreams.windowedCounts(events(s, d), "1 hour",
        watermark = None)),
    "e2_stream_windowed" -> ((s, d) => {
      val raw = table(s, d, "events").schema
      EventStreams.windowedCountsStreamFromParquet(s, s"$d/events.parquet",
        raw, queryName = "e2_windows_" + math.abs(d.hashCode).toString)
    }),
    // streaming exact-dedup state operator; emits the order-independent
    // distinct key set, so the batch DISTINCT oracle pins it
    "e4_stream_dedup" -> ((s, d) => {
      val raw = table(s, d, "documents").schema
      EventStreams.dedupStreamFromParquet(s, s"$d/documents.parquet",
        raw, queryName = "e4_dedup_" + math.abs(d.hashCode).toString)
    }),
    // stateless streaming admission filter; emitted row set is
    // order-independent, so the batch filter is the exact oracle
    "e5_stream_quality_filter" -> ((s, d) => {
      val raw = table(s, d, "documents").schema
      EventStreams.qualityFilterStreamFromParquet(s,
        s"$d/documents.parquet", raw,
        queryName = "e5_qf_" + math.abs(d.hashCode).toString)
    }),
    // streaming sampling admission: stratifiedSample's pure
    // hash-of-key decision applied at ingest; stateless, order-
    // independent row set, so p1's batch SQL is the exact oracle
    "e8_stream_sample" -> ((s, d) => {
      val raw = table(s, d, "documents").schema
      EventStreams.sampleStreamFromParquet(s,
        s"$d/documents.parquet", raw,
        queryName = "e8_sample_" + math.abs(d.hashCode).toString)
    }),
    // stream-static decontamination: the t8 split with the bench gram
    // set frozen into one broadcast row; stateless per-doc
    // array_intersect, order-independent row set, so t8's batch
    // left-join/groupBy SQL is the exact oracle
    "e7_stream_decontaminate" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val benchRow = docs.filter(col("doc_id") % 37 === 0)
        .select(TextOps.tokens(lower(col("text"))).as("__toks"))
        .select(explode(array_distinct(
          Dedup.shinglesOfTokens(col("__toks"), 5))).as("__g"))
        .select(substring(md5(col("__g")), 1, 16).as("__gh")).distinct()
        .groupBy().agg(sort_array(collect_set(col("__gh"))).as("bgrams"))
        .localCheckpoint(eager = true) // freeze before the stream starts
      EventStreams.decontaminateStreamFromParquet(s,
        s"$d/documents.parquet", docs.schema, benchRow,
        col("doc_id") % 37 =!= 0,
        queryName = "e7_decon_" + math.abs(d.hashCode).toString)
    }),
    // streaming IVF index ingest: stateless nearest-centroid
    // assignment of the embeddings STREAM against the frozen sampled
    // codebook; order-independent row set, so the batch assignment
    // (the s2 oracle's `assigned` CTE) is the exact oracle
    "e6_stream_ivf_assign" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val cbRow = Similarity.rollCodebook(Similarity.codebook(emb, 16))
        .localCheckpoint(eager = true) // freeze before the stream starts
      EventStreams.ivfAssignStreamFromParquet(s, s"$d/embeddings.parquet",
        emb.schema, cbRow,
        queryName = "e6_ivf_" + math.abs(d.hashCode).toString)
    }),
    // streaming SQ8 ingest: stateless 8-bit encode of the embeddings
    // STREAM against the frozen batch-trained range model;
    // order-independent row set, so batch sq8Encode is the exact oracle
    "e9_stream_sq8" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val rng = Similarity.sq8Range(emb)
        .localCheckpoint(eager = true) // freeze before the stream starts
      EventStreams.sq8EncodeStreamFromParquet(s, s"$d/embeddings.parquet",
        emb.schema, rng,
        queryName = "e9_sq8_" + math.abs(d.hashCode).toString)
    }),
    // streaming intra-doc dedup: the removal decision is a pure
    // function of each doc's own row, so the stream is stateless and
    // batch d11 is the exact oracle
    "e10_stream_intradoc" -> ((s, d) => {
      val docs = table(s, d, "documents")
      EventStreams.intraDocDedupStreamFromParquet(s,
        s"$d/documents.parquet", docs.schema,
        queryName = "e10_intradoc_" + math.abs(d.hashCode).toString)
    }),
    // e11: the S12 memo-cache driven as a REAL streaming service loop.
    // Two request files with ascending mtimes = two deterministic
    // micro-batches (evens then odds, maxFilesPerTrigger=1): batch 1
    // computes every key cold (cached=false), batch 2's repeats of
    // batch-1 keys are memo HITS served without recompute — the
    // cross-batch continuity the oracle replays as `odd AND key IN
    // evens' keys`. The compute is the real serving payload
    // (geneSearchDocs rendered documents), identical for hit and miss,
    // so the response column stays batch-split-independent.
    "e11_stream_response_cache" -> ((s, d) => {
      val reqs = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("request_id"),
        concat(lit("S"), (col("o_orderkey") % 150).cast("string")).as("key"))
      val base =
        scratchDir("graft_e11")
      def writeOne(df: org.apache.spark.sql.DataFrame, name: String,
                   mtime: Long): Unit = {
        val tmp = s"$base/_tmp_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = java.nio.file.Paths.get(s"$base/reqs/$name.parquet")
        java.nio.file.Files.createDirectories(dest.getParent)
        java.nio.file.Files.move(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val now = System.currentTimeMillis()
      writeOne(reqs.filter(col("request_id") % 2 === 0), "b0", now - 60000L)
      writeOne(reqs.filter(col("request_id") % 2 === 1), "b1", now)
      val sd = servedDataset(s, d)
      EventStreams.responseCacheStreamFromParquet(s, s"$base/reqs",
        s"$base/memo", s"$base/out",
        misses => Serving.geneSearchDocs(sd, misses))
    }),
    // e12: streaming graph-ANN ingest — the LSM write path of the s9
    // insert: new vectors drain as TWO micro-batches (split by parity,
    // like e11's request files) and each arrival's forward edges land
    // against the FROZEN base graph; forward edges are a pure function
    // of (vector, frozen graph) ⇒ batch knnGraphForwardEdges over the
    // same vectors (= the s9 oracle's fwd stage, ranked) is exact
    "e12_stream_graph_ingest" -> ((s, d) => {
      val emb2 = table(s, d, "embeddings").filter(col("vec_id") < 2000)
      val base = emb2.filter(col("vec_id") % 17 =!= 0)
        .localCheckpoint(eager = true)
      val batch = emb2.filter(col("vec_id") % 17 === 0)
        .select("vec_id", "embedding")
      val g = Similarity.knnGraphNNDescent(base)
        .localCheckpoint(eager = true) // FROZEN across micro-batches
      val tmp =
        scratchDir("graft_e12")
      val now = System.currentTimeMillis()
      writeOneFile(batch.filter(col("vec_id") % 2 === 0),
        s"$tmp/vecs/b0.parquet", now - 60000L)
      writeOneFile(batch.filter(col("vec_id") % 2 === 1),
        s"$tmp/vecs/b1.parquet", now)
      EventStreams.graphIngestStreamFromParquet(s, s"$tmp/vecs",
        batch.schema, base, g, s"$tmp/out")
    }),
    // e13: the lexical-index LSM twin of e12 — documents stream in as
    // two micro-batches (odd/even doc_id files), each appending its
    // per-document postings segment; batch docPostings over the same
    // corpus is the exact oracle (segments are per-document-pure)
    "e13_stream_bm25_ingest" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val tmp =
        scratchDir("graft_e13")
      val now = System.currentTimeMillis()
      writeOneFile(docs.filter(col("doc_id") % 2 === 0),
        s"$tmp/docs/b0.parquet", now - 60000L)
      writeOneFile(docs.filter(col("doc_id") % 2 === 1),
        s"$tmp/docs/b1.parquet", now)
      EventStreams.bm25IngestStreamFromParquet(s, s"$tmp/docs",
        docs.schema, s"$tmp/out")
    }),
    // e15: the dedup-leg LSM twin of e12/e13 — documents stream in as
    // two micro-batches (odd/even doc_id files), each appending its
    // MinHash band segment; batch lshBands over the same corpus is the
    // exact oracle (band rows are per-document-pure)
    // e18: the dedup-ingest DECISION loop — the %10 batch streams in
    // two mtime-ordered halves; each micro-batch's survivors emit
    // against the standing-so-far state (standing corpus + survivors
    // of earlier batches), and only survivors grow the state. The
    // oracle macro-expands the two folds sequentially.
    "e18_stream_dedup_ingest" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val batch = docs.filter(col("doc_id") % 10 === 9)
      val tmp =
        scratchDir("graft_e18")
      val now = System.currentTimeMillis()
      writeOneFile(batch.filter(col("doc_id") % 20 === 9),
        s"$tmp/docs/b0.parquet", now - 60000L)
      writeOneFile(batch.filter(col("doc_id") % 20 === 19),
        s"$tmp/docs/b1.parquet", now)
      EventStreams.dedupIngestStreamFromParquet(s, s"$tmp/docs",
        docs.schema, docs.filter(col("doc_id") % 10 =!= 9),
        s"$tmp/state", s"$tmp/out")
    }),
    // e20: the m8 probe as the multimodal ingest loop — planted
    // images stream in two mtime-ordered halves, each micro-batch
    // probes the standing-so-far hash index and appends its own
    // hashes. Same oracle as m6/m8: every pair touches the batch
    // stream and planted⋈planted pairs never form in this fixture
    // (cross-batch pairing is proven on a crafted fixture in the spec)
    "e20_stream_phash_ingest" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val shift = plantShift(docs)
      val base = Multimodal.synthesizeCellImages(docs, "doc_id")
      val planted = Multimodal.perturbImages(
        base.filter(col("media_id") % 7 === 0), shiftId = shift)
      val tmp =
        scratchDir("graft_e20")
      val now = System.currentTimeMillis()
      writeOneFile(planted.filter(col("media_id") % 2 === 0),
        s"$tmp/media/b0.parquet", now - 60000L)
      writeOneFile(planted.filter(col("media_id") % 2 === 1),
        s"$tmp/media/b1.parquet", now)
      EventStreams.phashIngestStreamFromParquet(s, s"$tmp/media",
        planted.schema, Multimodal.hashIndex(base),
        s"$tmp/state", s"$tmp/out")
    }),
    // e21: the SPAN-ingest loop — the exact-span family's streaming
    // form (batch d16 / incremental d16_inc / streaming e21, the
    // d2→d12→e18 triple): two mtime-ordered halves stream in, each
    // micro-batch probes the standing-so-far gram index, emits its
    // duplicated spans and appends its own gram segment. Oracle =
    // two-fold macro expansion (batch 1's standing includes ALL of
    // batch 0 — every arrival becomes standing, the e20 convention)
    "e21_stream_span_ingest" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val batch = docs.filter(col("doc_id") % 10 === 9)
      val tmp = scratchDir("graft_e21")
      val now = System.currentTimeMillis()
      writeOneFile(batch.filter(col("doc_id") % 20 === 9),
        s"$tmp/docs/b0.parquet", now - 60000L)
      writeOneFile(batch.filter(col("doc_id") % 20 === 19),
        s"$tmp/docs/b1.parquet", now)
      EventStreams.spanIngestStreamFromParquet(s, s"$tmp/docs",
        docs.schema, docs.filter(col("doc_id") % 10 =!= 9),
        s"$tmp/state", s"$tmp/out")
    }),
    // e19: the data card as a streaming fold — each micro-batch
    // appends a partial per-(lang, source) exact-long segment, the
    // serve is one merge + the share divide; report_corpus's oracle
    // pins the stream verbatim (integer sums are order-independent)
    "e19_stream_card_ingest" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val tmp =
        scratchDir("graft_e19")
      val now = System.currentTimeMillis()
      writeOneFile(docs.filter(col("doc_id") % 2 === 0),
        s"$tmp/docs/b0.parquet", now - 60000L)
      writeOneFile(docs.filter(col("doc_id") % 2 === 1),
        s"$tmp/docs/b1.parquet", now)
      EventStreams.cardIngestStreamFromParquet(s, s"$tmp/docs",
        docs.schema, s"$tmp/out")
    }),
    "e15_stream_band_ingest" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val tmp =
        scratchDir("graft_e15")
      val now = System.currentTimeMillis()
      writeOneFile(docs.filter(col("doc_id") % 2 === 0),
        s"$tmp/docs/b0.parquet", now - 60000L)
      writeOneFile(docs.filter(col("doc_id") % 2 === 1),
        s"$tmp/docs/b1.parquet", now)
      EventStreams.bandIngestStreamFromParquet(s, s"$tmp/docs",
        docs.schema, s"$tmp/out")
    }),
    // e16: the t15 model SERVED against a document stream — NB model
    // trained once batch-side, frozen, each micro-batch scored by the
    // pure (document, model) function; t15's oracle applies verbatim
    "e16_stream_nb_score" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val m = TextOps.nbTrain(docs)
      val frozen = TextOps.NbModel(
        m.model.localCheckpoint(eager = true),
        m.tot.localCheckpoint(eager = true),
        m.pri.localCheckpoint(eager = true))
      val tmp =
        scratchDir("graft_e16")
      val now = System.currentTimeMillis()
      writeOneFile(docs.filter(col("doc_id") % 2 === 0),
        s"$tmp/docs/b0.parquet", now - 60000L)
      writeOneFile(docs.filter(col("doc_id") % 2 === 1),
        s"$tmp/docs/b1.parquet", now)
      EventStreams.nbScoreStreamFromParquet(s, s"$tmp/docs",
        docs.schema, frozen, s"$tmp/out")
    }),
    // e17: the sketch-leg LSM ingest — event micro-batches append
    // per-group HLL segments; the serve side unions the accumulated
    // sketch state and certifies vs exact (w2's oracle verbatim;
    // register max-merge makes the split immaterial)
    "e17_stream_hll_ingest" -> ((s, d) => {
      val ev = events(s, d)
      val tmp =
        scratchDir("graft_e17")
      val now = System.currentTimeMillis()
      writeOneFile(ev.filter(col("user_id") % 2 === 0),
        s"$tmp/ev/b0.parquet", now - 60000L)
      writeOneFile(ev.filter(col("user_id") % 2 === 1),
        s"$tmp/ev/b1.parquet", now)
      EventStreams.hllIngestStreamFromParquet(s, s"$tmp/ev",
        ev.schema, ev, s"$tmp/out")
    }),
    // e14: the as-of join as a STATEFUL stream — two event-time-split
    // micro-batches (the file source's in-order contract); per-user
    // state carries the latest reference across the batch boundary, so
    // batch-2 probes enrich against batch-1 references. The batch w1
    // SQL is the exact oracle.
    "e14_stream_asof" -> ((s, d) => {
      val ev = events(s, d)
      val tmp =
        scratchDir("graft_e14")
      val now = System.currentTimeMillis()
      writeOneFile(ev.filter(col("ts") < lit("2024-01-16")),
        s"$tmp/ev/b0.parquet", now - 60000L)
      writeOneFile(ev.filter(col("ts") >= lit("2024-01-16")),
        s"$tmp/ev/b1.parquet", now)
      EventStreams.asofStreamFromParquet(s, s"$tmp/ev", ev.schema,
          queryName = "e14_asof_" + math.abs(d.hashCode).toString)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_ref_id"), col("asof_ref_value"))
    }),
    // m1-m3 run the REAL decode entry point: the text payloads fail
    // the PNG/JPEG sniff, so the metadata equals the stub's md5
    // arithmetic (what the oracle replicates) while the gate still
    // executes the production sniff+fallback plan every round
    "m1_decode_meta" -> ((s, d) =>
      Multimodal.decode(
          Multimodal.synthesize(table(s, d, "documents"), "doc_id", "text"))
        .select(col("media_id"), col("kind"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.codec").as("codec"))),
    // the REAL resize entry point over non-decodable payloads: every
    // row takes the stub-arithmetic fallback branch (the oracle's
    // prediction) while the gate still executes the production
    // decode-attempt + fallback plan every round
    "m2_resize_meta" -> ((s, d) =>
      Multimodal.resize(
          Multimodal.decode(Multimodal.synthesize(
            table(s, d, "documents"), "doc_id", "text")), 640, 480)
        .select(col("media_id"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"))),
    // REAL perceptual near-dup: every doc becomes a synthesized PNG,
    // every 7th is ALSO planted as a noise-perturbed RE-ENCODED copy
    // under a shifted id (byte-different file, same picture). The
    // engine decodes pixels, dHashes, and pairs by hamming-banded
    // equi-join; the oracle predicts exactly the planted (d, d+S)
    // pairs at hamming 0 — an md5-of-payload stand-in (or any decode
    // stub) pairs NOTHING and fails the hash gate. S = max(doc_id)+1
    // (plantShift), so planted ids never collide with base ids at ANY
    // scale factor; the oracle computes the same shift in SQL.
    "m6_phash_neardup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val shift = plantShift(docs)
      val base = Multimodal.synthesizeCellImages(docs, "doc_id")
      val planted = Multimodal.perturbImages(
        base.filter(col("media_id") % 7 === 0), shiftId = shift)
      // maxHamming=2: the fixture's planted copies land at EXACTLY 0
      // (cell contrast >= 14 vs +/-3 noise), while the nearest random
      // pair measured over the 57k-image sf1 corpus sits at hamming 5
      // (HamProbe, COVERAGE.md: 5:2, 6:1, 7:5, 8:10 — gradient bits are
      // correlated, so the tail is fatter than iid) — threshold 2
      // keeps a 3-flip margin on both sides at every SF
      Multimodal.phashNearDup(base.unionByName(planted), maxHamming = 2)
    }),
    // m8: the d12 maintenance shape on the multimodal leg — the
    // planted batch probes the STANDING corpus's persisted hash
    // index; only batch payloads decode. Same oracle as m6 (every
    // planted pair touches the batch, standing-standing never forms)
    "m8_phash_incremental" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val shift = plantShift(docs)
      val base = Multimodal.synthesizeCellImages(docs, "doc_id")
      val planted = Multimodal.perturbImages(
        base.filter(col("media_id") % 7 === 0), shiftId = shift)
      Multimodal.phashIncremental(Multimodal.hashIndex(base), planted,
        maxHamming = 2)
    }),
    // perceptual CLUSTER resolution, all three copy regimes planted
    // (S = plantShift — SF-safe): byte-identical (+2S, every 11th),
    // noise-perturbed re-encode with the SAME hash (+S, every 7th —
    // exercises the exact-hash collapse), and cell-swapped near-miss
    // at hamming 1-2 (+3S, every 13th — exercises the banded
    // near-pairing), with transitive merges (d divisible by
    // 77/91/143/1001) resolved by connected components. Oracle = pure
    // arithmetic on the planting rule: every copy (and its base)
    // labels with lpad(min id) = d.
    "m6_phash_clusters" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val shift = plantShift(docs)
      val base = Multimodal.synthesizeCellImages(docs, "doc_id")
      val planted = Multimodal.perturbImages(
          base.filter(col("media_id") % 7 === 0), shiftId = shift)
        .unionByName(base.filter(col("media_id") % 11 === 0)
          .withColumn("media_id", col("media_id") + lit(2 * shift)))
        .unionByName(Multimodal.tweakImages(
          base.filter(col("media_id") % 13 === 0), shiftId = 3 * shift))
      Multimodal.phashClusters(base.unionByName(planted), maxHamming = 2)
    }),
    // REAL video near-dup: every doc becomes a 4-frame animated GIF
    // (real container, real frames — the one multi-frame format the
    // JDK decodes); every 7th is planted as a per-frame noise-
    // perturbed RE-ENCODED copy (exact frame hashes), every 13th as a
    // per-frame CELL-SWAPPED near-miss (each frame at hamming 1-2) —
    // the tolerance regime: exact-equality frame matching pairs the
    // first plant but silently misses the second and fails the gate.
    // Videos pair on >=2 band-verified near-equal frame hashes; for
    // d % 91 == 0 both plants exist and ALSO pair with each other.
    "m7_video_neardup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val shift = plantShift(docs)
      val base = Multimodal.synthesizeGifs(docs, "doc_id")
      val planted = Multimodal.perturbGifs(
          base.filter(col("media_id") % 7 === 0), shiftId = shift)
        .unionByName(Multimodal.tweakGifs(
          base.filter(col("media_id") % 13 === 0), shiftId = 2 * shift))
      Multimodal.videoNearDup(base.unionByName(planted), maxHamming = 2)
    }),
    // ...and the SAME near-dup engine over the SECOND real container:
    // uncompressed-DIB RIFF/AVI fixtures with identical frame/plant
    // arithmetic (pure-Java RIFF writer+parser, Multimodal.encodeAvi/
    // decodeAvi), pinned against m7's oracle text verbatim — "video
    // near-dup" no longer rests on one format (r11 verdict #6; the
    // MJPEG '00dc' chunk path is spec-pinned in MultimodalSpec, and
    // MP4/WebM remain the documented non-JDK boundary)
    "m7_video_neardup_avi" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val shift = plantShift(docs)
      val base = Multimodal.synthesizeAvis(docs, "doc_id")
      val planted = Multimodal.perturbAvis(
          base.filter(col("media_id") % 7 === 0), shiftId = shift)
        .unionByName(Multimodal.tweakAvis(
          base.filter(col("media_id") % 13 === 0), shiftId = 2 * shift))
      Multimodal.videoNearDup(base.unionByName(planted), maxHamming = 2)
    }),
    // ...and the MIXED corpus (r13 verdict #5): containers arrive
    // heterogeneous — even docs as GIF, odd docs as AVI — and every
    // plant lands in the OPPOSITE container of its base, so each
    // %7/%13 pair is a TRUE cross-container near-dup (GIF base paired
    // with a perturbed AVI re-encode and vice versa) through the one
    // frame-hash engine. Same oracle arithmetic verbatim: the two
    // containers round-trip the same frame rule pixel-exactly
    // (SimilaritySpec's cross-container hash-identity leg), so the
    // plant structure is container-invariant.
    "m7_video_neardup_mixed" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val shift = plantShift(docs)
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 =!= 0)
      val base = Multimodal.synthesizeGifs(even, "doc_id")
        .unionByName(Multimodal.synthesizeAvis(odd, "doc_id"))
      val planted = Multimodal.perturbAvis(
          Multimodal.synthesizeAvis(
            even.filter(col("doc_id") % 7 === 0), "doc_id"),
          shiftId = shift)
        .unionByName(Multimodal.perturbGifs(
          Multimodal.synthesizeGifs(
            odd.filter(col("doc_id") % 7 === 0), "doc_id"),
          shiftId = shift))
      val tweaked = Multimodal.tweakAvis(
          Multimodal.synthesizeAvis(
            even.filter(col("doc_id") % 13 === 0), "doc_id"),
          shiftId = 2 * shift)
        .unionByName(Multimodal.tweakGifs(
          Multimodal.synthesizeGifs(
            odd.filter(col("doc_id") % 13 === 0), "doc_id"),
          shiftId = 2 * shift))
      Multimodal.videoNearDup(
        base.unionByName(planted).unionByName(tweaked), maxHamming = 2)
    }),
    "m3_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(
        Multimodal.decode(Multimodal.synthesize(
          table(s, d, "documents"), "doc_id", "text")), 60000L)),
    // REAL ImageIO pins: payloads are actual PNG bytes with id-derived
    // dimensions, so the oracle predicts the decoded metadata
    // arithmetically while Spark parses the bytes — a wrong decode
    // (or a silent stub fallback) fails the hash gate
    "m5_decode_real" -> ((s, d) =>
      Multimodal.decode(
          Multimodal.synthesizeImages(table(s, d, "documents"), "doc_id"))
        .select(col("media_id"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.codec").as("codec"))),
    // REAL pixel resize, certified by RE-DECODING THE OUTPUT PAYLOAD:
    // the reported dims come from a second ImageIO decode of the bytes
    // the resize wrote, so a metadata-only stub (payload passthrough)
    // reports the ORIGINAL dims and fails the hash gate. Oracle =
    // the floor(dim*min(64/w,48/h,1)) box arithmetic.
    "m5_resize_real" -> ((s, d) =>
      Multimodal.decode(
          Multimodal.resize(
            Multimodal.decode(Multimodal.synthesizeImages(
              table(s, d, "documents"), "doc_id")), 64, 48))
        .select(col("media_id"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"))),
    // REAL WAV pin: payloads are actual RIFF/WAVE bytes with
    // id-derived frame counts, so the oracle predicts the decoded
    // duration arithmetically while Spark parses the headers — a wrong
    // parse (or silent stub fallback: the stub's length-derived
    // duration differs) fails the hash gate; really-decoded audio
    // reports NULL dims
    "m5_decode_audio_real" -> ((s, d) =>
      Multimodal.decode(
          Multimodal.synthesizeWavs(table(s, d, "documents"), "doc_id"))
        .select(col("media_id"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.codec").as("codec"))),
    // REAL pixel feature extraction, exact-integer pinned: per-channel
    // grid-cell count/Σ/Σ² over fully decoded PNG pixels. The fixture
    // pixels are id-derived arithmetic ((x*31+y*7+id) & 0xFFFFFF), so
    // the oracle recomputes every sum without touching a codec —
    // agreement proves the decode read the true pixel values. Bounded
    // doc_id<200 slice: the oracle enumerates pixels (≤15.8k/img), and
    // the codec path needs no SF-scaled verification (m5_decode_real
    // covers decode at full SF).
    "m4_pixel_stats" -> ((s, d) =>
      Multimodal.imageCellStats(
        Multimodal.synthesizeImages(
          table(s, d, "documents").filter(col("doc_id") < 200), "doc_id"),
        grid = 2)),
    // REAL GIF video pin: payloads are actual animated GIFs with
    // id-derived per-frame delays, so the oracle predicts dims
    // (72x64 cell frames) and duration (4 frames x (id%20+1)*50 ms)
    // arithmetically while Spark parses the container metadata
    "m5_decode_video_real" -> ((s, d) =>
      Multimodal.decode(
          Multimodal.synthesizeGifs(table(s, d, "documents"), "doc_id"))
        .select(col("media_id"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.codec").as("codec"))),
    // REAL AVI pin: the same arithmetic over RIFF bytes — avih carries
    // dwMicroSecPerFrame=(id%20+1)·50000 and 4 frames, so duration_ms
    // matches the GIF rule while Spark parses a different container
    "m5_decode_avi_real" -> ((s, d) =>
      Multimodal.decode(
          Multimodal.synthesizeAvis(table(s, d, "documents"), "doc_id"))
        .select(col("media_id"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.codec").as("codec"))),
    "m4_feature_extract" -> ((s, d) =>
      Multimodal.featureExtractStub(
          Multimodal.synthesize(table(s, d, "documents"), "doc_id", "text"), 8)
        .select(col("media_id"),
          posexplode(col("features")).as(Seq("dim_i", "val")))
        .select(col("media_id"), col("dim_i").cast("long").as("dim_i"),
          col("val").cast("double").as("val"))))

  val all: Map[String, Q] = graphQueries ++ extQueries ++ ReaderHarness.queries

  /** Write `df` as ONE parquet file at `dest` (creating parents),
    * stamped with `mtime` so a file-source stream's micro-batch order
    * is deterministic (shared by the e12/e13/e14 streaming fixtures). */
  private def writeOneFile(df: org.apache.spark.sql.DataFrame,
                           dest: String, mtime: Long): Unit = {
    val p = java.nio.file.Paths.get(dest)
    // scratch OUTSIDE the destination dir: a file-source stream lists
    // the destination dir, and the scratch leftovers must not be there
    // (underscore prefixes are filtered, but why rely on it)
    val t = s"${p.getParent.getParent}/_tmp_${p.getFileName}"
    df.coalesce(1).write.mode("overwrite").parquet(t)
    val part = new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.move(part.toPath, p)
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(mtime))
  }

  /** Headline subset for graft.Bench — representative of every operator
    * family without re-running all 80 correctness entries. */
  val benchNames: Seq[String] = Seq(
    "a1_vertices", "g2_simplify", "j9_edge_types", "a4_degree",
    "a5_graph_metadata", "a6_components", "a8_transitivity", "a11_chas",
    "a14_random_chas_envelope", "a15_feature_agg_mean",
    "j3_annotate_otherends", "j8_nearest_join", "q6_search_subnet",
    "d2_minhash_lsh", "d5_embedding_neardups", "s1_similarity_bruteforce",
    "t2_quality_score", "e1_sessionize", "s11_tree_write",
    // round-8 additions: removal-dedup family + quantized ANN
    "d9_block_dedup", "d10_cdc_dedup", "s5_sq8_rerank",
    "t13_bloom_decontaminate",
    // round-9 additions: real perceptual near-dup + the snapshot-served
    // interactive search path (the warm-up builds the snapshot, the median
    // shows the warm serve)
    "m6_phash_neardup", "q6_search_served",
    // G8: the full serve-with-layout path (subnet + 30-iteration CoSE)
    "g8_layout_cose",
    // round-10 additions: the far-field layout regime (the one-task
    // band a real caller routes to — bit-identical to the distributed
    // twin, which stays a correctness-gate-only lane: forcing every
    // component through 12 relational rounds benches the fallback no
    // caller takes, 19.5s vs ~2s at sf0.1), the memo-cache over real
    // rendered serving documents, and the served range form
    "g8_layout_cose_bh_local", "s12_response_cache", "q5_range_served",
    // round-10 additions: incremental tree maintenance (the dirty-two-
    // chromosome delta vs the ~12.5s full tree — the 100 TB
    // don't-rewrite-the-world path) and the chromosome-partition-pruned
    // served range (the warm-up builds the partitioned snapshot, the median
    // is the pruned serve)
    "s11_tree_refresh", "q5_range_served_part",
    // round-10 additions: NN-Descent kNN-graph construction (the
    // 2000-vector gate shape — 4 join+window rounds), the hybrid
    // BM25+cosine RRF retrieval path, beam-search serving over the
    // built graph (the graph-ANN query side), and incremental insert
    // (the maintenance side — rebuild-free ingest)
    "s7_knn_graph", "r2_hybrid_rrf", "s8_graph_search",
    "s9_graph_insert", "r3_mmr_rerank",
    // the amortized serve shape: the warm-up builds the graph, the
    // median is the warm beam serve (q6_search_served precedent)
    "s8_graph_served",
    // round-10 back half: two-pass PRF retrieval and map-only chunking
    "r4_prf_expand", "p8_chunk_docs",
    // round-11 additions (r10 verdict tasks #4/#6/#7/#5): the r10
    // retrieval lanes the bench never covered; the BM25 cold path vs
    // its snapshot-served warm twin (the warm-up builds the postings index,
    // the median is the warm serve); the snapshot build isolated from
    // q6_search_served's serve numbers; the hashed-embedding ANN
    // proof; and the composed chunk→embed→graph-ANN→MMR RAG loop
    "r1_bm25", "r1_bm25_served", "r5_hard_negatives", "t14_embed_knn",
    "q6_snapshot_build", "rag_retrieve",
    // round-12: the rag warm twin (the warm-up persists chunk/vec/graph
    // artifacts, the median is the beam+MMR+join serve — the
    // cache-serving model applied to the flagship composition)
    "rag_served",
    // round-11 w-family: the sort-merge as-of join (one shuffle +
    // window vs the oracle's quadratic range join — the event-log
    // enrichment shape)
    "w1_asof_join",
    // round-11 back half: the dedup leg's maintenance shape (batch
    // probe against the standing band index — the s9_graph_insert
    // analogue for MinHash-LSH) and its snapshot-served warm twin
    // (the warm-up builds the standing index, the median is the probe),
    // plus the graph leg (incremental CC fold-in; the warm-up pays the
    // standing labeling, the fold itself is batch-sized)
    "d12_incremental_dedup", "d12_incremental_served",
    "a6_components_inc", "a6_components_inc_served",
    // round-11 session 2: the model-based quality filter (NB train on
    // the seed split + full-corpus scoring — two count shuffles + one
    // term-keyed scoring join), and the corpus-boilerplate pass (d9's
    // fan-out plus the df join)
    "t15_nb_quality", "d13_boilerplate_dedup",
    // the BPE pair: 12 driver rounds over the vocab frame (train) and
    // the corpus-wide vocab join (tokenize), plus integer PageRank
    // (10 join+agg power iterations on the thin graph)
    "t16_bpe_train", "t16_bpe_tokenize", "g9_pagerank",
    // round-13: the realistic-vocab BPE scale lane (448 merges over
    // the trigram-derived corpus through the BpeLocal one-task heap —
    // the number that proves the trainer regime, not the 12-round toy)
    "t16_bpe_train_448",
    // g10: 4 synchronous label-propagation rounds (join+agg+window
    // per round on the thin graph — the community-detection shape)
    "g10_label_prop",
    // the composed tokenizer→pack pipeline (t16's cost + one window),
    // and the snapshot-served tokenize (the warm-up pays train+write, the
    // median is the one-join warm serve)
    "p11_bpe_pack", "t16_bpe_served",
    // the composed curation pipeline (filter + scrub + retrain + pack)
    // and the corpus-novelty pass (shingle df + per-doc re-agg)
    "curate_corpus", "t17_novelty",
    // the fuzzy-dedup corpus REWRITE (d2 candidates + verified-pair
    // closure + one broadcast anti join — the MinHash curation stage
    // end-to-end, not just the cluster labels) and its INGEST form
    // (batch-bounded incremental probe + closure, standing side never
    // rewritten — the dedup leg's LSM maintenance shape)
    "d14_fuzzy_rewrite", "d15_incremental_rewrite",
    // round-12: character-level exact-span removal (the Lee et al.
    // residual d9/d10 approximate) — the rewrite is the full pipeline
    // (doubling chain + span merge + cut + re-assembly), plus the rag
    // warm twin registered above
    "d16_exact_span_rewrite",
    // ...and the span family's maintenance shape (batch probe against
    // the standing gram index — the d12 analogue: cold fold + its
    // snapshot-served twin, the served lane's warm-up pays the index
    // build+write and the median is the probe-only serve)
    "d16_incremental_spans", "d16_incremental_served")

  /** Registered-but-deliberately-unbenched lanes (the r10 "silent cap"
    * finding: every registry entry must carry an explicit bench
    * decision — BenchRegistrySpec diffs benchNames ∪ this list against
    * SparkEntry.queries and fails on any lane missing from both).
    * Grouped by the reason they are excluded. */
  val benchExcluded: Map[String, String] = {
    val reasons = Seq(
      // each family's bench lane is its most expensive/representative
      // member; these are same-plan variants or strictly-contained
      // sub-stages of a benched lane
      ("variant of a benched family lane" -> Seq(
        "a6_component_stats", "a6_components_dist", "a15_feature_agg_min",
        "a15_feature_agg_max", "a15_feature_agg_proportion",
        "a16_binarize", "a17_features_metadata", "d1_exact_dedup",
        "d3_simhash", "d4_ngram_jaccard", "d6_shared_substring",
        "d16_exact_spans", "d16_exact_spans_dist",
        "d16_incremental_served_dist",
        "d7_dedup_clusters", "d8_semdedup", "d11_intradoc_dedup",
        "f1_threshold_filter",
        "f2_chromosome_filter", "f3_pp_only", "g5_subset_pp",
        "g5_subset_po", "g6_randomize", "g6_randomize_dist",
        "g8_layout_grid", "g8_layout_circle", "g8_layout_concentric",
        "g8_layout_cose_dist", "g8_layout_cose_bh", "g1_hic_vertices",
        "g1_hic_edges", "j10_ego_edges", "j11_induced_subgraph",
        "s2_similarity_ivf", "s3_similarity_pq", "s4_ivfpq_residual",
        "s13_filtered_ivf", "s13_filtered_served",
        "s13_filtered_served_pruned",
        "s6_ivfsq8_rerank", "s9_graph_compact", "s10_graph_delete",
        "q2_gene_search_indexed", "q4_gene_list_search_indexed",
        "q5_range_search", "q5_range_nearest", "q6_search_served_pruned",
        "r6_bm25_compacted",
        "s11_tree_write_dist", "t1_token_stats", "t3_lang_id",
        "t4_fingerprints", "t5_tfidf", "t7_pii_scrub",
        "t9_bigram_lm", "t10_lm_crossentropy", "t11_gopher_filter",
        "t12_perplexity_buckets", "t14_hash_embed", "p2_length_quartiles",
        "p3_mixture_weights", "p5_leak_safe_split", "p7_cluster_mixture",
        "p6_dsir_weights", "s7_knn_refine", "a7_diameter_dist",
        "g9_pagerank_dist", "r3_mmr_rerank_dist", "t16_bpe_train_dist",
        "m5_decode_real",
        "m5_resize_real", "m5_decode_audio_real", "m5_decode_video_real",
        "m5_decode_avi_real", "m7_video_neardup_avi",
        "m7_video_neardup_mixed",
        "m4_pixel_stats", "m8_phash_incremental")),
      // sub-second certificate / metadata / tiny-result lanes: the
      // median would time JVM noise, not the operator (their engines
      // are benched via the underlying family lane)
      ("sub-second certificate or metadata lane" -> Seq(
        "a7_diameter",
        "a7_diameter_exact", "a7_diameter_cert", "a9_suggestions",
        "a10_chromosomes", "a12_abundance", "a13_mean_degree_positives",
        "f6_empty_guard", "f7_scrub_aliases", "j1_join_features",
        "j2_bait_names", "j4_annotate_promoters",
        "j4_annotate_promoters_mus", "j6_intronic_flag", "q1_fragment_lookup",
        "q2_gene_search", "q3_ensembl_search", "q4_gene_list_search",
        "s2_ivf_recall", "s3_pq_recall", "s5_sq8_recall",
        "s2_ivf_recall_kmeans", "s3_pq_recall_trained",
        "s3_pq_precision_clustered", "s4_ivfpq_precision",
        "s7_knn_recall", "s7_refine_recall", "s8_beam_recall",
        "s13_filtered_recall",
        "s8_beam_recall_full", "s9_insert_recall", "s10_delete_cert",
        "t6_repetition", "t8_decontaminate",
        "p1_stratified_sample", "p12_weighted_sample",
        "p4_pack_sequences", "m1_decode_meta",
        "m2_resize_meta", "m3_frame_sample", "m4_feature_extract",
        "m6_phash_clusters", "m7_video_neardup",
        "w2_hll_distinct", "w3_quantile_cert", "w4_cms_heavy_hitters")),
      // Structured-Streaming lanes: micro-batch trigger latency
      // dominates (the e-family's engines are the batch twins, all
      // benched); e2e stream timing lives in EventStreamsSpec
      ("streaming twin (batch engine benched)" -> Seq(
        "e2_stream_windowed", "e2_windowed_counts", "e3_stream_sessionize",
        "e4_stream_dedup", "e5_stream_quality_filter",
        "e6_stream_ivf_assign", "e7_stream_decontaminate",
        "e8_stream_sample", "e9_stream_sq8", "e10_stream_intradoc",
        "e11_stream_response_cache", "e12_stream_graph_ingest",
        "e13_stream_bm25_ingest", "e14_stream_asof",
        "e15_stream_band_ingest", "e16_stream_nb_score",
        "e17_stream_hll_ingest", "e18_stream_dedup_ingest",
        "e19_stream_card_ingest", "e20_stream_phash_ingest",
        "e21_stream_span_ingest")),
      // sub-second at the bench SF: single balanced shuffle (p9) /
      // broadcast join + map-only explode (p10) / one id-hash join
      // (v1) — their engines are plain builtin shapes the heavier
      // family lanes already time
      ("sub-second map-only or single-shuffle lane" -> Seq(
        "p9_shard_shuffle", "p10_epoch_upsample", "v1_corpus_diff",
        "v2_index_refresh", "report_corpus")),
      // reader/format lanes: bounded fixture IO, benched once via
      // s11_tree_write's full pipeline scan
      ("bounded fixture reader" -> Seq(
        "s1_read_pchic", "s2_read_hic", "s3_format_sniff",
        "s4_read_features_on_nodes", "s5_read_alias", "s6_read_intronic",
        "s7_read_bait_names", "s8_read_bed3", "s8_read_bed6",
        "s8_read_macs2", "s8_read_chromhmm", "s8_read_features_table",
        "s9_snapshot_roundtrip", "s10_cytoscape_nodes")))
    reasons.flatMap { case (why, names) => names.map(_ -> why) }.toMap
  }
}
