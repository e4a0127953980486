package graft

/** Physical-plan audit over EVERY registered query: no cartesian
  * product and no broadcast nested-loop join may appear outside the
  * explicit allowlist below. At 100 TB an unplanned cartesian is the
  * difference between a job and an outage; this pins the invariant so
  * a future refactor that silently degrades an equi-join (e.g. by
  * wrapping the key in a non-deterministic expression) fails CI
  * instead of the cluster. Queries that materialize eagerly and
  * return a small result frame (a6/a7/g6/a14/s11...) contribute only
  * their visible plan — their internals are pinned by their own
  * specs — but the audit still proves the harness entry itself plans
  * cleanly at a real data dir. */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose plan legitimately contains a nested-loop join,
    * each against a provably tiny build side. */
  private val allowedNestedLoop: Map[String, String] = Map(
    "s1_similarity_bruteforce" ->
      "query set × corpus: the query frame is a bounded top-k probe set (Similarity.scala:61)",
    "s6_ivfsq8_rerank" ->
      "probe × broadcast coarse codebook + 1-row SQ8 range model; the bucket prune, code fetch and re-rank joins stay equi (Similarity.ivfSq8TopK)",
    "s5_sq8_recall" ->
      "recall join of two bounded top-k result sets + the s5 range-model/probe crosses (Similarity.sq8Recall)",
    "s5_sq8_rerank" ->
      "code scan × 1-row broadcast SQ8 range model + bounded probe set; the exact re-rank joins stay equi (Similarity.sq8TopK)",
    "s2_similarity_ivf" ->
      "probe × broadcast centroid codebook (k≤256 rows; Similarity.scala:159)",
    "s2_ivf_recall" ->
      "recall join of two bounded top-k result sets + codebook cross (Similarity.scala:61,159)",
    "s13_filtered_ivf" ->
      "probe/corpus × broadcast centroid codebook (k=16 rows); the filtered candidate join stays equi on (centroid_id, attr) (Similarity.ivfTopKFiltered)",
    "s13_filtered_served" ->
      "probe × broadcast centroid codebook over the reopened labeled index; the candidate join stays equi on (centroid_id, attr) (Similarity.ivfSearchFiltered)",
    // s13_filtered_served_pruned is deliberately ABSENT: its plan has
    // no nested loop at all — the probe bucket ids are collected
    // eagerly at construction (Similarity.ivfSearchFilteredPruned's
    // documented eager contract) and pushed as a literal isin over the
    // bucket-partitioned scan, so the audit's positive check (no
    // cartesian/BNL) is exactly what pins its shape; an allowlist row
    // would assert the OPPOSITE (audit fails on unused entries).
    "s13_filtered_recall" ->
      "recall join of two bounded top-k result sets + codebook crosses; the filtered exact baseline joins equi on the attribute (Similarity.filteredIvfRecall)",
    "s2_ivf_recall_kmeans" ->
      "same recall shape with the Lloyd-trained codebook (Similarity.scala:61,159)",
    "s3_similarity_pq" ->
      "corpus/code scans × single-row broadcast PQ codebook and bounded probe distance tables (Similarity.pqAssign/pqTopK)",
    "s3_pq_recall" ->
      "PQ + exact-L2 recall join: bounded probe set and single-row codebook crosses (Similarity.pqRecall)",
    "s3_pq_precision_clustered" ->
      "same ADC shape on the clustered embeddings (Similarity.pqAssign/pqTopK)",
    "s4_ivfpq_precision" ->
      "IVF-PQ composition: probe × broadcast coarse/PQ codebooks, bucket join stays equi (Similarity.ivfPqTopK)",
    "s4_ivfpq_residual" ->
      "IVFADC: probe × broadcast coarse codebook + per-(probe,bucket) residual ADC tables, bucket join stays equi (Similarity.ivfAdcTopK)",
    "d8_semdedup" ->
      "corpus × broadcast centroid codebook (k=16 rows; Dedup.semDedup)",
    "s3_pq_recall_trained" ->
      "two bounded recall rows crossed + per-iter Lloyd broadcasts (Similarity.pqCodebookKMeans/pqRecall)",
    "a8_transitivity" ->
      "1-row triangle count × 1-row triad count (GraphOps.scala:656)",
    "g8_layout_grid" ->
      "component packing × 1-row global-extent aggregate (Layout.pack)",
    "g8_layout_circle" ->
      "component packing × 1-row global-extent aggregate (Layout.pack)",
    "g8_layout_concentric" ->
      "component packing × 1-row global-extent aggregate (Layout.pack)",
    // g8_layout_cose and g8_layout_cose_bh_local are deliberately
    // ABSENT: below Layout.LocalLayoutMaxRows they route through
    // localWholeLayout (CC + per-component kernels + pack arithmetic in
    // one task), whose plan has NO nested loop — at the audit's
    // sf0.001 data the positive no-BNL check is exactly what pins that
    // route; the relational `_dist`/`_bh` twins keep their pack rows.
    "g8_layout_cose_dist" ->
      "component packing × 1-row global-extent aggregate (Layout.pack)",
    "g8_layout_cose_bh" ->
      "component packing × 1-row global-extent aggregate (Layout.pack); the far-field iteration itself is all equi-joins on (component, cell) keys",
    "r1_bm25" ->
      "postings frame × broadcast 1-row corpus stats (N, avgdl) (Retrieval.bm25)",
    "r1_bm25_served" ->
      "same ranking chain over the reopened postings snapshot: postings frame × broadcast 1-row corpus stats (Retrieval.bm25Served)",
    "r6_bm25_compacted" ->
      "same ranking chain over the compacted segment index: postings frame × broadcast 1-row corpus stats (Retrieval.bm25FromSegments)",
    "s8_beam_recall_full" ->
      "bounded 20-probe set × FULL corpus brute-force truth — the k·n truth scan is the certificate's point; graph build and beam serve are all equi-joins (Similarity.beamSearchRecall uncapped)",
    "r4_prf_expand" ->
      "both BM25 passes and the expansion scoring each cross the broadcast 1-row corpus stats (Retrieval.prfExpand); postings joins stay equi",
    "t15_nb_quality" ->
      "corpus token stream × broadcast 1-row vocab-total and prior aggregates (TextOps.nbQualityClassifier); the model join stays term-keyed equi",
    "r3_mmr_rerank" ->
      "bounded 20-probe set × corpus for the relevance pool (Similarity.bruteForceTopK feeding Retrieval.mmrPool); the one-task greedy stage itself is a single groupByKey over ≤ poolN rows per probe — visible now that the local regime no longer eagerly checkpoints the pool at construction",
    "r5_hard_negatives" ->
      "bounded anchor set × corpus for the dense pool (Similarity.bruteForceTopK); the positive knock-out is an equi anti-join (Retrieval.hardNegatives)",
    "r2_hybrid_rrf" ->
      "BM25 leg's 1-row corpus-stats broadcast + bounded probe set × corpus vector leg (Retrieval.hybridRrf / Similarity.bruteForceTopK)",
    "s7_knn_recall" ->
      "recall join of two bounded top-k result sets + bounded probe set × corpus brute-force truth (Similarity.knnGraphRecall)",
    "s8_beam_recall" ->
      "recall join of two bounded top-k result sets + bounded probe set × corpus brute-force truth (Similarity.beamSearchRecall)",
    "s9_insert_recall" ->
      "bounded insert batch × base corpus brute-force truth (Similarity.knnGraphInsertRecall); the insert itself is all equi-joins",
    "s10_delete_cert" ->
      "bounded affected-node probe set × survivor corpus brute-force truth + 1-row dangling-count cross (Similarity.knnGraphDeleteCert); the delete itself is all equi-joins",
    "s7_refine_recall" ->
      "bounded insert batch × full-corpus brute-force truth + the two 1-row before/after aggregates crossed (Similarity.knnGraphRefineRecall); insert and refine are all equi-joins",
    "t14_embed_knn" ->
      "bounded 5-probe set × hashed-embedding corpus brute-force scan (Similarity.bruteForceTopK over TextOps.hashEmbed)",
    // the other a15 lanes take the driver route at test scale: their
    // plans are local relations, with no join at all
    "a15_feature_agg_proportion_dist" ->
      "fragment frame × broadcast feature-name list (a handful of column names; Chas.aggregateRel's missing fill)",
    "a5_graph_metadata" ->
      "1-row node count × 1-row edge summary (GraphOps.scala:681)",
    "t5_tfidf" ->
      "tf⋈df frame × broadcast 1-row corpus count (TextOps.tfidf)",
    "report_corpus" ->
      "(lang, source) card frame × broadcast 1-row corpus total (QueryDefs report_corpus)",
    "e19_stream_card_ingest" ->
      "merged card segments × broadcast 1-row corpus total (EventStreams.cardIngestStreamFromParquet serve stage)",
    "p2_length_quartiles" ->
      "doc-length frame × broadcast 1-row quartile cut points (Sampling.lengthQuartiles)",
    "p3_mixture_weights" ->
      "per-source frame × broadcast 1-row corpus totals (Sampling.mixtureWeights)",
    "p6_dsir_weights" ->
      "bucket-count frame (≤ nBuckets rows) × broadcast 1-row gram totals (Sampling.dsirWeights)",
    "t12_perplexity_buckets" ->
      "per-doc score frame × broadcast 1-row quantile cut points (TextOps.perplexityBuckets)",
    "p7_cluster_mixture" ->
      "corpus × broadcast centroid codebook (k=16) + k-row counts × 1-row totals (Sampling.clusterMixture)",
    "p10_epoch_upsample" ->
      "the weight table comes from mixtureWeights: per-source frame × broadcast 1-row corpus totals (the p3 cross); the upsample itself is one broadcast equi-join + map-only posexplode (Sampling.epochUpsample)")

  test("every registered query plans without an unlisted cartesian/nested-loop join") {
    val dir = "/root/testdata/sf0.001"
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    val unusedAllow = scala.collection.mutable.Set[String](
      allowedNestedLoop.keySet.toSeq: _*)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try fn(spark, dir).queryExecution.executedPlan.toString
        catch { case e: Throwable =>
          fail(s"$name failed to build a plan against $dir: $e") }
      val hits = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
        .filter(plan.contains)
      if (hits.nonEmpty) {
        if (allowedNestedLoop.contains(name)) unusedAllow -= name
        else offenders += s"$name -> ${hits.mkString(",")}"
      }
    }
    assert(offenders.isEmpty,
      s"unlisted cartesian/nested-loop joins:\n  ${offenders.mkString("\n  ")}")
    // a stale allowlist row is itself a regression signal (the plan
    // changed shape); keep the list honest in both directions
    assert(unusedAllow.isEmpty,
      s"allowlist entries whose plans no longer nested-loop: $unusedAllow")
  }
}
