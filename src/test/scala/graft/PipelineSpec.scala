package graft

import org.apache.spark.sql.functions._
import graft.core.{Metadata, Pipeline, Regime}

/** End-to-end composition: the reference's dataset-build flow on the
  * synthetic fixture, plus A9/A10 metadata. Every build runs on both
  * routes: the `resident` form at `residentMaxEdges` 0 (the relational
  * plans) and at the default (the driver kernel). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val Routes = Seq(0L, Regime.ResidentMaxEdges)

  test("build: threshold, MT drop, simplify, typing, degree, metadata") {
    for (cut <- Routes) {
      val ds = Pipeline.build(pchicFixture, threshold = 5.0,
        residentMaxEdges = cut).resident
      assert(ds.interactions.count() == 5)
      assert(ds.edges.count() == 2)
      assert(ds.nodes.count() == 3)
      val meta = ds.graphMetadata.collect()(0)
      assert(meta.getLong(meta.fieldIndex("nodes")) == 3L)
      assert(meta.getLong(meta.fieldIndex("edges")) == 2L)
      val deg = ds.degrees.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(deg("1_1000_1999") == 2L)
    }
  }

  test("buildHiC: all-O vertices, empty names, unweighted O-O edges") {
    val hic = Seq(
      ("1", 100L, 199L, "1", 500L, 599L),
      ("1", 500L, 599L, "2", 100L, 199L),
      ("1", 100L, 199L, "1", 500L, 599L),   // dup -> simplified away
      ("MT", 0L, 99L, "1", 100L, 199L))     // MT -> dropped
      .toDF("baitChr", "baitStart", "baitEnd", "oeChr", "oeStart", "oeEnd")
    val ds = Pipeline.buildHiC(hic)
    val nodes = ds.nodes.collect()
    assert(nodes.length == 3)
    assert(nodes.forall(r => r.getString(5) == "O" && r.getString(1) == ""))
    val edges = ds.edges.collect()
    assert(edges.length == 2)
    assert(edges.forall(_.getString(edges.head.fieldIndex("type")) == "O-O"))
    val meta = ds.graphMetadata.collect()(0)
    assert(meta.getLong(meta.fieldIndex("promoters")) == 0L)
    assert(meta.getLong(meta.fieldIndex("pp_edges")) == 0L)
  }

  test("chromosome slice keeps inter-chromosomal edges touching it") {
    for (cut <- Routes) {
      val ds = Pipeline.build(pchicFixture, 5.0, chromosome = Some("2"),
        residentMaxEdges = cut).resident
      // rows touching chr2: bait2-oe1(8.0), bait1-oe2(7.0 + 5.5), self-loop
      assert(ds.interactions.count() == 4)
      assert(ds.edges.count() == 1) // one undirected pair after simplify
    }
  }

  test("PP pseudo-chromosome keeps only promoter-promoter edges") {
    for (cut <- Routes) {
      val ds = Pipeline.build(pchicFixture, 5.0, chromosome = Some("PP"),
        residentMaxEdges = cut).resident
      val types = ds.edges.select("type").collect().map(_.getString(0))
      assert(types.forall(_ == "P-P"))
    }
  }

  test("search over the built dataset returns a flagged ego subnet") {
    for (cut <- Routes) {
      val ds = Pipeline.build(pchicFixture, 5.0, residentMaxEdges = cut).resident
      val sub = Pipeline.searchDataset(ds, "Hoxa1")
      val n = sub.nodes.collect().map(r =>
        r.getString(0) -> r.getBoolean(r.fieldIndex("searched"))).toMap
      assert(n("1_1000_1999"))
      assert(n.size == 3) // seed + both neighbors
    }
  }

  test("A9 suggestions: distinct sorted names, empties dropped") {
    for (cut <- Routes) {
      val ds = Pipeline.build(pchicFixture, 5.0, residentMaxEdges = cut).resident
      val sugg = Metadata.suggestions(ds.nodes).collect().map(_.getString(0))
      assert(sugg.contains("Hoxa1") && sugg.contains("Extra"))
      assert(!sugg.contains(""))
      assert(sugg.sameElements(sugg.sorted))
    }
  }

  test("A10 chromosome list: natural sort, PP appended, MT absent") {
    val chrs = Metadata.chromosomes(
      Seq(("f", "n", "10", 1L, 2L, "P"), ("f2", "n", "2", 1L, 2L, "P"),
        ("f3", "n", "X", 1L, 2L, "O"), ("f4", "n", "MT", 1L, 2L, "O"))
        .toDF("fragment", "gene_names", "chr", "start", "end", "type"))
      .collect().map(_.getString(0))
    // str_sort(numeric=T) semantics: PP sorts BEFORE X/Y (P < X) —
    // verified against reference network_generator.R:241-244
    assert(chrs.sameElements(Array("2", "10", "PP", "X")))
  }
}
