package graft

import org.apache.spark.sql.functions._
import graft.core.{Annotate, Chas, GraphOps, Regime}
import graft.io.MetadataJson

/** S11 JSON assembly + the one-pass three-subnet features_metadata +
  * mouse-organism J4 variants. */
class MetadataJsonSpec extends SparkSpec {
  import spark.implicits._

  /** `residentMaxEdges` of each route: 0 the relational plans, the
    * default the driver kernel. */
  private val Routes = Seq(0L, Regime.ResidentMaxEdges)

  private def typedEdges = Seq(
    ("p1", "p2", "P-P"), ("p1", "o1", "P-O"), ("p2", "o2", "P-O"))
    .toDF("src", "dst", "type")

  private def feats = featuresOf(Seq(
    ("p1", "f", 1.0), ("p2", "f", 1.0), ("o1", "f", 0.0), ("o2", "f", 1.0)))

  test("featuresMetadataSubnets emits net/pp/po rows in one pass") {
    for (cut <- Routes) {
      val out = Chas.featuresMetadataSubnets(typedEdges, feats,
        nReplicates = 2, seed = 1L, residentMaxEdges = cut).collect()
      val subnets = out.map(_.getString(0)).toSet
      assert(subnets == Set("net", "pp", "po"), s"cut $cut")
      val byNet = out.map(r => r.getString(0) -> r).toMap
      // pp subnet = p1-p2 only; both value 1.0 -> abundance 1.0
      assert(byNet("pp").getDouble(2) == 1.0, s"cut $cut")
      // net abundance over all 4 nodes = 0.75
      assert(byNet("net").getDouble(2) == 0.75, s"cut $cut")
      // envelope string "min,max"
      assert(byNet("net").getString(4).matches("-?\\d+\\.\\d{3},-?\\d+\\.\\d{3}")
        || byNet("net").getString(4) == null, s"cut $cut")
    }
  }

  test("metadata.json carries the reference field set") {
    val nodes = Seq(("p1", "P"), ("p2", "P"), ("o1", "O"), ("o2", "O"))
      .toDF("fragment", "type")
    val j = MetadataJson.metadataJson(
      GraphOps.graphMetadata(nodes, typedEdges),
      components = 1L, maxComponentPct = "100.00%", diameter = 3L,
      transitivity = 0.0)
    assert(j.contains("\"nodes\":4"))
    assert(j.contains("\"pp_edges\":1"))
    assert(j.contains("\"max_component_pct\":\"100.00%\""))
    assert(j.contains("\"diameter\":3"))
  }

  test("features.json nests fragment -> feature -> 2dp value") {
    val j = MetadataJson.featuresJson(featuresOf(Seq(
      ("a", "f1", 0.123), ("a", "f2", 1.0), ("b", "f1", 2.5))))
    assert(j.contains("\"a\":{\"f1\":0.12,\"f2\":1.0}"))
    assert(j.contains("\"b\":{\"f1\":2.5}"))
  }

  test("features_metadata.json groups feature -> subnet -> stats") {
    for (cut <- Routes) {
      val stats = Chas.featuresMetadataSubnets(typedEdges, feats, 1, 1L,
        residentMaxEdges = cut)
      val j = MetadataJson.featuresMetadataJson(stats)
      assert(j.startsWith("{\"f\":{"), s"cut $cut")
      assert(j.contains("\"net\":{\"Abundance\":"), s"cut $cut")
      assert(j.contains("\"Random ChAs interval\":"), s"cut $cut")
      assert(j.contains("\"Mean degree\":"), s"cut $cut")
    }
  }

  test("distributed features sink writes one JSON line per fragment") {
    val dir = java.nio.file.Files.createTempDirectory("fj").toString + "/f"
    MetadataJson.featuresJsonLines(featuresOf(Seq(
      ("a", "f1", 0.5), ("a", "f2", 1.5))), dir)
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    assert(lines.length == 1)
    assert(lines(0).contains("\"fragment\":\"a\""))
    assert(lines(0).contains("\"f1\":0.5"))
  }

  test("mouse J4: MGI prefix stripped, promoter names sentence-cased") {
    val verts = Seq(
      ("1_1_2", "GENEA GENEB", "1", 1L, 2L, "P"),
      ("1_5_6", "oe names", "1", 5L, 6L, "O"))
      .toDF("fragment", "gene_names", "chr", "start", "end", "type")
    val alias = Seq(("GeneA", "ENSMUSG1", "MGI:12345"))
      .toDF("gene_name", "ensembl_gene_id", "alias")
    val out = Annotate.annotatePromoters(verts, alias, "mus_musculus")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(r.fieldIndex("alias")))).toMap
    assert(out("1_1_2")._1 == "Genea geneb") // str_to_sentence semantics
    assert(out("1_1_2")._2 == "12345 NA")    // MGI: stripped; miss -> NA
    assert(out("1_5_6")._1 == "oe names")    // O untouched
  }
}
