package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import graft.core.{GraphOps, LocalGraph, Pipeline, Regime}

/** The tree writer's driver route: over a resident dataset every tree
  * file equals, byte for byte, the relational route's (the build's
  * cutoff 0), and after the dataset's fetch the write runs no Spark
  * job. The driver graph passes are checked against the relational and
  * sequential ones on seeded random graphs. */
class ResidentTreeSpec extends SparkSpec {
  import spark.implicits._

  private def row(bc: String, bs: Long, be: Long, bn: String, oc: String,
                  os: Long, oe: Long, on: String) =
    (bc, bs, be, 0L, bn, oc, os, oe, 0L, on, 0L, 9.0)

  private def frame(rows: Seq[(String, Long, Long, Long, String, String, Long,
                               Long, Long, String, Long, Double)]) =
    rows.toDF("baitChr", "baitStart", "baitEnd", "baitID", "baitName",
      "oeChr", "oeStart", "oeEnd", "oeID", "oeName", "dist", "score")

  // two components of four nodes each: {1_100_199, 1_500_599,
  // 12_100_199, Y_5_6} (one triangle; Y holds a single node) and
  // {123_10_20, X_10_20, X_30_40, X_50_60} (a path of three edges);
  // non-ASCII, ";"/","-joined and repeated name tokens; the scaffolds
  // 12 and 123 beside X and Y
  private def main = frame(Seq(
    row("1", 100, 199, "Émx1;Ä", "1", 500, 599, "x"),
    row("1", 100, 199, "Émx1;Ä", "12", 100, 199, "Gata1,Sox2"),
    row("1", 500, 599, "Pb", "12", 100, 199, "Gata1,Sox2"),
    row("1", 100, 199, "Émx1;Ä", "Y", 5, 6, "y;;z, w"),
    row("123", 10, 20, "Zz", "X", 10, 20, "Yy"),
    row("123", 10, 20, "Zz", "X", 30, 40, " Émx1 ."),
    row("X", 10, 20, "Xb", "X", 50, 60, "")))

  // a triangle-free star: one bait, four other ends, 6 triads
  private def star = frame(Seq(
    row("5", 0, 9, "Hub", "5", 100, 109, "a"),
    row("5", 0, 9, "Hub", "5", 200, 209, "b"),
    row("5", 0, 9, "Hub", "6", 1, 2, "c"),
    row("5", 0, 9, "Hub", "6", 3, 4, "d")))

  private def features = featuresOf(Seq(
    ("1_100_199", "CTCF", 1.0), ("12_100_199", "CTCF", 0.0),
    ("X_10_20", "H3K27ac", 2.5), ("123_10_20", "CTCF", 1.0),
    ("5_0_9", "CTCF", 3.0), ("5_100_109", "H3K27ac", 1.5)))

  private def files(root: Path): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap

  /** The tree files written from `raw` with the build's cutoff `cut`. */
  private def tree(raw: DataFrame, cut: Long, chromosome: Option[String] = None,
                   chromosomesToWrite: Option[Seq[String]] = None,
                   docLayout: Option[String] = Some("grid")): Map[String, String] = {
    val out = Files.createTempDirectory("graftrtree")
    Pipeline.writeDatasetTree(
      Pipeline.build(raw, chromosome = chromosome, residentMaxEdges = cut),
      out.toString, features = Some(features),
      chromosomesToWrite = chromosomesToWrite, docLayout = docLayout)
    files(out)
  }

  /** Both routes' trees, asserted equal file for file. */
  private def bothRoutes(raw: DataFrame, chromosome: Option[String] = None,
                         chromosomesToWrite: Option[Seq[String]] = None,
                         docLayout: Option[String] = Some("grid"))
      : Map[String, String] = {
    val relational = tree(raw, 0L, chromosome, chromosomesToWrite, docLayout)
    val resident = tree(raw, Regime.ResidentMaxEdges, chromosome,
      chromosomesToWrite, docLayout)
    assert(resident.keySet == relational.keySet)
    for ((f, bytes) <- relational) assert(resident(f) == bytes, s"$f differs")
    resident
  }

  test("resident tree == relational tree: components, scaffolds, names") {
    val t = bothRoutes(main)
    val meta = t("metadata.json")
    assert(meta.contains(""""components":2,"max_component_pct":"50.00%""""))
    assert(meta.contains(""""diameter":3,"transitivity":0.43"""))
    assert(t("chromosomes.json") == """["1","12","123","PP","X","Y"]""")
    assert(t("suggestions.json").contains(""""Ä""""))
    assert(t("suggestions.json").contains(""""Émx1""""))
    assert(t("chromosomes/chrPP.json") == "{}")
    // Y's document: its one node and its edge's other end
    assert(t("chromosomes/chrY.json").split("\"group\":\"nodes\"").length == 3)
    assert(t.contains("features_metadata.json"))
  }

  test("resident tree == relational tree: chromosomesToWrite, no layout") {
    val t = bothRoutes(main, chromosomesToWrite = Some(Seq("12", "X", "PP", "9")),
      docLayout = None)
    assert(t.keySet.filter(_.startsWith("chromosomes/")) ==
      Set("12", "X", "PP", "9").map(c => s"chromosomes/chr$c.json"))
    assert(t("chromosomes/chr9.json") == "{}")
    assert(!t("chromosomes/chrX.json").contains("position"))
  }

  test("resident tree == relational tree: a triangle-free star") {
    val meta = bothRoutes(star)("metadata.json")
    assert(meta.contains(""""components":1,"max_component_pct":"100.00%""""))
    assert(meta.contains(""""diameter":2,"transitivity":0.0"""))
  }

  test("resident tree == relational tree: an empty edge set") {
    // the PP slice of a star keeps its nodes and none of its edges
    val t = bothRoutes(star, chromosome = Some("PP"))
    val meta = t("metadata.json")
    assert(meta.contains(""""edges":0,"mean_degree":0.0,"components":0,""" +
      """"max_component_pct":"0.00%","diameter":0,"transitivity":0.0"""))
    assert(t("chromosomes.json") == """["5","6","PP"]""")
    assert(Seq("5", "6", "PP").forall(c => t(s"chromosomes/chr$c.json") == "{}"))
  }

  test("the driver route runs no job after the fetch; the relational one does") {
    val ds = Pipeline.build(main).resident
    ds.nodes // the fetch
    val local = features
    val (_, jobs) = JobCount.of(spark.sparkContext) {
      Pipeline.writeDatasetTree(ds,
        Files.createTempDirectory("graftrtree").toString, features = Some(local))
    }
    assert(jobs == 0)
    assert(Pipeline.lastTreeTimings.keySet == Set("symmetrize",
      "componentStats", "diameter", "transitivity", "graphMetadata",
      "suggestions", "chromosomes", "featuresMetadata", "chromosomeDocs",
      "chromosomeDocsWrite"))
    val (_, relJobs) = JobCount.of(spark.sparkContext) {
      Pipeline.writeDatasetTree(Pipeline.build(main, residentMaxEdges = 0L),
        Files.createTempDirectory("graftrtree").toString, features = Some(local))
    }
    assert(relJobs > 0)
  }

  test("LocalGraph triangles/triads == GraphOps.transitivity; driver " +
      "diameter == sequential iFUB, on seeded random graphs") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val n = 4 + rnd.nextInt(30)
      // repeated and reversed pairs, no self-loops
      val pairs = Seq.fill(n + rnd.nextInt(3 * n)) {
        (rnd.nextInt(n), rnd.nextInt(n))
      }.filter { case (a, b) => a != b }
        .map { case (a, b) => (s"v$a", s"v$b") }
      val g = LocalGraph.build(pairs.iterator.flatMap { case (a, b) =>
        Iterator((a, b), (b, a)) })
      val r = GraphOps.transitivity(edgesOf(pairs)).collect()(0)
      assert(LocalGraph.triangleTriads(g) == ((r.getLong(0), r.getLong(1))),
        s"seed $seed")
      assert(LocalGraph.diameterDriver(g) == LocalGraph.diameterExact(g),
        s"seed $seed")
    }
  }
}
