package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{Layout, Search, Serving}
import graft.io.CytoscapeJson

/** Driver-resident serving: a snapshot at or below the cutoff answers
  * every request form in the driver, row-identical to the relational
  * form over the pinned frames — nodes (with `searched`/`degree`),
  * edges, the rendered document and the CoSE positions — and a
  * request's search → render → layout runs no Spark job. Every form
  * runs with the snapshot's edge count at cutoff−1, cutoff and
  * cutoff+1. */
class ResidentServingSpec extends SparkSpec {
  import spark.implicits._

  // chr1: a name/alias star, a non-word name, a null-name node and an
  // isolated node; chr2: a chain reached trans-chromosome, with a
  // duplicated edge row and a dangling endpoint (3_100_199 has no
  // node row); X: a self-loop
  private def nodes = Seq[(String, String, String, Long, Long, String,
      String)](
    ("1_100_199", "Ezh2", "1", 100L, 199L, "P", "Enx1"),
    ("1_500_599", "Tp53 Ezh2l", "1", 500L, 599L, "O", null),
    ("1_900_999", "", "1", 900L, 999L, "O", null),
    ("1_2000_2099", "Hoxa1-2", "1", 2000L, 2099L, "P", "Hox-1.6"),
    ("1_5000_5099", null, "1", 5000L, 5099L, "O", null),
    ("1_9000_9099", "Lonely", "1", 9000L, 9099L, "P", null),
    ("2_100_199", "Kras", "2", 100L, 199L, "P", null),
    ("2_500_599", "Braf", "2", 500L, 599L, "O", null),
    ("2_800_899", "Myc", "2", 800L, 899L, "O", null),
    ("X_100_199", "Xist", "X", 100L, 199L, "P", null))
    .toDF("fragment", "gene_names", "chr", "start", "end", "type", "alias")

  private def edges = Seq(
    ("1_100_199", "1_500_599", 6.0), ("1_100_199", "1_900_999", 7.0),
    ("1_500_599", "1_2000_2099", 8.0), ("1_2000_2099", "2_100_199", 9.0),
    ("2_100_199", "2_500_599", 6.5), ("2_100_199", "2_500_599", 6.5),
    ("2_500_599", "2_800_899", 7.5), ("1_5000_5099", "1_900_999", 5.5),
    ("2_800_899", "3_100_199", 8.5), ("X_100_199", "X_100_199", 9.5))
    .toDF("src", "dst", "score")
  private val edgeCount = 10L

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("resident_spec").toString
    Serving.buildSnapshot(nodes, edges, d)
    d
  }
  // the snapshot's edge count at cutoff−1, at the cutoff, and at
  // cutoff+1 (the relational form)
  private lazy val below = Serving.open(spark, dir, edgeCount + 1)
  private lazy val at = Serving.open(spark, dir, edgeCount)
  private lazy val above = Serving.open(spark, dir, edgeCount - 1)

  private val e2n = Seq(("ensmusg00000029687", "Ezh2"))
    .toDF("ensembl_id", "gene_name")

  /** (label, query, expand, nearest) — every request form. */
  private val requests = Seq(
    ("name", "EZH2", 0L, false),
    ("name alias", "enx1", 0L, false),
    ("name non-word", "Hoxa1-2", 0L, false),
    ("list", "Kras,Tp53", 0L, false),
    ("list spaced", "Myc  xist", 0L, false),
    ("fragment", "2_500_599", 0L, false),
    ("ensembl", "ENSMUSG00000029687", 0L, false),
    ("range", "1:150-600", 0L, false),
    ("range expand", "1:1000-1100", 1000L, false),
    ("range nearest", "2:300-350", 0L, true),
    ("range fallback", "2:1000-1100", 0L, false),
    ("no match", "Zqx123", 0L, false),
    ("single node", "Lonely", 0L, false))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val json = new ObjectMapper()
  private def elements(doc: String): Seq[String] =
    if (doc == "{}") Seq(doc)
    else {
      val it = json.readTree(doc).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().toString)
        .toSeq.sorted
    }

  private def positions(sub: Search.Subnet): Seq[Row] =
    Layout.cose(sub.nodes.select(col("fragment").as("id")), sub.edges)
      .collect().toSeq.sortBy(_.getString(0))

  test("resident form is collected at and below the cutoff only") {
    assert(below.resident.isDefined)
    assert(at.resident.isDefined)
    assert(above.resident.isEmpty)
    assert(Serving.open(spark, dir, 0L).resident.isEmpty)
  }

  test("every request form: resident answers equal the relational ones") {
    for ((label, q, expand, nearest) <- requests) {
      val rel = Serving.search(above, q, Some(e2n), expand, nearest)
      val relDoc = CytoscapeJson.render(rel.nodes, rel.edges)
      for ((side, sd) <- Seq("cutoff-1" -> below, "cutoff" -> at)) {
        val res = Serving.search(sd, q, Some(e2n), expand, nearest)
        val what = s"$label '$q' at $side"
        assert(res.nodes.columns.toSeq == rel.nodes.columns.toSeq, what)
        assert(rows(res.nodes) == rows(rel.nodes), what)
        assert(rows(res.edges) == rows(rel.edges), what)
        val doc = CytoscapeJson.render(res.nodes, res.edges)
        assert(elements(doc) == elements(relDoc), what)
        if (doc != "{}") assert(positions(res) == positions(rel), what)
      }
    }
  }

  test("the request set reaches every shape it is meant to") {
    def ids(q: String, expand: Long = 0L, nearest: Boolean = false) =
      Serving.search(at, q, Some(e2n), expand, nearest).nodes
        .select("fragment").as[String].collect().toSet
    assert(ids("Hoxa1-2") ==
      Set("1_2000_2099", "1_500_599", "2_100_199"))
    assert(ids("2:300-350", nearest = true) ==
      Set("2_100_199"))
    assert(ids("Zqx123").isEmpty)
    assert(ids("Lonely") == Set("1_9000_9099"))
    // the duplicated edge row survives, and counts twice in degree
    val kras = Serving.search(at, "Kras", Some(e2n))
    assert(kras.edges.filter(col("dst") === "2_500_599").count() == 2)
    assert(kras.nodes.filter(col("fragment") === "2_500_599")
      .select("degree").as[Long].head() == 2L)
    // the dangling endpoint has no node row but stays an edge
    assert(Serving.search(at, "Myc", Some(e2n)).edges
      .filter(col("dst") === "3_100_199").count() == 1)
  }

  test("geneSearch: resident equals relational for word and non-word terms") {
    for (term <- Seq("EZH2", "hox", "Hoxa1-2", "Hox-1.6", "nosuch")) {
      val rel = Serving.geneSearch(above, term)
      val res = Serving.geneSearch(at, term)
      assert(rows(res.nodes) == rows(rel.nodes), term)
      assert(rows(res.edges) == rows(rel.edges), term)
    }
  }

  test("a resident request runs no Spark job through search, render, cose") {
    for ((q, expand, nearest) <- Seq(("EZH2", 0L, false),
        ("Kras,Tp53", 0L, false), ("2_500_599", 0L, false),
        ("1:1000-1100", 1000L, false))) {
      def request(sd: Serving.ServedDataset) =
        JobCount.of(spark.sparkContext) {
          val sub = Serving.search(sd, q, None, expand, nearest)
          val doc = CytoscapeJson.render(sub.nodes, sub.edges)
          positions(sub)
          doc
        }
      val (doc, jobs) = request(at)
      assert(doc != "{}", q)
      assert(jobs == 0, s"'$q' ran $jobs Spark jobs")
      // the counter sees the relational form's jobs
      assert(request(above)._2 > 0, q)
    }
  }
}
