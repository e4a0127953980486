package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import graft.core.{Interactions, Pipeline}

/** Driver-resident dataset build: at or below the cutoff, a build's
  * `resident` form computes its vertices and edges in the driver as
  * local frames with the relational plans' rows and schemas, and the
  * metadata derived over them equal; over local inputs it runs no Spark
  * job. Each case runs with its largest input at cutoff−1 (the
  * relational form), cutoff and cutoff+1. */
class ResidentBuildSpec extends SparkSpec {
  import spark.implicits._

  private type I = (String, java.lang.Long, java.lang.Long, Long, String,
    String, java.lang.Long, java.lang.Long, Long, String, Long,
    java.lang.Double)

  private def row(bc: String, bs: Long, be: Long, bn: String, oc: String,
                  os: Long, oe: Long, on: String, score: java.lang.Double): I =
    (bc, bs, be, 0L, bn, oc, os, oe, 0L, on, 0L, score)

  // (bait → other end, score): "1_1000_1999"'s names carry "-1"
  // suffixes and ";"/"," lists; 2_3000_3999 ⇄ 1_1000_1999 appears three
  // times (reversed at an equal score, then higher); 1_5000_5999 is an
  // other end and a bait; 7_100000_100999 is named "." (no token);
  // the other end 3_999000_1000500 spans two buckets; a self-loop, a
  // null score, a score at the threshold and an MT row drop
  private def interactions = Seq[I](
    row("1", 1000, 1999, "Hoxa1-1;Hoxb2", "1", 5000, 5999, "P5", 6.0),
    row("1", 1000, 1999, "hoxa1-201,Extra", "2", 3000, 3999, "P3", 7.0),
    row("2", 3000, 3999, "Bx", "1", 1000, 1999, ".", 7.0),
    row("1", 1000, 1999, "Hoxa1-1", "2", 3000, 3999, "P3", 9.0),
    row("2", 3000, 3999, "Bx", "2", 3000, 3999, "Bx", 9.0),
    row("1", 1000, 1999, "Hoxa1", "1", 8000, 8999, "Q", null),
    row("1", 1000, 1999, "Hoxa1", "1", 9000, 9999, "Q", 5.0),
    row("MT", 10, 20, "Mt1", "1", 1000, 1999, "X", 10.0),
    row("7", 100000, 100999, ".", "7", 2000000, 2000999, "", 12.0),
    row("7", 100000, 100999, ".", "3", 50, 149, "Oname-2 x", 6.5),
    row("3", 200, 299, "Sox2-1 Sox2", "7", 2000000, 2000999, "o", 20.0),
    row("X", 10, 20, "Gata1", "X", 500, 600, null, 5.5),
    row("1", 7000, 7999, "Émx1", "1", 5000, 5999, "P5b", 6.0),
    row("1", 5000, 5999, "Pf", "1", 1000, 1999, "q", 10.0),
    row("1", 5000, 5999, "Pf", "X", 500, 600, "r", 11.0),
    row("X", 10, 20, "Gata1", "3", 999000, 1000500, "s", 8.0))
    .toDF("baitChr", "baitStart", "baitEnd", "baitID", "baitName", "oeChr",
      "oeStart", "oeEnd", "oeID", "oeName", "dist", "score")

  // a multi-row bait fragment (with a null name), a name for an other
  // end (not applied) and one for no fragment
  private def baitNames = Seq[(String, Long, Long, String)](
    ("1", 1000, 1999, "Hoxa1-201,Hoxa1"), ("1", 1000, 1999, "Abc"),
    ("1", 1000, 1999, null), ("2", 3000, 3999, "Bx-1;By"),
    ("X", 500, 600, "NotP"), ("9", 1, 2, "Nowhere"))
    .toDF("Chr", "Start", "End", "gene_id")

  // ranges touching 7_2000000_2000999 at either end, a reversed one
  // inside it, null coordinates and chromosome, a null name, a reversed
  // one across two buckets and a two-bucket one over 3_999000_1000500
  private def aliasRanges = Seq[(String, java.lang.Long, java.lang.Long, String)](
    ("7", 2000999L, 2100000L, "TouchEnd"), ("7", 1999000L, 2000000L, "TouchStart"),
    ("7", 2000500L, 2000400L, "Reversed"), ("7", null, 2000500L, "NullStart"),
    (null, 1L, 2000000L, "NullChr"), ("3", 100L, 120L, null),
    ("3", 1000200L, 999500L, "RevWide"), ("3", 990000L, 1500000L, "Wide"),
    ("X", 0L, 10L, "Miss"))
    .toDF("chr", "start", "end", "gene_name")

  // two spellings of one name, a non-ASCII alias and name, null
  // ensembl id, alias and gene_name
  private def aliasNames = Seq[(String, String, String)](
    ("HOXA1", "ENSG1", "hx1"), ("Hoxa1", "ENSG1b", null),
    ("ABC", "ENSG2", "Ä-alias"), ("BX", null, "bx"), (null, "ENSG0", "none"),
    ("ÉMX1", "ENSG3", "emx"), ("GATA1", "ENSG4", "g1"),
    ("SOX2", "ENSG5", "s2"))
    .toDF("gene_name", "ensembl_gene_id", "alias")

  private def intronic = Seq[(String, java.lang.Long, java.lang.Long)](
    ("X", 600L, 700L), ("3", 149L, 149L), ("7", 2000900L, 2000100L),
    ("7", null, null), ("1", 1000L, 1999L))
    .toDF("chr", "start", "end")

  private def all = Pipeline.Annotations(Some(baitNames), Some(aliasRanges),
    Some(aliasNames), Some(intronic))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def build(a: Pipeline.Annotations, chromosome: Option[String],
                    hasNames: Boolean, cut: Long) =
    Pipeline.build(interactions, 5.0, a, chromosome, hasNames,
      residentMaxEdges = cut)

  /** The row count that routes a build: its largest input's. */
  private def rowCount(a: Pipeline.Annotations, chromosome: Option[String]) = {
    val w = Interactions.dropMT(Interactions.filterByThreshold(interactions, 5.0))
    val working = chromosome.filter(_ != "PP")
      .fold(w)(Interactions.filterByChromosome(w, _))
    (working +: Seq(a.baitNames, a.aliasRanges, a.aliasNames, a.intronic)
      .flatten).map(_.count()).max
  }

  private val cases = Seq(
    ("all annotations", all, None, true),
    ("chromosome 7", all, Some("7"), true),
    ("PP", all, Some("PP"), true),
    ("no names", all, None, false),
    ("no bait names", all.copy(baitNames = None), None, true),
    ("no annotations", Pipeline.Annotations(), None, true))

  for ((name, a, chromosome, hasNames) <- cases)
    test(s"build ($name): resident == relational at cutoff−1, cutoff, cutoff+1") {
      val n = rowCount(a, chromosome)
      val relational = build(a, chromosome, hasNames, n - 1)
      assert(relational.resident eq relational)
      assert(!isLocal(relational.nodes) && !isLocal(relational.edges))
      for (cut <- Seq(n + 1, n)) {
        val resident = build(a, chromosome, hasNames, cut).resident
        assert(isLocal(resident.nodes) && isLocal(resident.edges))
        assert(resident.nodes.schema == relational.nodes.schema)
        assert(resident.edges.schema == relational.edges.schema)
        assert(rowsOf(resident.nodes) == rowsOf(relational.nodes), s"cut $cut")
        assert(rowsOf(resident.edges) == rowsOf(relational.edges), s"cut $cut")
        assert(rowsOf(resident.degrees) == rowsOf(relational.degrees))
        assert(resident.graphMetadata.collect().toSeq ==
          relational.graphMetadata.collect().toSeq)
        assert(resident.suggestions.collect().toSeq ==
          relational.suggestions.collect().toSeq)
        assert(resident.chromosomes.collect().toSeq ==
          relational.chromosomes.collect().toSeq)
      }
    }

  private def isLocal(df: DataFrame) =
    df.queryExecution.optimizedPlan.getClass.getSimpleName == "LocalRelation"

  test("build: the fixture reaches every rule") {
    val ds = build(all, None, hasNames = true, 0L)
    val nodes = ds.nodes.collect().map(r => r.getString(0) -> r).toMap
    def names(f: String) = nodes(f).getString(1)
    // the equal-score tie keeps the lesser src; 1_5000_5999 is a bait
    val edges = ds.edges.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(edges(("1_1000_1999", "2_3000_3999")).getDouble(2) == 7.0)
    assert(edges(("1_1000_1999", "1_5000_5999")).getString(3) == "P-P")
    assert(!edges.keySet.exists(e => e._1 == e._2))
    // J2: the least bait name of a multi-row fragment
    assert(names("1_1000_1999") == "Abc")
    assert(names("7_100000_100999") == "")
    // J3: touching, reversed and two-bucket ranges; a null name is NA
    assert(names("7_2000000_2000999") == "Reversed TouchEnd TouchStart")
    assert(names("3_50_149") == "NA")
    assert(names("3_999000_1000500") == "RevWide Wide")
    // J4: the non-ASCII name and alias, NA for nulls and misses, a
    // promoter with no token
    val ens = nodes.map { case (f, r) => f -> (r.getString(6), r.getString(7)) }
    assert(ens("1_1000_1999") == (("ENSG2", "Ä-alias")))
    assert(ens("1_7000_7999") == (("ENSG3", "emx")))
    assert(ens("2_3000_3999") == (("NA", "NA bx")))
    assert(ens("7_100000_100999") == (("", "")))
    // J6: an end-touching region and a reversed one, promoters never
    assert(nodes("X_500_600").getBoolean(8))
    assert(nodes("3_50_149").getBoolean(8))
    assert(nodes("7_2000000_2000999").getBoolean(8))
    assert(!nodes("1_1000_1999").getBoolean(8))
  }

  test("resident build over local inputs runs no Spark job") {
    val (_, jobs) = JobCount.of(spark.sparkContext) {
      val ds = build(all, None, hasNames = true, 1000L).resident
      ds.nodes.collect(); ds.edges.collect()
    }
    assert(jobs == 0)
    val (_, relJobs) = JobCount.of(spark.sparkContext) {
      build(all, None, hasNames = true, 0L).nodes.collect()
    }
    assert(relJobs > 0)
  }
}
