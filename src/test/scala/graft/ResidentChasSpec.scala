package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import graft.core.{Chas, Regime, ResidentChas}
import graft.io.MetadataJson

/** Driver-resident ChAs layers: at or below the cutoff,
  * `Chas.featuresMetadataSubnets` and `Chas.aggregateOntoFragments`
  * answer in the driver with the relational plans' rows, their
  * documents byte for byte, and no Spark job over local inputs. Each
  * runs with its larger input at cutoff−1, cutoff and cutoff+1 (the
  * relational form). */
class ResidentChasSpec extends SparkSpec {
  import spark.implicits._

  // p1-p2-p3 a P-P triangle; P-O spokes, one edge of another type
  // ("O-O", so "po") and a self-loop; "iso" has features but no edge
  private def typedEdges = Seq(
    ("p1", "p2", "P-P"), ("p2", "p3", "P-P"), ("p3", "p1", "P-P"),
    ("p1", "o1", "P-O"), ("p2", "o2", "P-O"), ("p3", "o3", "P-O"),
    ("p1", "o4", "P-O"), ("o1", "o4", "O-O"), ("o2", "o2", "P-O"))
    .toDF("src", "dst", "type")

  // no P-P edge: an empty "pp" subnet
  private def poOnly = Seq(
    ("p1", "o1", "P-O"), ("p2", "o2", "P-O"), ("p1", "o2", "P-O"),
    ("p3", "o3", "P-O"), ("p2", "o4", "P-O"))
    .toDF("src", "dst", "type")

  // "flat": zero variance; "sig": varied, a null on o2; "oe": other
  // ends only (absent from "pp"); "iso" carries values but no edge
  private def feats = Seq[(String, String, java.lang.Double)](
    ("p1", "flat", 1.0), ("p2", "flat", 1.0), ("p3", "flat", 1.0),
    ("o1", "flat", 1.0), ("o2", "flat", 1.0), ("o3", "flat", 1.0),
    ("p1", "sig", 0.5), ("p2", "sig", 2.0), ("p3", "sig", 0.0),
    ("o1", "sig", 3.0), ("o2", "sig", null), ("o3", "sig", 1.25),
    ("o4", "sig", 0.75),
    ("o1", "oe", 1.0), ("o2", "oe", 0.0), ("o3", "oe", 2.5),
    ("o4", "oe", 0.25),
    ("iso", "sig", 4.0), ("iso", "oe", 1.0))
    .toDF("fragment", "feature", "value")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def columns(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  /** The row count that routes a call: its larger input's. */
  private def rowCount(a: DataFrame, b: DataFrame): Long =
    math.max(a.count(), b.count())

  private def stats(edges: DataFrame, cut: Long) =
    Chas.featuresMetadataSubnets(edges, feats, nReplicates = 3, seed = 42L,
      residentMaxEdges = cut)

  for ((name, edges) <- Seq(("typed", () => typedEdges),
                            ("P-O only", () => poOnly)))
    test(s"features metadata ($name): resident == relational at cutoff−1, cutoff, cutoff+1") {
      val n = rowCount(edges(), feats)
      val relational = stats(edges(), n - 1)
      val want = rowsOf(relational)
      val json = MetadataJson.featuresMetadataJson(relational)
      for (cut <- Seq(n + 1, n)) {
        val resident = stats(edges(), cut)
        assert(resident.queryExecution.optimizedPlan.getClass.getSimpleName ==
          "LocalRelation")
        assert(columns(resident) == columns(relational))
        assert(rowsOf(resident) == want, s"cut $cut")
        assert(MetadataJson.featuresMetadataJson(resident) == json)
      }
      // the fixture reaches what it is for
      val net = relational.collect().filter(_.getString(0) == "net")
        .map(r => r.getString(1) -> r).toMap
      assert(net("flat").isNullAt(3)) // zero variance: null ChAs
      assert(!net("sig").isNullAt(3))
      val subnets = relational.collect().map(r => (r.getString(0), r.getString(1))).toSet
      if (name == "typed") {
        assert(subnets(("pp", "sig")) && !subnets(("pp", "oe")))
      } else assert(!subnets.exists(_._1 == "pp"))
    }

  test("features metadata: raw ChAs agrees with the relational Pearson within 1e-12") {
    val raw = ResidentChas.subnetStats(typedEdges.collect(), feats.collect(),
      nReplicates = 1, seed = 42L, rounds = Chas.DefaultRounds)
      .filter(_.subnet == "net").map(s => s.feature -> s.chas).toMap
    val rel = Chas.chas(typedEdges.select("src", "dst"), feats).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null
        else java.lang.Double.valueOf(r.getDouble(1)))).toMap
    assert(raw.keySet == rel.keySet)
    assert(raw("flat") == null && rel("flat") == null)
    for (f <- Seq("sig", "oe"))
      assert(math.abs(raw(f) - rel(f)) <= 1e-12, s"$f: ${raw(f)} vs ${rel(f)}")
  }

  // chr1: fragments at 0.1/1/2/3 Mb; chr2 touched at both ends; chr3 has
  // no interval; chr9 has intervals and no fragment
  private def fragments = Seq(
    ("1_100_199", "1", 100L, 199L),
    ("1_1000000_1000999", "1", 1000000L, 1000999L),
    ("1_2000000_2000999", "1", 2000000L, 2000999L),
    ("1_3000000_3000999", "1", 3000000L, 3000999L),
    ("2_500_599", "2", 500L, 599L),
    ("2_900_999", "2", 900L, 999L),
    ("3_100_199", "3", 100L, 199L))
    .toDF("fragment", "chr", "start", "end")

  private def intervals = Seq[(String, Long, Long, String, java.lang.Double)](
    // spans four 1 Mb buckets
    ("1", 150L, 3000499L, "f1", 2.0),
    ("1", 120L, 160L, "f1", 4.0),
    ("1", 1000500L, 1000999L, "f2", null), // a null value
    ("1", 1000400L, 1000700L, "f2", 1.5),
    // end touches 2_500_599's start; start touches its end; twice
    ("2", 400L, 500L, "f1", 0.25),
    ("2", 599L, 700L, "f1", 0.5),
    ("2", 599L, 700L, "f1", 0.5),
    ("2", 550L, 920L, "f2", 3.0),
    ("2", 950L, 960L, "f2", null),
    ("1", 3000100L, 3000200L, "f2", null), // its fragment's only f2
    ("9", 1L, 100L, "f1", 8.0))
    .toDF("chr", "start", "end", "feature", "value")

  private val modes = Seq("mean" -> false, "min" -> false, "max" -> false,
    "mean" -> true)

  private def agg(auxfun: String, proportion: Boolean, cut: Long) =
    Chas.aggregateOntoFragments(fragments, intervals, auxfun,
      proportion = proportion, residentMaxEdges = cut)

  for ((auxfun, proportion) <- modes) {
    val mode = if (proportion) "proportion" else auxfun
    test(s"aggregate ($mode): resident == relational at cutoff−1, cutoff, cutoff+1") {
      val n = rowCount(fragments, intervals)
      val relational = agg(auxfun, proportion, n - 1)
      val want = rowsOf(relational)
      val json = MetadataJson.featuresJson(relational)
      for (cut <- Seq(n + 1, n)) {
        val resident = agg(auxfun, proportion, cut)
        assert(resident.queryExecution.optimizedPlan.getClass.getSimpleName ==
          "LocalRelation")
        assert(columns(resident) == columns(relational))
        assert(rowsOf(resident) == want, s"cut $cut")
        assert(MetadataJson.featuresJson(resident) == json)
      }
      // 7 fragments × {f1, f2}, chr3 filled with the missing value
      assert(want.size == 14)
      assert(relational.collect().filter(_.getString(0) == "3_100_199")
        .forall(_.getDouble(2) == 0.0))
    }
  }

  test("aggregate: covered proportion counts touching and duplicated intervals once") {
    val got = agg("mean", proportion = true, cut = 100L).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // f1 on a 100 bp fragment: [500,500] ∪ [599,599] (twice) = 2 bp
    assert(got(("2_500_599", "f1")) == 0.02)
    assert(got(("2_500_599", "f2")) == 0.5)
    assert(got(("2_900_999", "f2")) == 0.32)
    assert(got(("1_2000000_2000999", "f1")) == 1.0)
  }

  test("resident compute over local frames runs no Spark job") {
    val (_, statJobs) = JobCount.of(spark.sparkContext) {
      stats(typedEdges, 1000L).collect()
    }
    assert(statJobs == 0)
    for ((auxfun, proportion) <- modes) {
      val (_, aggJobs) = JobCount.of(spark.sparkContext) {
        agg(auxfun, proportion, 1000L).collect()
      }
      assert(aggJobs == 0, s"$auxfun/$proportion")
    }
    val (_, relJobs) = JobCount.of(spark.sparkContext) {
      agg("mean", proportion = false, 0L).collect()
    }
    assert(relJobs > 0)
  }

  test("collectAtMost over planned frames: one job, no rows past the cutoff") {
    val remote = spark.range(0L, 10L, 1L, 3).toDF("id")
    val local = Seq(1L, 2L).toDF("id")
    val (got, jobs) = JobCount.of(spark.sparkContext) {
      Regime.collectAtMost(10L, remote, local)
    }
    assert(jobs == 1)
    assert(got.map(_.map(_.map(_.getLong(0)).toSeq.sorted)) ==
      Some(Seq((0L until 10L).toSeq, Seq(1L, 2L))))
    val (over, overJobs) = JobCount.of(spark.sparkContext) {
      Regime.collectAtMost(9L, remote, local)
    }
    assert(over.isEmpty && overJobs == 1)
    // an oversized local frame decides with no job at all
    val (overLocal, localJobs) = JobCount.of(spark.sparkContext) {
      Regime.collectAtMost(1L, remote, local)
    }
    assert(overLocal.isEmpty && localJobs == 0)
    // the statistics over a planned (non-local) edge frame: the fetch
    // job, then the driver kernel, with the relational rows
    val planned = typedEdges.repartition(2)
    val n = rowCount(planned, feats)
    assert(rowsOf(stats(planned, n)) == rowsOf(stats(planned, n - 1)))
  }
}
