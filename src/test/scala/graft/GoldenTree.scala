package graft

import org.apache.spark.sql.SparkSession
import graft.core.{Pipeline, Regime}

/** Shared builder for the output-tree golden: ONE build configuration
  * used both by the checked-in golden generator (GoldenGen) and the
  * byte-compare spec (PipelineTreeSpec). Threshold 47 keeps the graph
  * small enough that the spec's diameter/randomization passes stay
  * fast; the ASSEMBLY under test (metadata/suggestions/chromosomes/
  * features_metadata/chr docs) is the full reference layout. */
object GoldenTree {
  val sfDir = "/root/testdata/sf0.001"
  val goldenDir = "src/test/resources/golden"

  def dataset(spark: SparkSession,
              residentMaxEdges: Long = Regime.ResidentMaxEdges)
      : Pipeline.BuiltDataset =
    Pipeline.build(
      TestMapping.interactions(spark, sfDir),
      threshold = TestMapping.ThinScore,
      annotations = Pipeline.Annotations(
        baitNames = Some(TestMapping.baitNamesTable(spark, sfDir)),
        aliasRanges = Some(TestMapping.aliasRanges(spark, sfDir)),
        aliasNames = Some(TestMapping.aliasTable(spark, sfDir)),
        intronic = Some(TestMapping.intronicRegions(spark, sfDir))),
      residentMaxEdges = residentMaxEdges)

  def write(spark: SparkSession, outDir: String,
            distributedDocs: Option[Boolean] = None,
            residentMaxEdges: Long = Regime.ResidentMaxEdges): Unit = {
    val ds = dataset(spark, residentMaxEdges)
    val twoChrs = ds.chromosomes.collect().map(_.getString(0)).take(2).toSeq
    Pipeline.writeDatasetTree(ds, outDir,
      features = Some(TestMapping.features(spark, sfDir)),
      chromosomesToWrite = Some(twoChrs),
      distributedDocs = distributedDocs)
  }
}

/** One-shot golden (re)generator:
  * sbt "Test/runMain graft.GoldenGen" — writes the tree into
  * src/test/resources/golden for PipelineTreeSpec to compare against.
  * Regenerate ONLY on an intentional format change, and review the
  * diff. */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GoldenTree.write(spark, GoldenTree.goldenDir)
    println(s"[golden] wrote ${GoldenTree.goldenDir}")
    spark.stop()
  }
}
