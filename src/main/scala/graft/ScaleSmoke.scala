package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** 10×-scale smoke of the at-scale regimes (round-7 verdict item 7):
  * a ~50M-edge synthetic PCHiC-shaped graph — ABOVE every
  * bounded-regime cutoff (`GraphOps.LocalMaxEdges` 5M,
  * `Chas.LocalMaxChainRows` 5M, `Pipeline.DocStreamMaxEdges` 20M) —
  * driven end-to-end through distributed CC, certified diameter
  * (broadcast-CSR iFUB: ~94M sym rows sits inside the ≤100M CSR band,
  * which IS the designed regime at this size), the windowed distributed
  * swap chain, and `writeDatasetTree` with executor-written document
  * directories.
  *
  * Stages run as separate JVM invocations (`gen`/`graph`/`chain`/
  * `tree`) so each gets isolated wall-clock and its shuffle/spill dirs
  * are reclaimed at exit: the full-size chain and the document write
  * each hold tens of GB of transient state, and one long-lived app
  * would accumulate both on an 80 GB disk.
  *
  * The synthetic graph reuses the TestMapping fragment arithmetic
  * (chr = key%25, start = key*1000) over hashed endpoints: ~`nEdges/2`
  * fragments at mean symmetric degree ~4 — a sparse near-ER giant
  * component whose diameter is small enough for iFUB to certify while
  * still forcing full BFS waves over the whole graph. Scores land in
  * [26, 75] so the threshold keeps every non-MT row.
  */
object ScaleSmoke {

  private def session(): SparkSession = LocalSession("32", "64",
    "spark.app.name" -> "graft-scale-smoke",
    "spark.driver.maxResultSize" -> "16g")

  /** Raw 12-column PCHiC-shaped frame, TestMapping.interactions shape
    * (score at positional column 12). */
  private def rawInteractions(spark: SparkSession, nEdges: Long): DataFrame = {
    import TestMapping.{chrmap, baitName}
    val nodeSpace = math.max(nEdges / 2, 25L)
    val base = spark.range(nEdges).select(
      (pmod(xxhash64(col("id"), lit(1)), lit(nodeSpace)) + 1).as("s"),
      (pmod(xxhash64(col("id"), lit(2)), lit(nodeSpace)) + 1).as("k"),
      (pmod(xxhash64(col("id"), lit(3)), lit(50)) + 26)
        .cast("double").as("q"))
    val s = col("s"); val k = col("k")
    base.select(
      chrmap(s).as("baitchr"), (s * 1000).as("baitstart"),
      (s * 1000 + 999).as("baitend"), s.as("baitid"),
      baitName(s).as("baitname"),
      chrmap(k).as("oechr"), (k * 1000).as("oestart"),
      (k * 1000 + 999).as("oeend"), k.as("oeid"),
      concat(lit("P"), k.cast("string")).as("oename"),
      (abs(k - s) * 1000).as("dist"),
      col("q").as("score"))
  }

  private def emit(stage: String, fields: (String, Any)*): Unit = {
    val body = fields.map {
      case (n, v: String) => s""""$n":"$v""""
      case (n, v)         => s""""$n":$v"""
    }.mkString(",")
    println(s"""{"smoke":"$stage",$body}""")
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val stage = if (args.length > 0) args(0) else "all"
    val nEdges = if (args.length > 1) args(1).toLong else 50000000L
    val outDir = if (args.length > 2) args(2) else "/tmp/scale_smoke"
    val spark = session()
    val rawPath = s"$outDir/raw.parquet"

    if (stage == "gen" || stage == "all") {
      val (_, t) = timed {
        rawInteractions(spark, nEdges).write.mode("overwrite").parquet(rawPath)
      }
      emit("gen", "rows" -> nEdges, "sec" -> f"$t%.1f".toDouble)
    }

    def built() = Pipeline.build(spark.read.parquet(rawPath), threshold = 25.0)

    if (stage == "graph" || stage == "all") {
      import org.apache.spark.storage.StorageLevel
      val ds = built()
      val edges = ds.edges.persist(StorageLevel.MEMORY_AND_DISK)
      val nE = edges.count()
      val sym = GraphOps.symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
      val nSym = sym.count()
      val (cs, tCc) = timed {
        GraphOps.componentStatsSym(sym, nSym).collect()(0)
      }
      emit("cc", "edges" -> nE, "symRows" -> nSym,
        "components" -> cs.getLong(0),
        "maxComponentPct" -> cs.getString(1), "sec" -> f"$tCc%.1f".toDouble)
      val (dRow, tD) = timed {
        GraphOps.diameterCertifiedSym(sym, nSym).collect()(0)
      }
      emit("diameter", "diameter" -> dRow.getLong(0),
        "exact" -> dRow.getBoolean(dRow.fieldIndex("exact")),
        "sec" -> f"$tD%.1f".toDouble)
    }

    if (stage == "chain" || stage == "all") {
      val edges = built().edges.select("src", "dst")
      val (n, t) = timed {
        Chas.randomize(edges, nReplicates = 2, seed = 42L).count()
      }
      emit("chain", "outRows" -> n, "sec" -> f"$t%.1f".toDouble)
    }

    if (stage == "tree" || stage == "all") {
      val (_, t) = timed {
        Pipeline.writeDatasetTree(built(), s"$outDir/tree")
      }
      val du = {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val p = Paths.get(s"$outDir/tree")
        if (Files.exists(p))
          Files.walk(p).iterator().asScala
            .filter(Files.isRegularFile(_)).map(Files.size).sum / (1L << 20)
        else 0L
      }
      emit("tree", "mb" -> du, "sec" -> f"$t%.1f".toDouble)
    }

    spark.stop()
  }
}
