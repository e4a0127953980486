package graft

/** Plan auditor: prints the formatted physical plan for the named
  * queries (all benchNames if none given) against a data dir. Used to
  * keep the plans honest at scale: pushed filters reach the parquet
  * scan, broadcasts stay bounded, no BroadcastNestedLoopJoin in hot
  * paths, whole-stage codegen spans stay wide. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else QueryDefs.benchNames
    val spark = LocalSession("8", "8", LocalSession.TableConfs: _*)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
