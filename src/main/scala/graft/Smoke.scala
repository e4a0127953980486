package graft

/** Local smoke runner mirroring the driver's t1 check: SparkEntry.entry
  * on sf0.001 must produce rows. Prints the count and two elements. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("8", "8", LocalSession.TableConfs: _*)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(2).foreach(r => println(s"[smoke] ${r.getString(0).take(300)}"))
    require(rows.nonEmpty, "entry returned 0 rows")
    spark.stop()
  }
}
