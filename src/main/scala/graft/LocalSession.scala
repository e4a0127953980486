package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session the graft mains run in: `local[threads]`,
  * `shufflePartitions` shuffle partitions, UTC session time, plus each
  * caller's own confs. */
object LocalSession {

  /** The confs of the mains that read the sf-dir tables: the events
    * table is TIMESTAMP(NANOS) parquet, read as long (TestMapping
    * converts it to µs), and no UI. */
  val TableConfs: Seq[(String, String)] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def apply(threads: String, shufflePartitions: String,
            confs: (String, String)*): SparkSession =
    confs.foldLeft(SparkSession.builder()
        .master(s"local[$threads]")
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.sql.session.timeZone", "UTC")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
