package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Genomic-interval algebra: overlap joins (J3/J5/J6/J7) and
  * nearest-interval joins (J8) — the reference's GenomicRanges surface
  * (findOverlaps/mergeByOverlaps/nearest; network_generator_lib.R:164-199,
  * 645-647, 855-857).
  *
  * A naive range-predicate join in Spark degenerates to
  * BroadcastNestedLoopJoin (or a cartesian product) because Catalyst has
  * no equi-keys to hash on. The scale-safe plan (SURVEY §7.4.1) is the
  * standard *bucketed interval join*: explode each interval into the
  * fixed-width genomic buckets it touches, equi-join on (chr, bucket),
  * apply the residual overlap predicate, and dedup multi-bucket matches.
  * The equi-join hash-partitions both sides → shuffle-friendly, AQE can
  * split skewed buckets (chr1 hotspots), and each side scans once.
  *
  * Bucket width trades duplication (intervals spanning many buckets)
  * against bucket skew (too many intervals per bucket). Genomic fragments
  * are ~10⁴-10⁵ bp; 1 Mb buckets duplicate <2% of fragments.
  */
object Intervals {

  val DefaultBucketWidth: Long = 1000000L

  /** Explode side helper: one row per (chr, bucket) the interval
    * [start, end] touches. Intervals are inclusive on both ends
    * (GRanges semantics). */
  private def bucketed(df: DataFrame, width: Long): DataFrame =
    df.withColumn("__bucket",
      explode(sequence(floor(col("start") / width).cast("long"),
                       floor(col("end") / width).cast("long"))))

  /** Overlap predicate (closed intervals, GRanges findOverlaps default):
    * a.start <= b.end && a.end >= b.start, same chr. */
  def overlaps(aStart: Column, aEnd: Column, bStart: Column, bEnd: Column): Column =
    aStart <= bEnd && aEnd >= bStart

  /** Interval overlap join.
    *
    * left:  DF with (chr, start, end, ...) — the big side (fragments).
    * right: DF with (chr, start, end, ...) — annotation/features.
    * Output: one row per overlapping pair; left columns keep their
    * names, right columns are prefixed with `rightPrefix`.
    *
    * joinType: "inner" | "left" ("left" keeps unmatched left rows with
    * nulls on the right — reference mergeByOverlaps-with-fallback shape).
    */
  def overlapJoin(left: DataFrame, right: DataFrame,
                  rightPrefix: String = "r_",
                  joinType: String = "inner",
                  bucketWidth: Long = DefaultBucketWidth): DataFrame = {
    val leftCols = left.columns.toSeq
    val rightRenamed = right.columns.foldLeft(right)((d, c) =>
      d.withColumnRenamed(c, rightPrefix + c))
    val lb = bucketed(left, bucketWidth)
    val rb = bucketed(
      rightRenamed
        .withColumnRenamed(rightPrefix + "start", "start")
        .withColumnRenamed(rightPrefix + "end", "end")
        .withColumnRenamed(rightPrefix + "chr", "chr"), bucketWidth)
      .withColumnRenamed("start", rightPrefix + "start")
      .withColumnRenamed("end", rightPrefix + "end")
      .withColumnRenamed("chr", rightPrefix + "chr")
      .withColumnRenamed("__bucket", "__rbucket")
    val joined = lb.join(rb,
        lb("chr") === rb(rightPrefix + "chr") &&
        lb("__bucket") === rb("__rbucket") &&
        overlaps(lb("start"), lb("end"),
                 rb(rightPrefix + "start"), rb(rightPrefix + "end")))
      // a pair overlapping across k shared buckets matches k times; keep
      // only the match in the FIRST shared bucket — a pure predicate
      // (no dedup shuffle): first shared bucket = max(floor(l.start/w),
      // floor(r.start/w)).
      .filter(col("__bucket") ===
        greatest(floor(lb("start") / bucketWidth).cast("long"),
                 floor(rb(rightPrefix + "start") / bucketWidth).cast("long")))
      .drop("__bucket", "__rbucket")
    joinType match {
      case "inner" => joined
      case "left" =>
        // unmatched left rows: anti-join back, append with nulls.
        // NULL-SAFE equality: a using-column anti-join is null-rejecting,
        // so a matched left row with a null metadata column would never
        // equal its own key tuple and be emitted AGAIN via rightNulls.
        val matchedKeys = leftCols.foldLeft(
            joined.select(leftCols.map(col): _*).distinct())(
          (d, c) => d.withColumnRenamed(c, "__mk_" + c))
        val unmatched = left.join(matchedKeys,
          leftCols.map(c => col(c) <=> col("__mk_" + c)).reduce(_ && _),
          "left_anti")
        val rightNulls = rightRenamed.schema.fields.foldLeft(unmatched)(
          (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
        joined.unionByName(rightNulls)
      case other => throw new IllegalArgumentException(
        s"overlapJoin supports inner/left, got $other")
    }
  }

  /** J8 nearest-interval join: for each left interval, the single
    * nearest right interval on the same chr (distance 0 if overlapping;
    * ties broken by right (start, end) — deterministic).
    * Reference: GenomicRanges::nearest via nearest_subnetwork,
    * network_generator_lib.R:138-153.
    *
    * Scale note: exact nearest across arbitrary distance can't be
    * bucket-bounded a priori; `maxDistance` bounds the search window
    * (explode left intervals ± maxDistance into buckets). The reference's
    * use is a single probe range → tiny left side, broadcast; the
    * bounded window keeps the general case shuffle-safe.
    *
    * Precondition: left rows are distinct — the per-row window
    * partitions by ALL left columns, so two byte-identical probe rows
    * collapse to one output row (add a distinguishing id column to
    * keep multiplicity).
    */
  def nearestJoin(left: DataFrame, right: DataFrame,
                  rightPrefix: String = "r_",
                  maxDistance: Long = 10000000L,
                  bucketWidth: Long = DefaultBucketWidth): DataFrame = {
    val expanded = left
      .withColumn("__qstart", greatest(col("start") - maxDistance, lit(0L)))
      .withColumn("__qend", col("end") + maxDistance)
    val lb = expanded.withColumn("__bucket",
      explode(sequence(floor(col("__qstart") / bucketWidth).cast("long"),
                       floor(col("__qend") / bucketWidth).cast("long"))))
    val rightRenamed = right.columns.foldLeft(right)((d, c) =>
      d.withColumnRenamed(c, rightPrefix + c))
    val rb = rightRenamed.withColumn("__rbucket",
      explode(sequence(
        floor(col(rightPrefix + "start") / bucketWidth).cast("long"),
        floor(col(rightPrefix + "end") / bucketWidth).cast("long"))))
    val dist = greatest(
      col(rightPrefix + "start") - col("end"),
      col("start") - col(rightPrefix + "end"),
      lit(0L))
    val leftCols = left.columns.toSeq
    val candidates = lb.join(rb,
        lb("chr") === rb(rightPrefix + "chr") &&
        lb("__bucket") === rb("__rbucket"))
      .withColumn("__dist", dist)
      .filter(col("__dist") <= maxDistance)
    val w = Window.partitionBy(leftCols.map(col): _*)
      .orderBy(col("__dist"), col(rightPrefix + "start"),
        col(rightPrefix + "end"))
    candidates
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__bucket", "__rbucket", "__qstart", "__qend")
  }

  /** J7 range-probe search: fragments overlapping a literal query range
    * (chr:start-end), optionally expanded by `expand` bp on each side.
    * Reference: search_vertex_by_range, network_generator_lib.R:163-199. */
  def probeOverlap(fragments: DataFrame, chr: String, start: Long,
                   end: Long, expand: Long = 0L): DataFrame =
    fragments.filter(
      col("chr") === lit(chr) &&
      col("start") <= lit(end + expand) &&
      col("end") >= lit(math.max(start - expand, 0L)))

  /** Nearest fragment to a literal probe (fallback when probeOverlap is
    * empty, or --nearest). min_by over distance. */
  def probeNearest(fragments: DataFrame, chr: String, start: Long,
                   end: Long): DataFrame = {
    val dist = greatest(col("start") - lit(end), lit(start) - col("end"), lit(0L))
    fragments.filter(col("chr") === lit(chr))
      .withColumn("__dist", dist)
      .orderBy(col("__dist"), col("start"), col("end"))
      .limit(1)
      .drop("__dist")
  }
}
