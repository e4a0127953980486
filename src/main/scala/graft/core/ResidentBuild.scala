package graft.core

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  GenericInternalRow, Literal, RegExpReplace, StringSplit, StringTrim, Upper}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The driver-resident form of [[Pipeline.build]]'s vertex and edge
  * lineage — the reference's shape (network_generator.R:40-290: one R
  * process over in-memory tables). A build's `resident` form (the one
  * [[Pipeline.writeDatasetTree]] reads) calls it when the thresholded
  * working set and every present annotation table have at most the
  * build's cutoff of rows, with the [[inputs]] collected by one
  * [[Regime.collectAtMost]]; the rows it returns become local frames.
  *
  * EXACTNESS CONTRACT: [[build]] emits the rows of the relational
  * plans it stands in for:
  *  - G2 keeps, per unordered endpoint pair, the first row in
  *    `simplifyBy`'s total order: score ascending (nulls first, SQL
  *    double order), then `src`, then `dst` in binary string order;
  *    self-loops drop;
  *  - J9 types an edge `P-P` when its `dst` is a `src` of the
  *    simplified set; the `PP` slice keeps those alone;
  *  - A1 groups both halves of every working row by fragment id: `P`
  *    wins, its names come from the bait halves, the others' from the
  *    other-end halves; chr/start/end are the first row's;
  *  - J2 overwrites a promoter's names with the `min` bait name of its
  *    fragment; J3 an other end's with the collapse of the alias names
  *    it overlaps; J4 adds the collapses of the alias rows each promoter
  *    token names (`NA` for a null or an unmatched token, `""` for a
  *    promoter with no token); J6 flags an other end that overlaps an
  *    intronic region;
  *  - overlap is [[Intervals.overlapJoin]]'s pair set: closed intervals
  *    listed under every bucket `sequence(floor(start / w),
  *    floor(end / w))` yields (descending for `end < start`, none for a
  *    null coordinate), a pair counted in its first shared bucket only;
  *  - ids, the alias table's upper-cased names and every string
  *    transform are Spark's own expressions, evaluated on Spark's own
  *    values; collapses sort and deduplicate in binary order.
  * Row order is first-seen order; the relational plans give none. */
private[graft] object ResidentBuild {

  /** One value per build input: the working set, then each annotation
    * table the build was given. */
  final case class Inputs[T](working: T, baitNames: Option[T],
                             aliasRanges: Option[T], aliasNames: Option[T],
                             intronic: Option[T]) {
    def all: Seq[T] =
      working +: Seq(baitNames, aliasRanges, aliasNames, intronic).flatten
    /** The same slots filled, in [[all]]'s order, from `values`. */
    def fill[U](values: Seq[U]): Inputs[U] = {
      val it = values.iterator
      Inputs(it.next(), baitNames.map(_ => it.next()),
        aliasRanges.map(_ => it.next()), aliasNames.map(_ => it.next()),
        intronic.map(_ => it.next()))
    }
  }

  /** The frames the kernel reads, each projected to its columns: the
    * working set as (src, dst, score, bait names, other-end names,
    * baitChr, baitStart, baitEnd, oeChr, oeStart, oeEnd); bait names as
    * (fragment, gene_id); alias ranges as (chr, start, end, gene_name);
    * alias names as (upper-cased gene_name, ensembl_gene_id, alias);
    * intronic regions as (chr, start, end). */
  def inputs(working: DataFrame, a: Pipeline.Annotations,
             hasNames: Boolean): Inputs[DataFrame] = {
    def names(c: String) =
      if (hasNames) coalesce(col(c), lit("")) else lit("")
    Inputs(
      working.select(
        Interactions.fragmentId(col("baitChr"), col("baitStart"),
          col("baitEnd")).as("src"),
        Interactions.fragmentId(col("oeChr"), col("oeStart"),
          col("oeEnd")).as("dst"),
        col(working.columns(11)).as("score"),
        names("baitName").as("bait_names"), names("oeName").as("oe_names"),
        col("baitChr").as("baitChr"), col("baitStart").as("baitStart"),
        col("baitEnd").as("baitEnd"), col("oeChr").as("oeChr"),
        col("oeStart").as("oeStart"), col("oeEnd").as("oeEnd")),
      a.baitNames.map(_.select(
        Interactions.fragmentId(col("Chr"), col("Start"), col("End"))
          .as("fragment"), col("gene_id"))),
      a.aliasRanges.map(_.select(col("chr").as("chr"),
        col("start").as("start"), col("end").as("end"), col("gene_name"))),
      a.aliasNames.map(_.select(upper(col("gene_name")).as("name"),
        col("ensembl_gene_id"), col("alias"))),
      a.intronic.map(_.select(col("chr").as("chr"),
        col("start").as("start"), col("end").as("end"))))
  }

  /** True when the kernel reads these column types: numeric scores,
    * string chromosomes, and integral coordinates, the same on both
    * halves of the working set. */
  def supports(in: Inputs[DataFrame]): Boolean = {
    def integral(t: DataType) =
      Seq(ByteType, ShortType, IntegerType, LongType).contains(t)
    def interval(df: DataFrame) = {
      val s = df.schema
      s("chr").dataType == StringType && integral(s("start").dataType) &&
        integral(s("end").dataType)
    }
    val w = in.working.schema
    w("score").dataType.isInstanceOf[NumericType] &&
      w("baitChr").dataType == StringType && w("oeChr").dataType == StringType &&
      Seq("Start", "End").forall { c =>
        integral(w(s"bait$c").dataType) &&
          w(s"bait$c").dataType == w(s"oe$c").dataType } &&
      (in.aliasRanges ++ in.intronic).forall(interval)
  }

  /** The relational plans' schemas for (nodes, edges). */
  def schemas(in: Inputs[DataFrame]): (StructType, StructType) = {
    val w = in.working.schema
    val nodes = StructType(Seq(
        StructField("fragment", StringType, nullable = false),
        // an overwrite from a left join makes the names nullable
        StructField("gene_names", StringType,
          nullable = in.baitNames.isDefined || in.aliasRanges.isDefined),
        StructField("chr", w("baitChr").dataType),
        StructField("start", w("baitStart").dataType),
        StructField("end", w("baitEnd").dataType),
        StructField("type", StringType)) ++
      in.aliasNames.toSeq.flatMap(_ => Seq(
        StructField("ensembl_ids", StringType, nullable = false),
        StructField("alias", StringType, nullable = false))) ++
      in.intronic.map(_ => StructField("intronic_regions", BooleanType)))
    val edges = StructType(Seq(
      StructField("src", StringType, nullable = false),
      StructField("dst", StringType, nullable = false),
      w("score"),
      StructField("type", StringType, nullable = false)))
    (nodes, edges)
  }

  /** A one-argument Spark string expression, evaluated in the driver
    * (its state is its own: one per build). */
  private def stringFn(f: Expression => Expression): UTF8String => Any = {
    val e = f(BoundReference(0, StringType, nullable = true))
    val row = new GenericInternalRow(1)
    s => { row.update(0, s); e.eval(row) }
  }

  private val Suffix = Literal("-\\d+\\b")
  private val Empty = Literal("")
  private val Dot = UTF8String.fromString(".")
  private val NA = UTF8String.fromString("NA")

  private def tokens(f: UTF8String => Any, s: String): Seq[UTF8String] = {
    val a = f(UTF8String.fromString(s)).asInstanceOf[ArrayData]
    (0 until a.numElements()).map(a.getUTF8String)
  }

  private val Binary: Ordering[UTF8String] = (a, b) => a.compareTo(b)

  /** `concat_ws(" ", array_sort(array_distinct(...)))`. */
  private def collapse(values: Seq[UTF8String]): String =
    values.distinct.sorted(Binary).mkString(" ")

  private def orNA(s: String) = if (s == null) NA else UTF8String.fromString(s)

  private def long(v: Any): Long = v.asInstanceOf[Number].longValue

  /** SQL order on a numeric column's values, nulls first. */
  private def compareScores(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: java.lang.Double, y: java.lang.Double) =>
      SQLOrderingUtil.compareDoubles(x, y)
    case (x: java.lang.Float, y: java.lang.Float) =>
      SQLOrderingUtil.compareFloats(x, y)
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
  }

  /** [[Intervals.overlapJoin]]'s pairs against `rows` (chr, start, end,
    * ...), bucketed as the relational join buckets them. */
  private final class Overlaps(rows: Array[Row]) {
    private val width = Intervals.DefaultBucketWidth.toDouble
    private def bucket(x: Long) = math.floor(x.toDouble / width).toLong
    private def buckets(s: Long, e: Long) = {
      val (a, b) = (bucket(s), bucket(e))
      if (a <= b) a to b else a to b by -1L
    }
    private val at = new java.util.HashMap[(String, Long), mutable.ArrayBuffer[Int]]()
    for (i <- rows.indices; r = rows(i)
         if !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2);
         b <- buckets(long(r.get(1)), long(r.get(2))))
      at.computeIfAbsent((r.getString(0), b), _ => mutable.ArrayBuffer.empty) += i

    /** The rows overlapping [start, end] on `chr`, each once. */
    def apply(chr: Any, start: Any, end: Any): Iterator[Row] =
      if (chr == null || start == null || end == null) Iterator.empty
      else {
        val (s, e) = (long(start), long(end))
        buckets(s, e).iterator.flatMap { b =>
          val hits = at.get((chr.asInstanceOf[String], b))
          if (hits == null) Iterator.empty
          else hits.iterator.map(rows).filter { r =>
            val (rs, re) = (long(r.get(1)), long(r.get(2)))
            s <= re && e >= rs && b == math.max(bucket(s), bucket(rs))
          }
        }
      }
  }

  /** The build's (nodes, edges) rows, in [[schemas]]' columns, from the
    * rows of [[inputs]]. `ppOnly` is the `PP` pseudo-chromosome. */
  def build(in: Inputs[Array[Row]], ppOnly: Boolean)
      : (java.util.List[Row], java.util.List[Row]) = {
    val w = in.working
    // normalizeNames' and annotatePromoters' token splits
    val nameTokens = stringFn(b =>
      new StringSplit(new RegExpReplace(b, Suffix, Empty), Literal("\\s+")))
    val promoterTokens = stringFn(b => new StringSplit(
      new RegExpReplace(Upper(StringTrim(b)), Suffix, Empty),
      Literal("[;, ]+")))

    // G2: the first row of each unordered pair in (score, src, dst)
    val first = new java.util.LinkedHashMap[(String, String), Row]()
    for (r <- w) {
      val (s, d) = (r.getString(0), r.getString(1))
      if (s != d) {
        val key = if (s.compareTo(d) < 0) (s, d) else (d, s)
        val cur = first.get(key)
        if (cur == null || {
              var c = compareScores(r.get(2), cur.get(2))
              if (c == 0) c = LocalChain.bcmp(s, cur.getString(0))
              if (c == 0) c = LocalChain.bcmp(d, cur.getString(1))
              c < 0
            }) first.put(key, r)
      }
    }
    // J9 against the simplified src set, then the PP slice
    val baits = new java.util.HashSet[String]()
    first.values.forEach(r => baits.add(r.getString(0)))
    val edges = new java.util.ArrayList[Row](first.size)
    first.values.forEach { r =>
      val t = if (baits.contains(r.getString(1))) "P-P" else "P-O"
      if (!ppOnly || t == "P-P")
        edges.add(Row(r.getString(0), r.getString(1), r.get(2), t))
    }

    // A1: both halves of every working row, grouped by fragment id
    val index = new java.util.HashMap[String, Integer]()
    val frag = mutable.ArrayBuffer.empty[String]
    val loc = mutable.ArrayBuffer.empty[(Any, Any, Any)]
    val promoter = mutable.ArrayBuffer.empty[Boolean]
    val pBag = mutable.ArrayBuffer.empty[java.lang.StringBuilder]
    val oBag = mutable.ArrayBuffer.empty[java.lang.StringBuilder]
    def half(r: Row, at: Int, isP: Boolean): Unit = {
      val f = r.getString(if (isP) 0 else 1)
      var v: Integer = index.get(f)
      if (v == null) {
        v = frag.length; index.put(f, v); frag += f
        loc += ((r.get(at), r.get(at + 1), r.get(at + 2)))
        promoter += false; pBag += null; oBag += null
      }
      if (isP) promoter(v) = true
      val bags = if (isP) pBag else oBag
      val name = r.getString(if (isP) 3 else 4)
      if (bags(v) == null) bags(v) = new java.lang.StringBuilder(name)
      else bags(v).append(' ').append(name)
    }
    for (r <- w) { half(r, 5, isP = true); half(r, 8, isP = false) }
    val n = frag.length
    val names = Array.tabulate[String](n) { v =>
      val bag = if (promoter(v)) pBag(v) else oBag(v)
      collapse(tokens(nameTokens, if (bag == null) "" else bag.toString)
        .filter(t => t.numBytes > 0 && t != Dot))
    }

    // J2: the least bait name of each promoter fragment
    in.baitNames.foreach { rows =>
      val least = new java.util.HashMap[String, String]()
      for (r <- rows if !r.isNullAt(1)) {
        val cur = least.get(r.getString(0))
        if (cur == null || LocalChain.bcmp(r.getString(1), cur) < 0)
          least.put(r.getString(0), r.getString(1))
      }
      for (v <- 0 until n if promoter(v); b <- Option(least.get(frag(v))))
        names(v) = b
    }
    // J3: other ends take the alias names they overlap
    in.aliasRanges.foreach { rows =>
      val overlaps = new Overlaps(rows)
      for (v <- 0 until n if !promoter(v)) {
        val (c, s, e) = loc(v)
        val hits = overlaps(c, s, e).map(r => orNA(r.getString(3))).toSeq
        if (hits.nonEmpty) names(v) = collapse(hits)
      }
    }
    // J4: each promoter token's alias rows, collapsed per fragment
    val aliasCols = in.aliasNames.map { rows =>
      val byName = new java.util.HashMap[String, mutable.ArrayBuffer[Row]]()
      for (r <- rows if !r.isNullAt(0))
        byName.computeIfAbsent(r.getString(0), _ => mutable.ArrayBuffer.empty) += r
      val unmatched = Seq(Row(null, null, null))
      Array.tabulate(n) { v =>
        val hits =
          if (!promoter(v)) Nil
          else tokens(promoterTokens, names(v)).filter(_.numBytes > 0)
            .flatMap(t => Option(byName.get(t.toString)).getOrElse(unmatched))
        if (hits.isEmpty) ("", "")
        else (collapse(hits.map(r => orNA(r.getString(1)))),
              collapse(hits.map(r => orNA(r.getString(2)))))
      }
    }
    // J6: other ends overlapping an intronic region
    val intronic = in.intronic.map { rows =>
      val overlaps = new Overlaps(rows)
      Array.tabulate(n) { v =>
        val (c, s, e) = loc(v)
        !promoter(v) && overlaps(c, s, e).hasNext
      }
    }

    val nodes = new java.util.ArrayList[Row](n)
    for (v <- 0 until n) {
      val (c, s, e) = loc(v)
      nodes.add(Row.fromSeq(
        Seq(frag(v), names(v), c, s, e, if (promoter(v)) "P" else "O") ++
          aliasCols.toSeq.flatMap(a => Seq(a(v)._1, a(v)._2)) ++
          intronic.map(_(v))))
    }
    (nodes, edges)
  }
}
