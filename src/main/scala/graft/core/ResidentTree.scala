package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** The driver form of the tree's metadata passes
  * ([[Pipeline.writeDatasetTree]] over a resident dataset): A5 counts,
  * A6's percentage, A8's ratio, A9 suggestions and the A10 chromosome
  * list from the rows of the dataset's local frames, each the value the
  * relational pass computes:
  *  - A5 counts as [[GraphOps.graphMetadata]]; a chromosome is an id's
  *    text before its first `_`;
  *  - A6 "NN.NN%" by `Locale.US` `%.2f%%`, as Spark's `format_string`;
  *  - A8 rounded by [[graft.ext.Num.roundLike]]'s driver twin;
  *  - A9 tokens are Java `split("[;, ]+", -1)`'s, as Spark's `split`,
  *    sorted in binary order;
  *  - A10 sorts on [[Metadata.naturalChrKey]]'s key (Java regex `find`,
  *    `lpad`'s truncation), with the chromosome itself breaking a tie.
  * Each takes the columns it reads, one array per column. */
private[graft] object ResidentTree {

  /** The chromosome of a fragment id: its text before the first `_`,
    * as `split(id, "_")[0]`. */
  def chrOf(id: String): String = {
    val i = id.indexOf('_')
    if (i < 0) id else id.substring(0, i)
  }

  private val MetadataSchema = StructType(
    Seq("nodes", "promoters", "other_ends", "edges", "pp_edges", "po_edges",
      "interchromosomal").map(StructField(_, LongType)) :+
      StructField("mean_degree", DoubleType))

  /** [[GraphOps.graphMetadata]]'s row. */
  def graphMetadata(nodeType: Array[String], src: Array[String],
                    dst: Array[String], edgeType: Array[String]): Row = {
    def count(types: Array[String], t: String) = types.count(t == _).toLong
    val n = nodeType.length.toLong
    val e = src.length.toLong
    new GenericRowWithSchema(Array[Any](n, count(nodeType, "P"),
      count(nodeType, "O"), e, count(edgeType, "P-P"), count(edgeType, "P-O"),
      src.indices.count(i => chrOf(src(i)) != chrOf(dst(i))).toLong,
      if (n == 0L) 0.0 else graft.ext.Num.roundLike(2.0 * e / n, 2).doubleValue),
      MetadataSchema)
  }

  /** A6's largest-component share. */
  def maxComponentPct(largest: Long, total: Long): String =
    String.format(java.util.Locale.US, "%.2f%%",
      Double.box(if (total == 0L) 0.0 else largest * 100.0 / total))

  /** A8 transitivity from its two counts. */
  def transitivity(triangles: Long, triads: Long): Double =
    if (triads == 0L) 0.0
    else graft.ext.Num.roundLike(3.0 * triangles / triads.toDouble, 2).doubleValue

  private val Separators = java.util.regex.Pattern.compile("[;, ]+")

  /** A9: every distinct non-empty name token. */
  def suggestions(geneNames: Array[String]): Seq[String] = {
    val seen = new java.util.HashSet[String]()
    for (names <- geneNames if names != null;
         t <- Separators.split(names, -1) if t.nonEmpty) seen.add(t)
    seen.toArray(Array.empty[String]).sortWith(LocalChain.bcmp(_, _) < 0).toSeq
  }

  private val Digits = java.util.regex.Pattern.compile("^\\d+$")

  /** A10: the distinct chromosomes without `MT`, then `PP`, in natural
    * order. */
  def chromosomes(chr: Array[String]): Seq[String] = {
    def key(c: String) =
      if (Digits.matcher(c).find())
        "0" + (if (c.length >= 9) c.substring(0, 9) else "0" * (9 - c.length) + c)
      else "1" + c
    val chrs = chr.iterator.filter(c => c != null && !c.contains("MT"))
      .toSeq.distinct :+ "PP"
    chrs.map(c => (key(c), c)).sortWith { case ((ka, a), (kb, b)) =>
      val k = LocalChain.bcmp(ka, kb)
      if (k != 0) k < 0 else LocalChain.bcmp(a, b) < 0
    }.map(_._2)
  }
}
