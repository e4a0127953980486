package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, LongType, StructType}

/** The driver-resident form of an opened snapshot, collected once by
  * [[Serving.open]] when the snapshot has at most
  * [[Regime.ResidentMaxEdges]] edges — the reference's shape, which
  * answers every request from an in-process network loaded once
  * (search_query.R:14). It holds:
  *   - the node rows, fragment column first, each with its name
  *     haystack lowered by Spark at open time (so a driver-side regex
  *     sees exactly the string the plan's `rlike` sees);
  *   - the name index as token → fragments;
  *   - a symmetric [[LocalGraph.Csr]] over the edge endpoints, plus
  *     each vertex's edge rows by `src`;
  *   - per-chromosome node lists sorted by (start, end).
  *
  * A request replicates [[Search.subnetFromSeeds]] over the pinned
  * frames: induced edges over seeds ∪ 1-hop (range: seeds only),
  * `searched` on the seeds, `degree` counted over the induced edges in
  * both directions, vertex rows kept only for subnet ids. The subnet
  * comes back as local frames (`LocalRelation` plans), so the request,
  * [[graft.io.CytoscapeJson.render]] and [[Layout.cose]] run no Spark
  * job. Nodes come back sorted by fragment, edges in snapshot order. */
final class ResidentSnapshot private (
    spark: SparkSession,
    nodeSchema: StructType,
    edgeSchema: StructType,
    nodes: Array[Row],
    hay: Array[String],
    tokens: Map[String, Array[String]],
    edges: Array[Row]) {

  private val fragmentOf: Array[String] = nodes.map(_.getString(0))
  private val rowsOf: Map[String, Array[Int]] =
    nodes.indices.filter(fragmentOf(_) != null).toArray.groupBy(fragmentOf)

  private val srcAt = edgeSchema.fieldIndex("src")
  private val dstAt = edgeSchema.fieldIndex("dst")
  private def src(e: Int): String = edges(e).getString(srcAt)
  private def dst(e: Int): String = edges(e).getString(dstAt)

  // a null endpoint never joins, so such an edge is in no subnet
  private val live =
    edges.indices.filter(e => src(e) != null && dst(e) != null).toArray
  private val g = LocalGraph.build(
    live.iterator.flatMap(e => Iterator((src(e), dst(e)), (dst(e), src(e)))))
  private val vertexOf: Map[String, Int] = g.ids.zipWithIndex.toMap
  private val dstOf: Array[Int] = {
    val a = new Array[Int](edges.length)
    live.foreach(e => a(e) = vertexOf(dst(e)))
    a
  }
  // edge rows grouped by src vertex: outEdge(outOff(v) until outOff(v+1))
  private val (outOff, outEdge) = {
    val off = new Array[Int](g.n + 1)
    live.foreach(e => off(vertexOf(src(e)) + 1) += 1)
    var v = 0
    while (v < g.n) { off(v + 1) += off(v); v += 1 }
    val pos = java.util.Arrays.copyOf(off, g.n)
    val out = new Array[Int](live.length)
    live.foreach { e =>
      val s = vertexOf(src(e)); out(pos(s)) = e; pos(s) += 1
    }
    (off, out)
  }

  private def coords(field: String): Array[Option[Long]] = {
    val at = nodeSchema.fieldIndex(field)
    nodes.map(r => Option(r.get(at)).map(_.asInstanceOf[Number].longValue))
  }
  private val startOf = coords("start")
  private val endOf = coords("end")
  // Option orders None first: Spark's ascending sort puts nulls first
  private val byChr: Map[String, Array[Int]] = {
    val chrAt = nodeSchema.fieldIndex("chr")
    nodes.indices.filter(i => nodes(i).get(chrAt) != null).toArray
      .groupBy(i => nodes(i).getString(chrAt))
      .map { case (c, is) => c -> is.sortBy(i => (startOf(i), endOf(i))) }
  }

  private val subnetSchema = nodeSchema
    .add("searched", BooleanType, nullable = false)
    .add("degree", LongType, nullable = false)

  /** [[Serving.search]]'s answer for one parsed request. */
  private[core] def search(form: Search.Form,
                           ensembl2name: Option[DataFrame],
                           expand: Long, nearest: Boolean): Search.Subnet =
    form match {
      case Search.FragmentForm(id) =>
        subnet(Seq(id.toUpperCase).filter(rowsOf.contains), ego = true)
      case Search.EnsemblForm(id) =>
        subnet(ensembl2name.flatMap(Search.ensemblName(_, id)).toSeq
          .flatMap(name => matching(Search.nameRegex(name))), ego = true)
      case Search.RangeForm(range) =>
        subnet(rangeSeeds(range, expand, nearest), ego = false)
      case Search.ListForm(terms) =>
        subnet(matching(Search.listRegex(terms)), ego = true)
      case Search.NameForm(term) => geneSearch(term)
    }

  /** [[Serving.geneSearch]]'s answer: the index for word-only terms,
    * the haystack regex otherwise. */
  private[core] def geneSearch(term: String): Search.Subnet =
    subnet(
      if (Search.indexable(term))
        tokens.getOrElse(term.toLowerCase, Array.empty[String]).toSeq
      else matching(Search.nameRegex(term)),
      ego = true)

  private def matching(regex: String): Seq[String] = {
    val p = java.util.regex.Pattern.compile(regex)
    nodes.indices.filter(i => p.matcher(hay(i)).find()).map(fragmentOf)
  }

  /** [[Search.byRange]] over one chromosome's sorted list: overlap of
    * the range ± expand; else (or with `nearest`) the one nearest node
    * by (distance, start, end) — null coordinates never overlap, and
    * the distance skips them as Spark's `greatest` does. */
  private def rangeSeeds(range: String, expand: Long,
                         nearest: Boolean): Seq[String] = {
    val (chr, start, end) = Search.rangeBounds(range)
    val onChr = byChr.getOrElse(chr, Array.empty[Int])
    val lo = math.max(start - expand, 0L)
    val hi = end + expand
    val overlap = onChr.iterator
      .filter(i => startOf(i).isDefined)
      .takeWhile(i => startOf(i).get <= hi)
      .filter(i => endOf(i).exists(_ >= lo))
      .map(fragmentOf).toSeq
    if (!nearest && overlap.nonEmpty) overlap
    else if (onChr.isEmpty) Nil
    else {
      def dist(i: Int): Long = math.max(0L, math.max(
        startOf(i).map(_ - end).getOrElse(0L),
        endOf(i).map(start - _).getOrElse(0L)))
      Seq(fragmentOf(onChr.minBy(i => (dist(i), startOf(i), endOf(i)))))
    }
  }

  private def subnet(seedIds: Seq[String], ego: Boolean): Search.Subnet = {
    val seeds = seedIds.filter(_ != null).toSet
    val inHop = new Array[Boolean](g.n)
    val hop = scala.collection.mutable.ArrayBuffer.empty[Int]
    def add(v: Int): Unit = if (!inHop(v)) { inHop(v) = true; hop += v }
    for (s <- seeds; v <- vertexOf.get(s)) {
      add(v)
      if (ego) (g.off(v) until g.off(v + 1)).foreach(k => add(g.adj(k)))
    }
    val es = hop.flatMap(u => (outOff(u) until outOff(u + 1)).map(outEdge))
      .filter(e => inHop(dstOf(e))).sorted
    val degree = scala.collection.mutable.HashMap.empty[String, Long]
    es.foreach { e =>
      degree(src(e)) = degree.getOrElse(src(e), 0L) + 1L
      degree(dst(e)) = degree.getOrElse(dst(e), 0L) + 1L
    }
    val nodeRows = for {
      id <- (degree.keySet ++ seeds).toSeq.sorted
      i <- rowsOf.getOrElse(id, Array.empty[Int])
    } yield Row.fromSeq(
      nodes(i).toSeq :+ seeds(id) :+ degree.getOrElse(id, 0L))
    Search.Subnet(local(nodeRows, subnetSchema),
      local(es.map(edges).toSeq, edgeSchema))
  }

  private def local(rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}

object ResidentSnapshot {

  /** Collect the pinned snapshot frames into the resident form: three
    * jobs over cached blocks, once per open. */
  private[core] def collect(nodes: DataFrame, edges: DataFrame,
                            index: DataFrame): ResidentSnapshot = {
    val cols = "fragment" +: nodes.columns.toSeq.filterNot(_ == "fragment")
    val ordered = nodes.select(cols.map(col): _*)
    val withHay = ordered.select(col("*"), Search.haystack(nodes).as("__hay"))
      .collect()
    val tokens = index.select("token", "fragment").collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getString(1)) }
    new ResidentSnapshot(nodes.sparkSession, ordered.schema, edges.schema,
      withHay.map(r => Row.fromSeq(r.toSeq.init)),
      withHay.map(r => r.getString(r.length - 1)),
      tokens, edges.collect())
  }
}
