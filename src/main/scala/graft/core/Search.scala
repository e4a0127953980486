package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The user-facing query surface (SURVEY §2.6): a search string
  * dispatched by regex to fragment-id / gene-name / ensembl-id /
  * gene-list / genomic-range lookups, each producing a seed vertex set
  * that is expanded to an ego or induced subgraph.
  * Reference dispatcher: search_subnetwork, network_generator_lib.R:212-231.
  */
object Search {

  /** Result: the subnetwork's nodes (with `searched` + recomputed
    * `degree`) and edges. */
  case class Subnet(nodes: DataFrame, edges: DataFrame)

  // ONLY the full 3-part chr_start_end form is a fragment id — the
  // reference's dispatch regex (network_generator_lib.R:78) requires
  // both coordinates, so a short "Y_581553" routes to the NAME search
  // (where a literal match can still hit), never to an exact-id filter
  // that chr_start_end vertex ids could not satisfy.
  val FragmentIdRe = "^(([12]?[0-9])|([XYxy]))_\\d+_\\d+$"
  val EnsemblRe = "^ens(mus)?g\\d+.*$"
  val RangeRe = "^(([12]?[0-9])|([XYxy])):\\d+(-\\d+)?$"
  val ListSplitRe = "[,\\t ]+"

  /** Q1 exact fragment lookup (upper-cased id). */
  def byFragmentId(vertices: DataFrame, id: String): DataFrame =
    vertices.filter(col("fragment") === lit(id.toUpperCase))
      .select(col("fragment").as("id"))

  /** Q2 gene-symbol search: case-insensitive word-boundary regex over
    * gene_names ⧺ alias. Reference regex "\btern\b" at
    * network_generator_lib.R:112. */
  def byGeneName(vertices: DataFrame, term: String): DataFrame =
    vertices.filter(haystack(vertices).rlike(nameRegex(term)))
      .select(col("fragment").as("id"))

  /** The Q2/Q4 haystack: lower-cased gene_names ⧺ " " ⧺ alias (alias
    * when the frame has one). */
  def haystack(vertices: DataFrame): Column =
    lower(concat_ws(" ", col("gene_names"),
      if (vertices.columns.contains("alias")) col("alias") else lit("")))

  /** Q2's pattern: the lower-cased term as a literal between word
    * boundaries. A Java regex, matched with `Matcher.find` as Spark's
    * `rlike` does, so a driver-side match agrees with the plan's. */
  def nameRegex(term: String): String =
    "\\b" + java.util.regex.Pattern.quote(term.toLowerCase) + "\\b"

  /** Q4's pattern: one alternation of every non-empty term. */
  def listRegex(terms: Seq[String]): String =
    "\\b(" + terms.filter(_.nonEmpty)
      .map(t => java.util.regex.Pattern.quote(t.toLowerCase))
      .mkString("|") + ")\\b"

  /** True when the name index answers `term` exactly: a word-only term,
    * whose \b-bounded match is token equality. */
  def indexable(term: String): Boolean = term.toLowerCase.matches("\\w+")

  /** Token inverted index over gene_names ⧺ alias: DF(token, fragment),
    * distinct. Build once per dataset snapshot (persist it — or bucket
    * by token at 100x node counts) and serve Q2/Q4 as equi-joins
    * instead of full regex scans of the vertex table. Tokens split on
    * non-word runs, which makes token equality EXACTLY the \b-bounded
    * regex semantics of [[byGeneName]] for word-only terms; terms
    * containing non-word characters take the regex path. */
  def buildNameIndex(vertices: DataFrame): DataFrame =
    vertices.select(col("fragment"),
        explode(split(haystack(vertices), "\\W+")).as("token"))
      .filter(col("token") =!= "")
      .distinct()

  /** Q2 via the inverted index: one equi-lookup. Falls back to the
    * regex scan for terms token-splitting can't express. */
  def byGeneNameIndexed(index: DataFrame, vertices: DataFrame,
                        term: String): DataFrame =
    if (!indexable(term)) byGeneName(vertices, term)
    else index.filter(col("token") === lit(term.toLowerCase))
      .select(col("fragment").as("id")).distinct()

  /** Q4 via the inverted index: one IN-lookup over all terms. */
  def byGeneListIndexed(index: DataFrame, vertices: DataFrame,
                        terms: Seq[String]): DataFrame = {
    val (simple, complex) = terms.filter(_.nonEmpty)
      .map(_.toLowerCase).partition(indexable)
    val viaIndex = index.filter(col("token").isin(simple: _*))
      .select(col("fragment").as("id"))
    val all = if (complex.isEmpty) viaIndex
      else viaIndex.unionAll(byGeneList(vertices, complex))
    all.distinct()
  }

  /** Q3 Ensembl-id search: translate through ensembl2name then Q2.
    * The map is dimension-sized → collected & inlined (one driver value),
    * matching the reference's broadcast-lookup shape. */
  def byEnsemblId(vertices: DataFrame, ensembl2name: DataFrame,
                  id: String): DataFrame =
    ensemblName(ensembl2name, id) match {
      case Some(name) => byGeneName(vertices, name)
      case None => vertices.limit(0).select(col("fragment").as("id"))
    }

  /** The gene name an Ensembl id translates to: one collected row. */
  def ensemblName(ensembl2name: DataFrame, id: String): Option[String] =
    ensembl2name.filter(col("ensembl_id") === lit(id.toLowerCase))
      .select("gene_name").limit(1).collect().headOption.map(_.getString(0))

  /** Q4 gene-list search: one combined alternation regex — a single
    * scan instead of one per term. */
  def byGeneList(vertices: DataFrame, terms: Seq[String]): DataFrame =
    vertices.filter(haystack(vertices).rlike(listRegex(terms)))
      .select(col("fragment").as("id"))

  /** Q5 genomic-range search: overlap (± expand), fallback/explicit
    * nearest; NO ego expansion (reference keeps only overlapping
    * vertices — expansion code commented out,
    * network_generator_lib.R:184-189). */
  def byRange(vertices: DataFrame, range: String, expand: Long,
              nearest: Boolean): DataFrame = {
    val (chr, start, end) = rangeBounds(range)
    // seed sets are tiny: materialize once (localCheckpoint) so the
    // emptiness probe and the returned plan don't re-run the scan
    val overlap = Intervals.probeOverlap(vertices, chr, start, end, expand)
      .select(col("fragment").as("id"))
      .localCheckpoint(true)
    if (nearest || overlap.isEmpty)
      Intervals.probeNearest(vertices, chr, start, end)
        .select(col("fragment").as("id"))
    else overlap
  }

  /** A search string sorted into the reference dispatcher's forms,
    * tested in its order (network_generator_lib.R:212-231). */
  sealed trait Form
  final case class FragmentForm(id: String) extends Form
  final case class EnsemblForm(id: String) extends Form
  final case class RangeForm(range: String) extends Form
  final case class ListForm(terms: Seq[String]) extends Form
  final case class NameForm(term: String) extends Form

  def parse(query: String): Form = {
    val q = query.trim
    val terms = q.split(ListSplitRe)
    if (q.matches(FragmentIdRe)) FragmentForm(q)
    else if (q.toLowerCase.matches(EnsemblRe)) EnsemblForm(q)
    else if (q.matches(RangeRe)) RangeForm(q)
    else if (terms.length > 1) ListForm(terms.toSeq)
    else NameForm(q)
  }

  /** "chr:start[-end]" → (upper-cased chr, start, end); a bare
    * position is the one-base range start..start. */
  def rangeBounds(range: String): (String, Long, Long) = {
    val parts = range.split("[:\\-]")
    val start = parts(1).toLong
    (parts(0).toUpperCase, start,
      if (parts.length > 2) parts(2).toLong else start)
  }

  /** Full dispatcher: regex-dispatch the search string, expand seeds to
    * the result subnetwork (ego for id/name forms; induced-only for
    * range), tag seeds `searched`, recompute per-subnet degree (Q6).
    * Reference: search_subnetwork, network_generator_lib.R:212-231. */
  def search(vertices: DataFrame, edgesDf: DataFrame,
             ensembl2nameDf: Option[DataFrame], query: String,
             expand: Long = 0L, nearest: Boolean = false): Subnet = {
    val (seeds, egoExpand) = parse(query) match {
      case FragmentForm(id) => (byFragmentId(vertices, id), true)
      case EnsemblForm(id) =>
        (ensembl2nameDf.map(m => byEnsemblId(vertices, m, id))
          .getOrElse(vertices.limit(0).select(col("fragment").as("id"))), true)
      case RangeForm(range) =>
        (byRange(vertices, range, expand, nearest), false)
      case ListForm(terms) => (byGeneList(vertices, terms), true)
      case NameForm(term) => (byGeneName(vertices, term), true)
    }
    subnetFromSeeds(vertices, edgesDf, seeds, egoExpand)
  }

  /** Seeds → subnet: ego-expanded (1-hop) or induced-only; `searched`
    * flag marks the seeds; degree recomputed on the subnet edges. */
  def subnetFromSeeds(vertices: DataFrame, edgesDf: DataFrame,
                      seeds: DataFrame, ego: Boolean): Subnet = {
    // the subnet is SMALL (bounded by the ego expansion of a search
    // result) but referenced three times below (degrees, node ids, the
    // returned edges) — materialize it once so the full edge lineage
    // runs once, not per consumer. The INPUT edge list is itself read
    // three times while the subnet materializes (the ego symmetrize
    // plus two induced semi-joins), so pin it for exactly that window:
    // one compute + three cache scans instead of three computes.
    // Persist/unpersist are PLAN-keyed: only take ownership of the pin
    // when the caller hasn't already persisted this plan (unpersisting
    // a caller's cache would silently evict it; re-persisting at a
    // different level would throw).
    val ownPin = edgesDf.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val pinned = if (ownPin)
      edgesDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else edgesDf
    val sEdges =
      try {
        (if (ego) GraphOps.egoEdges(pinned, seeds)
         else GraphOps.induced(pinned, seeds)
        ).localCheckpoint(eager = true)
      } finally if (ownPin) pinned.unpersist(blocking = false)
    val nodeIds = sEdges.select(col("src").as("id"))
      .unionAll(sEdges.select(col("dst").as("id")))
      .unionAll(seeds.select(col("id")))   // isolated seeds stay visible
      .distinct()
    val deg = GraphOps.degrees(sEdges)
    val seedSet = broadcast(seeds.select(col("id")).distinct()
      .withColumn("__seed", lit(true)))
    val nodes = vertices
      .join(nodeIds, vertices("fragment") === nodeIds("id"), "left_semi")
      .join(seedSet, vertices("fragment") === seedSet("id"), "left")
      .withColumn("searched", coalesce(col("__seed"), lit(false)))
      .drop("id", "__seed")
      .join(deg.withColumnRenamed("id", "fragment"), Seq("fragment"), "left")
      .na.fill(0L, Seq("degree"))
    Subnet(nodes, sEdges)
  }
}
