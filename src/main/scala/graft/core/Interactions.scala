package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interaction-table operators: filters F1-F7, vertex derivation A1,
  * edge derivation + simplify G1/G2, bait classification J9.
  * All pure DataFrame transformations — Catalyst pushes the filters to
  * the scan and prunes columns automatically (SURVEY.md §4).
  */
object Interactions {

  /** F1 score-threshold filter: keep rows where the first cell-type
    * score column (positional column 12) > threshold (default 5.0).
    * Reference: filter_by_threshold, network_generator_lib.R:306-308. */
  def filterByThreshold(df: DataFrame, threshold: Double = 5.0): DataFrame =
    df.filter(col(df.columns(11)) > lit(threshold))

  /** F2 chromosome filter: keeps inter-chromosomal edges touching c.
    * Reference: filter_by_chromosome, network_generator_lib.R:315-317. */
  def filterByChromosome(df: DataFrame, chr: String): DataFrame =
    df.filter(col("baitChr") === lit(chr) || col("oeChr") === lit(chr))

  /** F3 P-P-only filter (the `PP` pseudo-chromosome).
    * Reference: network_generator.R:80-86. */
  def filterPPOnly(edges: DataFrame): DataFrame =
    edges.filter(col("type") === "P-P")

  /** F4 MT-chromosome drop. Reference: network_generator_lib.R:481-483. */
  def dropMT(df: DataFrame): DataFrame =
    df.filter(!col("baitChr").contains("MT") && !col("oeChr").contains("MT"))

  /** Fragment id "chr_start_end" — the graph vertex key.
    * Reference vertex id form: network_generator.R:142-148. */
  def fragmentId(chr: Column, start: Column, end: Column): Column =
    concat_ws("_", chr, start, end)

  /** Gene-name bag normalization applied during vertex derivation
    * (reference: generate_vertex, network_generator_lib.R:351-360):
    * "."/NA → "", transcript suffix `-\d+\b` stripped, then
    * split + unique + re-collapse. The reference keeps first-occurrence
    * order (R `unique`); a distributed shuffle cannot honor input order,
    * so we sort the token set — deterministic under any partitioning. */
  def normalizeNames(bag: Column): Column =
    concat_ws(" ", array_sort(array_distinct(filter(
      split(regexp_replace(coalesce(bag, lit("")), "-\\d+\\b", ""), "\\s+"),
      t => t =!= "" && t =!= "."))))

  /** Hi-C-mode adaptation (reference network_generator.R:52-62): the
    * sniffed 6-column table has no ids, names, or CHiCAGO scores —
    * pad to the 12-column shape with null ids/names and a unit score
    * (chaser's make_chromnet is unweighted in this mode; every edge is
    * later typed "O-O", every vertex "O"). */
  def fromHiC(hic: DataFrame): DataFrame = hic.select(
    col("baitChr"), col("baitStart"), col("baitEnd"),
    lit(null).cast("long").as("baitID"), lit(null).cast("string").as("baitName"),
    col("oeChr"), col("oeStart"), col("oeEnd"),
    lit(null).cast("long").as("oeID"), lit(null).cast("string").as("oeName"),
    abs(col("oeStart") - col("baitStart")).cast("double").as("dist"),
    lit(1.0).as("score"))

  /** A1 vertex derivation: stack bait + oe halves, tag type P/O, dedup.
    * A fragment that appears as both bait and oe is a promoter ("P" wins
    * — the reference's bait set defines promoters; J9 below), and its
    * gene_names come from the bait rows (the reference's bait-side names
    * take precedence; oe names are annotation-derived later via J3).
    * Reference: generate_vertex, network_generator_lib.R:323-362.
    *
    * For Hi-C inputs (no names, no baits) pass hasNames=false and
    * hicMode=true: gene_names = "" and every vertex is type "O"
    * (reference: generate_vertex's HiC_mode branch + the "O-O" edge
    * typing at network_generator.R:59). */
  def vertices(interactions: DataFrame, hasNames: Boolean = true,
               hicMode: Boolean = false): DataFrame = {
    val baitNames = if (hasNames) col("baitName") else lit("")
    val oeNames = if (hasNames) col("oeName") else lit("")
    // bait + oe halves as a self-UNION of two column-pruned scans —
    // NOT the explode form: vertices' upstream is a bare filtered
    // parquet scan (no window/shuffle to duplicate), so two scans each
    // decoding only its half's columns beat one all-columns scan plus
    // a row-doubling Generate (r15 isolated A/B: explode cost a1 1.46
    // →1.93 s, j3 1.59→2.32 s, a15 1.46→1.69 s). The explode stays the
    // right shape where the duplicated upstream is EXPENSIVE
    // (GraphOps.symmetrize over the simplify window).
    val baits = interactions.select(
      fragmentId(col("baitChr"), col("baitStart"), col("baitEnd")).as("fragment"),
      coalesce(baitNames, lit("")).as("gene_names"),
      col("baitChr").as("chr"), col("baitStart").as("start"),
      col("baitEnd").as("end"), lit(if (hicMode) "O" else "P").as("type"))
    val oes = interactions.select(
      fragmentId(col("oeChr"), col("oeStart"), col("oeEnd")).as("fragment"),
      coalesce(oeNames, lit("")).as("gene_names"),
      col("oeChr").as("chr"), col("oeStart").as("start"),
      col("oeEnd").as("end"), lit("O").as("type"))
    // P wins over O for fragments seen on both sides: max(type)
    // ("P" > "O" lexically) — one shuffle, no window. chr/start/end are
    // functionally determined by the fragment key, so first() is
    // deterministic in value.
    baits.unionAll(oes)
      .groupBy("fragment")
      .agg(
        concat_ws(" ", collect_list(when(col("type") === "P", col("gene_names"))))
          .as("p_bag"),
        concat_ws(" ", collect_list(when(col("type") === "O", col("gene_names"))))
          .as("o_bag"),
        first(col("chr")).as("chr"), first(col("start")).as("start"),
        first(col("end")).as("end"),
        max(col("type")).as("type"))
      .select(col("fragment"),
        normalizeNames(when(col("type") === "P", col("p_bag"))
          .otherwise(col("o_bag"))).as("gene_names"),
        col("chr"), col("start"), col("end"), col("type"))
  }

  /** Edge derivation: one row per interaction with src/dst fragment ids
    * (src = bait, dst = oe) plus the score and type columns. */
  def edges(interactions: DataFrame, scoreCol: Option[String] = None): DataFrame = {
    val cols = Seq(
      fragmentId(col("baitChr"), col("baitStart"), col("baitEnd")).as("src"),
      fragmentId(col("oeChr"), col("oeStart"), col("oeEnd")).as("dst"),
      col("baitChr").as("src_chr"), col("oeChr").as("dst_chr")) ++
      scoreCol.map(s => col(s).as("score"))
    interactions.select(cols: _*)
  }

  /** G2 simplify: drop self-loops + duplicate undirected edges, keeping
    * per unordered (least, greatest) endpoint pair the FIRST edge in the
    * caller-supplied total order `orderCols` (igraph
    * edge.attr.comb="first"; reference network_generator.R:146-148).
    * The reference's "first" is file order, which a shuffle cannot
    * honor; an explicit total order is deterministic under any
    * partitioning. */
  def simplifyBy(edgesDf: DataFrame, orderCols: Seq[Column]): DataFrame = {
    val w = Window
      .partitionBy(least(col("src"), col("dst")),
        greatest(col("src"), col("dst")))
      .orderBy(orderCols: _*)
    edgesDf
      .filter(col("src") =!= col("dst"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** J9 bait classification: an edge is P-P iff its oe endpoint is also
    * a bait somewhere in the dataset, else P-O. The bait set is derived
    * from the edge table itself — unbounded at scale — so NO broadcast
    * hint: AQE picks broadcast when the distinct-src side turns out
    * small, shuffle-hash otherwise.
    * Reference: add_PCHiC_types, network_generator_lib.R:465-473. */
  def addTypes(edgesDf: DataFrame): DataFrame = {
    val baits = edgesDf.select(col("src").as("bait")).distinct()
      .withColumn("__isbait", lit(true))
    edgesDf
      .join(baits, edgesDf("dst") === baits("bait"), "left")
      .withColumn("type", when(col("__isbait"), lit("P-P")).otherwise(lit("P-O")))
      .drop("bait", "__isbait")
  }

  /** F7 non-ASCII alias scrub: drop aliases containing non-ASCII chars
    * (they break the JSON consumers downstream).
    * Reference: remove_no_ASCII_alias, network_generator_lib.R:886-899. */
  def scrubNonAscii(df: DataFrame, arrayCol: String): DataFrame =
    df.withColumn(arrayCol,
      filter(col(arrayCol), x => x.rlike("^[\\x00-\\x7F]*$")))

  /** F7 over the collapsed space-separated string form that
    * Annotate.annotatePromoters emits (the two compose directly):
    * split -> drop non-ASCII tokens -> re-collapse. */
  def scrubNonAsciiString(df: DataFrame, stringCol: String): DataFrame =
    df.withColumn(stringCol,
      concat_ws(" ", filter(split(col(stringCol), " "),
        x => x.rlike("^[\\x00-\\x7F]*$"))))
}
