package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Locale
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generator. Everything the program reads is written as a
  * file in the reference's formats (FIXTURES.md §1, §3-§5); the same seed
  * gives byte-identical files. The generator also keeps its own rows in
  * memory so the output checks never ask the program what it was fed.
  *
  * Shape (per seed, fixed sizes — only values move with the seed): a
  * mouse-like genome of 19 autosomes + X + Y (+ an MT contig whose rows
  * the pipeline must drop), ~18k HindIII-like fragments of which
  * [[Gen.Baits]] are baited promoters, and ~22k bait↔other-end rows in
  * which one cell type keeps ~15.5k edges on ~9.9k vertices (~5.8k P-P)
  * above the 5.0 threshold — about a fifth of the Mouse ESC dataset
  * (72,231 edges / 55,855 vertices / 21,039 P-P). */
object Gen {
  val Baits = 3000
  val Fragments = 18000
  val Threshold = 5.0
  val Features = Seq("EZH2", "SUZ12", "H3K27me3", "H3K4me3", "RNAPII")
  val UploadFormats = Seq("bed3", "bed6", "macs2", "chromhmm", "features_table")
  private val chrWeights: Seq[(String, Int)] =
    (1 to 19).map(c => c.toString -> (200 - 6 * c)) ++
      Seq("X" -> 170, "Y" -> 40)
  private val syllables = Seq("Hox", "Sox", "Pax", "Zfp", "Tbx", "Gata",
    "Klf", "Nr", "Fox", "Irx", "Lhx", "Dlx", "Wnt", "Fgf", "Bmp", "Six")

  final case class Frag(chr: String, start: Long, end: Long) {
    val id: String = s"${chr}_${start}_$end"
  }
  /** One interaction row of the shared universe (score per cell type
    * lives in [[Dataset.scores]]). */
  final case class Row(bait: Frag, oe: Frag, baitName: String,
                       oeName: String)
  final case class Gene(name: String, ensembl: String, bait: Frag,
                        aliases: Seq[String])
  /** One uploaded feature interval: the canonical (chr, start, end,
    * feature, value) the upload reader must reconstruct. */
  final case class Interval(chr: String, start: Long, end: Long,
                            feature: String, value: Double)
  final case class Upload(path: String, format: String, option: String,
                          featureName: String, intervals: Seq[Interval])

  final case class Dataset(dir: String, frags: IndexedSeq[Frag],
                           baits: IndexedSeq[Frag], rows: IndexedSeq[Row],
                           genes: IndexedSeq[Gene],
                           scores: IndexedSeq[Array[Double]],
                           cellTypes: IndexedSeq[String],
                           features: Map[String, Map[String, Double]]) {
    def pchicPath(ct: Int): String = s"$dir/pchic_${cellTypes(ct)}.tsv"
    def aliasPath: String = s"$dir/alias.tsv"
    def baitNamesPath: String = s"$dir/bait_names.tsv"
    def intronicPath: String = s"$dir/intronic.tsv"
    def featuresPath: String = s"$dir/features_on_nodes.tsv"
    /** Rows of cell type `ct` that survive the score threshold (strict
      * >) and the MT drop — the working set every check starts from. */
    def working(ct: Int): IndexedSeq[(Row, Double)] =
      rows.indices.collect {
        case i if scores(ct)(i) > Threshold && rows(i).bait.chr != "MT" &&
          rows(i).oe.chr != "MT" => (rows(i), scores(ct)(i))
      }
  }

  private def fmt(d: Double): String = String.format(Locale.ROOT, "%.2f", d)
  private def r2(d: Double): Double = math.round(d * 100.0) / 100.0

  private def writeLines(path: String)(body: BufferedWriter => Unit): Unit = {
    val w = Files.newBufferedWriter(Path.of(path), StandardCharsets.UTF_8)
    try body(w) finally w.close()
  }

  /** Write the dataset for `seed` with `nCellTypes` PCHiC files under
    * `dir`. */
  def dataset(dir: String, seed: Long, nCellTypes: Int): Dataset = {
    new File(dir).mkdirs()
    val rnd = new Random(seed)
    // fragments: contiguous HindIII-like tiling per chromosome
    val totalW = chrWeights.map(_._2).sum
    val frags = ArrayBuffer.empty[Frag]
    val byChr = mutable.LinkedHashMap.empty[String, IndexedSeq[Frag]]
    for ((c, w) <- chrWeights) {
      val n = Fragments * w / totalW
      var pos = 3000000L
      val fs = (0 until n).map { _ =>
        val len = 1000L + rnd.nextInt(8000)
        val f = Frag(c, pos, pos + len - 1); pos += len; f
      }
      byChr(c) = fs; frags ++= fs
    }
    val mtFrags = (0 until 20).map(i => Frag("MT", 1L + i * 800L, 800L + i * 800L))
    val chrs = byChr.keys.toIndexedSeq
    // baits: an evenly spread random subset, kept per chromosome in order
    val baitIdx = rnd.shuffle(frags.indices.toVector).take(Baits).sorted
    val baits = baitIdx.map(frags)
    val baitSet = baits.toSet
    val baitsByChr = baits.groupBy(_.chr)
    val posInChr = byChr.values.flatMap(_.zipWithIndex).toMap

    // genes: one or two per bait, a small pool of shared family names
    // (Hoxa-style promoters that share a symbol)
    val family = (0 until 120).map(i =>
      s"${syllables(i % syllables.size)}${('a' + (i / syllables.size) % 4).toChar}${1 + i / 64}")
    val genes = ArrayBuffer.empty[Gene]
    val baitGenes = baits.map { b =>
      val k = { val u = rnd.nextDouble(); if (u < 0.05) 0 else if (u < 0.85) 1 else 2 }
      (0 until k).map { _ =>
        val name =
          if (rnd.nextDouble() < 0.12) family(rnd.nextInt(family.size))
          else if (rnd.nextDouble() < 0.5)
            s"${syllables(rnd.nextInt(syllables.size))}${('a' + rnd.nextInt(26)).toChar}${genes.size}"
          else s"Gm${10000 + genes.size}"
        val aliases = rnd.nextInt(3) match {
          case 0 => Nil
          case 1 => Seq(s"Al${100000 + genes.size}")
          case _ => Seq(s"Al${100000 + genes.size}", s"${name.toUpperCase}L")
        }
        val g = Gene(name, f"ENSMUSG${genes.size + 1}%011d", b,
          if (genes.size == 7) aliases :+ "Pkcβ" else aliases)
        genes += g; g
      }
    }
    val geneOf = baits.zip(baitGenes).toMap

    def nameBag(gs: Seq[Gene]): String =
      if (gs.isEmpty) "." else gs.map { g =>
        if (rnd.nextDouble() < 0.1) s"${g.name}-${1 + rnd.nextInt(3)}" else g.name
      }.mkString(if (rnd.nextBoolean()) ";" else ",")

    def cisTarget(b: Frag): Frag = {
      val fs = byChr(b.chr); val p = posInChr(b)
      val j = math.max(0, math.min(fs.size - 1, p + rnd.nextInt(301) - 150))
      fs(j)
    }
    def anyFrag(): Frag = {
      val fs = byChr(chrs(rnd.nextInt(chrs.size))); fs(rnd.nextInt(fs.size))
    }
    val rows = ArrayBuffer.empty[Row]
    def addRow(b: Frag, o: Frag): Unit = {
      val oeName =
        if (baitSet.contains(o)) nameBag(geneOf(o))
        else if (rnd.nextDouble() < 0.05) genes(rnd.nextInt(genes.size)).name
        else "."
      rows += Row(b, o, nameBag(geneOf.getOrElse(b, Nil)), oeName)
    }
    for (b <- baits) {
      val k = 2 + math.min(38, (-math.log(1.0 - rnd.nextDouble()) * 5.8).toInt)
      for (_ <- 0 until k) {
        val o =
          if (rnd.nextDouble() < 0.25) {
            val bs = if (rnd.nextDouble() < 0.9) baitsByChr(b.chr)
                     else baitsByChr(chrs(rnd.nextInt(chrs.size)))
            bs(rnd.nextInt(bs.size))
          } else if (rnd.nextDouble() < 0.95) cisTarget(b) else anyFrag()
        if (o != b) addRow(b, o)
      }
    }
    // the reference's quirks: exact duplicate pairs, self-loops, MT rows
    for (_ <- 0 until rows.size / 100) { val r = rows(rnd.nextInt(rows.size)); addRow(r.bait, r.oe) }
    for (_ <- 0 until 40) { val b = baits(rnd.nextInt(baits.size)); addRow(b, b) }
    for (_ <- 0 until 60) {
      val b = baits(rnd.nextInt(baits.size))
      if (rnd.nextBoolean()) addRow(b, mtFrags(rnd.nextInt(mtFrags.size)))
      else rows += Row(mtFrags(rnd.nextInt(mtFrags.size)), b, "mt-Co1", ".")
    }
    val quality = rows.map(_ => rnd.nextDouble())
    val cellTypes = (0 until nCellTypes).map(i => f"mESC_ct$i%02d")
    val scores = cellTypes.indices.map { _ =>
      quality.map { q =>
        val u = rnd.nextDouble()
        // ~0.4% of rows sit exactly on the threshold (strict > drops them)
        if (u < 0.004) Threshold else r2(math.max(0.0, 1.0 + 8.0 * q + 4.0 * u))
      }.toArray
    }
    for (ct <- cellTypes.indices) writeLines(s"$dir/pchic_${cellTypes(ct)}.tsv") { w =>
      w.write(Seq("baitChr", "baitStart", "baitEnd", "baitID", "baitName",
        "oeChr", "oeStart", "oeEnd", "oeID", "oeName", "dist",
        cellTypes(ct)).mkString("\t")); w.newLine()
      for (i <- rows.indices) {
        val r = rows(i)
        val dist = if (r.bait.chr == r.oe.chr) (r.oe.start - r.bait.start).toString else "NA"
        w.write(s"${r.bait.chr}\t${r.bait.start}\t${r.bait.end}\t${i + 1}\t${r.baitName}\t" +
          s"${r.oe.chr}\t${r.oe.start}\t${r.oe.end}\t${i + 100001}\t${r.oeName}\t$dist\t" +
          fmt(scores(ct)(i)))
        w.newLine()
      }
    }
    // annotation tables (FIXTURES.md §5)
    writeLines(s"$dir/alias.tsv") { w =>
      w.write("chr\tstart\tend\tEnsembl gene ID\tGene name\tGene type\tAlias\tMGI ID"); w.newLine()
      for ((g, i) <- genes.zipWithIndex; a <- if (g.aliases.isEmpty) Seq("") else g.aliases) {
        w.write(s"${g.bait.chr}\t${math.max(1L, g.bait.start - 6000)}\t${g.bait.end + 6000}\t" +
          s"${g.ensembl}\t${g.name}\tprotein_coding\t$a\tMGI:${1000000 + i}")
        w.newLine()
      }
    }
    writeLines(s"$dir/bait_names.tsv") { w =>
      w.write("Chr\tStart\tEnd\tgene_id\tensembl_id\tregion"); w.newLine()
      for (b <- baits if rnd.nextDouble() < 0.9) {
        val gs = geneOf(b)
        val ids = if (gs.isEmpty) "." else gs.map(g => s"${g.name}-${201 + rnd.nextInt(3)}").mkString(",")
        w.write(s"${b.chr}\t${b.start}\t${b.end}\t$ids\t${gs.map(_.ensembl).mkString(",")}\tpromoter")
        w.newLine()
      }
    }
    writeLines(s"$dir/intronic.tsv") { w =>
      w.write("chr\tstart\tend"); w.newLine()
      for (_ <- 0 until 3000) {
        val f = anyFrag(); val s = f.start + rnd.nextInt(2000)
        w.write(s"${f.chr}\t$s\t${s + 1000 + rnd.nextInt(19000)}"); w.newLine()
      }
    }
    // features_on_nodes (FIXTURES.md §3): 0/1 chromatin domains along
    // each chromosome, so neighbouring fragments share marks (non-zero
    // ChAs) and every subnet sees both values
    val features = mutable.Map.empty[String, Map[String, Double]]
    writeLines(s"$dir/features_on_nodes.tsv") { w =>
      w.write(("fragment" +: Features).mkString("\t")); w.newLine()
      val state = Array.fill(Features.size)(false)
      for (f <- frags) {
        for (j <- state.indices) if (rnd.nextDouble() < 0.08 + 0.03 * j) state(j) = !state(j)
        if (rnd.nextDouble() < 0.85) {
          val vals = state.map(s => if (s) 1.0 else 0.0)
          features(f.id) = Features.zip(vals).toMap
          w.write((("chr" + f.id) +: vals.map(v => fmt(v)).toSeq).mkString("\t")); w.newLine()
        }
      }
    }
    Dataset(dir, frags.toIndexedSeq, baits, rows.toIndexedSeq, genes.toIndexedSeq,
      scores, cellTypes, features.toMap)
  }

  /** One upload in the `k`-th format of the rotation, drawn from `seed`
    * over the dataset's fragments (FIXTURES.md §4). */
  def upload(ds: Dataset, dir: String, seed: Long, k: Int): Upload = {
    new File(dir).mkdirs()
    val rnd = new Random(seed * 7919L + k)
    val format = UploadFormats(k % UploadFormats.size)
    val featureName = s"up${k}_$format"
    val states = (1 to 6).map(i => s"E$i")
    val n = 2500
    val ivs = (0 until n).map { _ =>
      val f = ds.frags(rnd.nextInt(ds.frags.size))
      val s = math.max(1L, f.start - 5000 + rnd.nextInt(10000))
      val e = s + 200 + rnd.nextInt(5800)
      val (feat, v) = format match {
        case "bed3" => (featureName, r2(rnd.nextDouble() * 10))
        case "bed6" => (featureName, rnd.nextInt(1001).toDouble)
        case "macs2" => (featureName, r2(1 + rnd.nextDouble() * 49))
        case "chromhmm" => (states(rnd.nextInt(states.size)), 1.0)
        case _ => ("RT", r2(rnd.nextDouble() * 6 - 3))
      }
      Interval(f.chr, s, e, feat, v)
    }
    val ext = if (format == "features_table") "tsv" else format
    val path = s"$dir/upload_$k.$ext"
    writeLines(path) { w =>
      if (format == "features_table") { w.write("chr\tstart\tend\tRT"); w.newLine() }
      for ((iv, i) <- ivs.zipWithIndex) {
        val base = s"${iv.chr}\t${iv.start}\t${iv.end}"
        w.write(format match {
          case "bed3" => s"$base\t${fmt(iv.value)}"
          case "bed6" => s"$base\tpeak$i\t${iv.value.toLong}\t${if (i % 2 == 0) "+" else "-"}"
          case "macs2" => s"$base\tpeak$i\t${rnd.nextInt(1000)}\t.\t${fmt(iv.value)}\t" +
            s"${fmt(rnd.nextDouble() * 20)}\t${fmt(rnd.nextDouble() * 20)}\t${rnd.nextInt(200)}"
          case "chromhmm" => s"$base\t${iv.feature}"
          case _ => s"$base\t${fmt(iv.value)}"
        })
        w.newLine()
      }
    }
    val option = format match {
      case "bed3" | "macs2" => "proportion_on_nodes"
      case "bed6" | "features_table" => "match_nodes"
      case _ => "chromHMM"
    }
    Upload(path, format, option, featureName, ivs)
  }
}
