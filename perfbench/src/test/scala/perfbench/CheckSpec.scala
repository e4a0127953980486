package perfbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: the generator is deterministic per seed and
  * every checker accepts a correct output and rejects a corrupted one. */
class CheckSpec extends AnyFunSuite {
  private def tmp(p: String) = Files.createTempDirectory(p).toString
  private lazy val ds = Gen.dataset(tmp("perfbench_ds"), 11L, 1)
  private lazy val model = Model.of(ds, 0)

  private def q(s: String) = "\"" + s + "\""
  private def doc(nodes: Seq[String], edges: Seq[((String, String), String)],
                  extra: String => String = _ => ""): String =
    if (nodes.size <= 1) "{}"
    else (nodes.map(n => s"""{"data":{"id":${q(n)}${extra(n)}},"group":"nodes"}""") ++
      edges.map { case ((s, d), t) =>
        s"""{"data":{"source":${q(s)},"target":${q(d)},"type":${q(t)},"id":${q(s + "~" + d)}},"group":"edges"}"""
      }).mkString("[", ",", "]")

  private def featuresMetadataJson(stats: Map[(String, String), (Option[Double], Option[Double])],
                                   shift: Double = 0.0): String =
    stats.groupBy(_._1._1).map { case (f, subs) =>
      q(f) + ":" + subs.map { case ((_, sub), (ab, md)) =>
        def v(x: Option[Double], d: Double) = x.map(y => (y + d).toString).getOrElse("null")
        s"""${q(sub)}:{"Abundance":${v(ab, if (sub == "net") shift else 0)},"ChAs":0.1,""" +
          s""""Random ChAs interval":"-0.100,0.200","Mean degree":${v(md, 0)}}"""
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")

  /** A correct tree for `m`, optionally with one edge dropped or the net
    * abundance shifted. */
  private def writeTree(m: Model, dropEdge: Boolean = false, shift: Double = 0.0): String = {
    val out = tmp("perfbench_tree")
    Files.createDirectories(Path.of(s"$out/chromosomes"))
    val edges = if (dropEdge) m.edges - m.edges.keys.head else m.edges
    val chrs = (m.vertices.map(Model.chrOf).toSeq :+ "PP")
      .sortBy(c => c.toIntOption.map(i => f"0$i%09d").getOrElse("1" + c))
    Files.writeString(Path.of(s"$out/chromosomes.json"), chrs.map(q).mkString("[", ",", "]"))
    for (c <- chrs) {
      val es = edges.toSeq.filter { case ((s, d), _) => Model.chrOf(s) == c || Model.chrOf(d) == c }
      val ns = es.flatMap { case ((s, d), _) => Seq(s, d) }.distinct
      Files.writeString(Path.of(s"$out/chromosomes/chr$c.json"), doc(ns, es))
    }
    val e = Check.expectedMetadata(m)
    Files.writeString(Path.of(s"$out/metadata.json"),
      (Check.CountFields.map(k => s"${q(k)}:${e(k).toLong}") ++ Seq(
        s""""max_component_pct":${q(f"${e("max_component_pct")}%.2f%%")}""",
        s""""mean_degree":${e("mean_degree")}""", s""""transitivity":${e("transitivity")}""",
        s""""diameter":${e("diameter").toLong}""")).mkString("{", ",", "}"))
    Files.writeString(Path.of(s"$out/features_metadata.json"),
      featuresMetadataJson(Check.expectedSubnetStats(m, ds.features), shift))
    out
  }

  test("generator is deterministic for a seed and differs between seeds") {
    val a = Gen.dataset(tmp("perfbench_a"), 5L, 2)
    val b = Gen.dataset(tmp("perfbench_b"), 5L, 2)
    val c = Gen.dataset(tmp("perfbench_c"), 6L, 2)
    def bytes(d: Gen.Dataset, f: String) = Files.readAllBytes(Path.of(s"${d.dir}/$f"))
    val files = Seq("pchic_mESC_ct00.tsv", "pchic_mESC_ct01.tsv", "alias.tsv",
      "bait_names.tsv", "intronic.tsv", "features_on_nodes.tsv")
    for (f <- files) assert(bytes(a, f).sameElements(bytes(b, f)), f)
    assert(!bytes(a, files.head).sameElements(bytes(c, files.head)))
    // cell types share fragments but differ in scores
    assert(!bytes(a, files(0)).sameElements(bytes(a, files(1))))
    assert(a.rows.map(r => (r.bait, r.oe)) == b.rows.map(r => (r.bait, r.oe)))
    val ua = Gen.upload(a, tmp("perfbench_ua"), 5L, 3)
    val ub = Gen.upload(b, tmp("perfbench_ub"), 5L, 3)
    assert(Files.readString(Path.of(ua.path)) == Files.readString(Path.of(ub.path)))
  }

  test("tree checker accepts a correct tree and rejects a dropped edge or shifted abundance") {
    assert(Check.tree(model, ds.features, writeTree(model)).isEmpty)
    assert(Check.tree(model, ds.features, writeTree(model, dropEdge = true)).nonEmpty)
    assert(Check.tree(model, ds.features, writeTree(model, shift = 0.1)).nonEmpty)
  }

  test("response checker rejects a wrong degree") {
    val nodes = ds.frags.filter(f => model.vertices(f.id)).map { f =>
      val names = ds.genes.filter(_.bait == f).map(_.name).mkString(" ")
      f.id -> Check.Node(f.id, names, f.chr, f.start, f.end)
    }.toMap
    val edges = model.edges.keySet
    val gene = ds.genes.find(g => model.adj.contains(g.bait.id)).get
    val query = Check.Query("gene", gene.name)
    val (seeds, ids, es) = Check.expectSearch(query, nodes, edges, model.adj)
    assert(seeds.contains(gene.bait.id) && ids.size > 1)
    val deg = es.toSeq.flatMap { case (s, d) => Seq(s, d) }.groupBy(identity).view.mapValues(_.size).toMap
    def response(bump: String) = doc(ids.toSeq, es.toSeq.map(_ -> "P-O"), n =>
      s""","searched":${q(seeds(n).toString)},"degree":${deg.getOrElse(n, 0) + (if (n == bump) 1 else 0)}""")
    val pos = ids.toSeq.zipWithIndex.map { case (n, i) => (n, i * 100.0, 0.0) }
    assert(Check.response(query, response(""), pos, nodes, edges, model.adj).isEmpty)
    assert(Check.response(query, response(ids.head), pos, nodes, edges, model.adj).nonEmpty)
    assert(Check.response(Check.Query("nomatch", "Zqx1"), "{}", Nil, nodes, edges, model.adj).isEmpty)
  }

  test("upload checker rejects a shifted fragment value or abundance") {
    val up = Gen.upload(ds, tmp("perfbench_up"), 11L, 0)
    val expected = Check.uploadValues(model, ds.frags, up.intervals)
    assert(expected.values.exists(_.values.exists(_ > 0)))
    val out = tmp("perfbench_upout")
    def write(shiftValue: Double, shiftAbundance: Double): Seq[String] = {
      val bumped = expected.keys.min
      Files.writeString(Path.of(s"$out/features.json"), expected.map { case (frag, fs) =>
        q(frag) + ":" + fs.map { case (f, v) =>
          s"${q(f)}:${v + (if (frag == bumped) shiftValue else 0)}" }.mkString("{", ",", "}")
      }.mkString("{", ",", "}"))
      Files.writeString(Path.of(s"$out/features_metadata.json"),
        featuresMetadataJson(Check.expectedSubnetStats(model, expected), shiftAbundance))
      Check.upload(model, expected, s"$out/features.json", s"$out/features_metadata.json")
    }
    assert(write(0, 0).isEmpty)
    assert(write(0.5, 0).nonEmpty)
    assert(write(0, 0.1).nonEmpty)
  }
}
