package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end output-tree golden: Pipeline.build + writeDatasetTree on
  * sf0.001 must reproduce the checked-in tree byte-for-byte — the
  * pipeline.sh:109-124 layout (metadata.json, suggestions.json,
  * chromosomes.json, features_metadata.json, chromosomes/chr*.json).
  * Regenerate deliberately with `sbt "Test/runMain graft.GoldenGen"`.
  * Every build runs on both routes: `residentMaxEdges` 0 (the
  * relational plans) and the default (the driver kernel). */
class PipelineTreeSpec extends SparkSpec {

  private val Routes = Seq(0L, graft.core.Regime.ResidentMaxEdges)

  test("writeDatasetTree reproduces the checked-in golden tree byte-exact") {
    val golden = Paths.get(GoldenTree.goldenDir)
    assert(Files.isDirectory(golden),
      s"golden tree missing - run: sbt 'Test/runMain graft.GoldenGen'")
    for (cut <- Routes) {
      val out = Files.createTempDirectory("grafttree").toString
      GoldenTree.write(spark, out, residentMaxEdges = cut)

      def rel(root: Path): Set[String] = Files.walk(root).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSet
      val expected = rel(golden)
      assert(expected.nonEmpty && expected.contains("metadata.json"))
      assert(rel(Paths.get(out)) == expected)

      expected.foreach { f =>
        val e = Files.readString(golden.resolve(f))
        val a = Files.readString(Paths.get(out).resolve(f))
        assert(a == e, s"$f differs from golden")
      }
    }
  }

  test("tree documents carry non-degenerate layout positions") {
    // the reference checker's semantics
    // (chromosomes_positions_checker.sh:9-27): every chromosome
    // document's nodes carry position{x,y}, the first node is NOT the
    // (0,0) "not generated" sentinel, and no coordinate is
    // exponent-formatted (the failure the reference sed-patches)
    val golden = Paths.get(GoldenTree.goldenDir)
    val docs = Files.list(golden.resolve("chromosomes")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq
    assert(docs.nonEmpty)
    val posRe = """"position":\{"x":(-?\d+(\.\d+)?),"y":(-?\d+(\.\d+)?)\}"""
      .r
    docs.foreach { p =>
      val body = Files.readString(p)
      if (body != "{}") {
        val nNodes = """"group":"nodes"""".r.findAllIn(body).size
        val ps = posRe.findAllMatchIn(body)
          .map(m => (m.group(1), m.group(3))).toSeq
        assert(ps.size == nNodes,
          s"$p: ${ps.size} positions for $nNodes node elements")
        assert(ps.head != (("0", "0")),
          s"$p: first node at the (0,0) sentinel")
        assert(ps.distinct.size > 1, s"$p: positions collapsed")
        assert(!body.contains("\"position\":{\"x\":null"),
          s"$p: null position")
        // exponent-formatted coordinates would fail the regex above —
        // assert none slipped past it in any position object
        assert(!""""position":\{[^}]*[eE][+-]""".r
          .findFirstIn(body).isDefined, s"$p: exponent coordinate")
      }
    }
  }

  test("incremental refresh reproduces the full-tree document bytes " +
      "and touches nothing else") {
    val golden = Paths.get(GoldenTree.goldenDir)
    val docs = Files.list(golden.resolve("chromosomes")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq.sorted
    assert(docs.nonEmpty)
    val chrs = docs.map(_.stripPrefix("chr").stripSuffix(".json"))
    for (cut <- Routes) {
      // same dataset, but ONLY the dirty chromosomes re-run through the
      // delta path — the bytes must equal the full writeDatasetTree's
      val out = Files.createTempDirectory("graftrefresh").toString
      graft.core.Pipeline.refreshChromosomeDocs(
        GoldenTree.dataset(spark, cut), out, chrs)
      chrs.foreach { c =>
        assert(Files.readString(Paths.get(s"$out/chromosomes/chr$c.json")) ==
          Files.readString(golden.resolve(s"chromosomes/chr$c.json")),
          s"chr$c.json differs from the full-tree bytes")
      }
      // the refresh writes exactly the dirty documents, nothing else
      val written = Files.walk(Paths.get(out)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => Paths.get(out).relativize(p).toString).toSet
      assert(written == chrs.map(c => s"chromosomes/chr$c.json").toSet)
    }
  }

  test("forced-distributed tree write matches the golden documents") {
    // the bulk regime (distributedDocs=true, normally engaged above
    // DocStreamMaxEdges): every chr<c>.json becomes a line DIRECTORY
    // whose concatenated rows must equal the golden single file; the
    // metadata JSONs are identical single files in both regimes
    val golden = Paths.get(GoldenTree.goldenDir)
    for (cut <- Routes) {
      val out = Files.createTempDirectory("grafttreedist").toString
      GoldenTree.write(spark, out, distributedDocs = Some(true),
        residentMaxEdges = cut)
      Files.walk(golden).iterator().asScala
        .filter(Files.isRegularFile(_))
        .foreach { p =>
          val f = golden.relativize(p).toString
          val e = Files.readString(p)
          val target = Paths.get(out).resolve(f)
          if (f.startsWith("chromosomes/")) {
            assert(Files.isDirectory(target), s"$f should be a line dir")
            val parts = Files.list(target).iterator().asScala
              .filter(_.getFileName.toString.startsWith("part-")).toSeq
            assert(parts.size == 1, s"$f: one task per document")
            val got = Files.readAllLines(parts.head).asScala.mkString("")
            assert(got == e, s"$f differs from golden (concatenated)")
          } else {
            assert(Files.readString(target) == e, s"$f differs from golden")
          }
        }
    }
  }
}
