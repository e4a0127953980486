package graft

import org.apache.spark.sql.functions._
import graft.core.{Chas, GraphOps}

/** A11-A16 chaser statistics + G6 randomization properties. */
class ChasSpec extends SparkSpec {

  /** `residentMaxEdges` of each aggregation route: 0 the relational
    * plans, the default the driver kernel. */
  private val Routes = Seq(0L, Chas.ResidentAggregateMaxRows)

  test("A11 ChAs: hand-computed edge-end correlation") {
    // path a-b-c with f(a)=1, f(b)=0, f(c)=1: symmetrized endpoint
    // samples x=[1,0,0,1], y=[0,1,1,0] -> Pearson r = -1
    val edges = edgesOf(Seq("a" -> "b", "b" -> "c"))
    val feats = featuresOf(Seq(("a", "f", 1.0), ("b", "f", 0.0), ("c", "f", 1.0)))
    val r = Chas.chas(edges, feats).collect()(0)
    assert(r.getString(0) == "f")
    assert(math.abs(r.getDouble(1) - (-1.0)) < 1e-9)
  }

  test("A12 abundance is the feature mean over nodes") {
    val feats = featuresOf(Seq(("a", "f", 1.0), ("b", "f", 0.0), ("c", "f", 1.0)))
    assert(math.abs(Chas.abundance(feats).collect()(0).getDouble(1) - 2.0 / 3) < 1e-12)
  }

  test("A13 mean degree of feature-positive nodes") {
    val edges = edgesOf(Seq("a" -> "b", "b" -> "c"))
    val feats = featuresOf(Seq(("a", "f", 1.0), ("b", "f", 0.0), ("c", "f", 1.0)))
    val m = Chas.meanDegreeOfPositives(feats, GraphOps.degrees(edges))
      .collect()(0).getDouble(1)
    assert(m == 1.0) // a and c both degree 1; b excluded (value 0)
  }

  test("A15 aggregation onto fragments: mean/max/proportion + missing fill") {
    import spark.implicits._
    val fragments = Seq(
      ("a", "1", 100L, 199L), ("b", "1", 300L, 399L), ("c", "2", 100L, 199L))
      .toDF("fragment", "chr", "start", "end")
    val intervals = Seq(
      ("1", 150L, 349L, "f1", 2.0),
      ("1", 360L, 380L, "f1", 4.0),
      ("2", 500L, 599L, "f1", 8.0))
      .toDF("chr", "start", "end", "feature", "value")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // small bucket width so intervals straddle buckets (dedup
    // predicate); both routes — residentMaxEdges = 0 is the relational
    // bucketed join, the default the driver sweep
    for (cut <- Routes) {
      val mean = asMap(Chas.aggregateOntoFragments(fragments, intervals,
        "mean", bucketWidth = 100L, residentMaxEdges = cut))
      assert(mean == Map("a" -> 2.0, "b" -> 3.0, "c" -> 0.0), s"cut $cut")
      val max = asMap(Chas.aggregateOntoFragments(fragments, intervals,
        "max", bucketWidth = 100L, residentMaxEdges = cut))
      assert(max == Map("a" -> 2.0, "b" -> 4.0, "c" -> 0.0), s"cut $cut")
      val prop = asMap(Chas.aggregateOntoFragments(fragments, intervals,
        proportion = true, bucketWidth = 100L, residentMaxEdges = cut))
      assert(prop == Map("a" -> 0.5, "b" -> 0.71, "c" -> 0.0), s"cut $cut")
    }
  }

  test("A15 proportion is COVERED proportion: overlapping peaks <= 1.0") {
    import spark.implicits._
    val fragments = Seq(("a", "1", 100L, 199L))
      .toDF("fragment", "chr", "start", "end")
    // three overlapping peaks; raw sum of overlaps = 60+60+20 = 140 > 100
    // but the union covers [110,179] = 70 positions -> 0.7
    val intervals = Seq(
      ("1", 110L, 169L, "f1", 1.0),
      ("1", 120L, 179L, "f1", 1.0),
      ("1", 130L, 149L, "f1", 1.0))
      .toDF("chr", "start", "end", "feature", "value")
    // disjoint-but-adjacent segments still sum exactly
    val adj = Seq(("1", 100L, 149L, "f1", 1.0), ("1", 150L, 199L, "f1", 1.0))
      .toDF("chr", "start", "end", "feature", "value")
    for (cut <- Routes) {
      val prop = Chas.aggregateOntoFragments(fragments, intervals,
        proportion = true, bucketWidth = 100L, residentMaxEdges = cut)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(prop == Map("a" -> 0.7), s"cut $cut")
      val full = Chas.aggregateOntoFragments(fragments, adj,
        proportion = true, bucketWidth = 100L, residentMaxEdges = cut)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(full == Map("a" -> 1.0), s"cut $cut")
    }
  }

  test("A16 binarize maps positives to 1.0, rest to 0.0") {
    val out = Chas.binarize(featuresOf(Seq(
        ("a", "f", 3.5), ("b", "f", 0.0), ("c", "f", -2.0))))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out == Map("a" -> 1.0, "b" -> 0.0, "c" -> 0.0))
  }

  private def cycleEdges = edgesOf(Seq(
    "a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a", "a" -> "c"))

  test("G6 randomize preserves per-side degree multisets") {
    val out = Chas.randomize(cycleEdges, nReplicates = 4, seed = 7L)
    val orig = cycleEdges
    val srcCounts = orig.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dstCounts = orig.groupBy("dst").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 until 4).foreach { rep =>
      val repDf = out.filter(col("replica") === rep)
      val s = repDf.groupBy("src").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val d = repDf.groupBy("dst").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(s == srcCounts, s"replica $rep src degrees")
      assert(d == dstCounts, s"replica $rep dst degrees")
    }
  }

  test("G6 randomize emits simple graphs: no self-loops, no dup edges") {
    val out = Chas.randomize(cycleEdges, nReplicates = 8, seed = 3L).collect()
    assert(out.forall(r => r.getString(1) != r.getString(2)), "self-loop")
    val byRep = out.groupBy(_.getInt(0).toLong)
    byRep.foreach { case (_, rows) =>
      val undirected = rows.map(r =>
        Set(r.getString(1), r.getString(2))).toSeq
      assert(undirected.distinct.size == undirected.size, "duplicate edge")
    }
  }

  test("G6 randomize is deterministic for a fixed seed") {
    def run(seed: Long) = Chas.randomize(cycleEdges, 2, seed).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_.toString)
    assert(run(11L).sameElements(run(11L)))
  }

  test("A14 envelope: min <= max, values inside [-1, 1]") {
    val feats = featuresOf(Seq(
      ("a", "f", 1.0), ("b", "f", 0.0), ("c", "f", 1.0), ("d", "f", 0.0)))
    val env = Chas.randomChasEnvelope(cycleEdges, feats, nReplicates = 5,
      seed = 5L).collect()
    env.foreach { r =>
      val (lo, hi) = (r.getDouble(1), r.getDouble(2))
      assert(lo <= hi)
      assert(lo >= -1.0 - 1e-9 && hi <= 1.0 + 1e-9)
    }
  }

  test("G6 distMatch: swaps confined to distance bins, invariants hold") {
    // coordinate-bearing fragment ids; two well-separated log-distance
    // bins (1-2kb vs ~1Mb) plus an inter-chromosomal edge in its own bin
    val near = (0 until 6).map(i =>
      (s"1_${i * 10000}_${i * 10000 + 999}",
       s"1_${i * 10000 + 2000}_${i * 10000 + 2999}"))
    val far = (0 until 6).map(i =>
      (s"2_${i * 10000}_${i * 10000 + 999}",
       s"2_${i * 10000 + 1000000}_${i * 10000 + 1000999}"))
    val inter = Seq(("3_0_999", "4_0_999"))
    val g = edgesOf(near ++ far ++ inter)
    val out = Chas.randomize(g, nReplicates = 3, seed = 21L,
      distMatch = true).collect()
    // count + per-side degree multiset preserved per replica; simple
    (0 until 3).foreach { rep =>
      val rows = out.filter(_.getInt(0) == rep)
      assert(rows.length == near.size + far.size + inter.size)
      assert(rows.forall(r => r.getString(1) != r.getString(2)))
      val keys = rows.map(r => Set(r.getString(1), r.getString(2))).toSeq
      assert(keys.distinct.size == keys.size)
      // bin confinement: swaps only pair edges in the same bin, so no
      // output edge can mix a chr1-near source with a chr2-far dest
      rows.foreach { r =>
        val sChr = r.getString(1).split("_")(0)
        val dChr = r.getString(2).split("_")(0)
        assert(Set(sChr, dChr) != Set("1", "2"),
          s"cross-bin swap leaked: ${r.getString(1)} -> ${r.getString(2)}")
      }
    }
  }

  test("G6 local chain == distributed chain, row for row") {
    // the bounded-regime LocalChain must replay the windowed rounds
    // BIT-identically (the oracle replays those rounds in SQL): compare
    // whole sorted result sets across shapes, tags, seeds and distMatch
    import org.apache.spark.sql.DataFrame
    def rows(df: DataFrame): Seq[(Int, String, String, String)] =
      df.collect().map(r => (r.getInt(0), r.getString(1),
        r.getString(2), r.getString(3))).sortBy(_.toString).toSeq
    val rnd = new scala.util.Random(31)
    val big = edgesOf((0 until 240).map { _ =>
      (s"1_${rnd.nextInt(80) * 1000}_${rnd.nextInt(80) * 1000 + 999}",
       s"2_${rnd.nextInt(200) * 1000}_${rnd.nextInt(200) * 1000 + 999}")
    }.distinct)
    val tagged = big.withColumn("tag",
      when(col("src") < col("dst"), lit("pp")).otherwise(lit("po")))
    val cyc = cycleEdges.withColumn("tag", lit("net"))
    for ((g, dm) <- Seq((cyc, false), (tagged, false), (tagged, true));
         seed <- Seq(7L, 99L)) {
      val local = Chas.randomizeTagged(g, "tag", nReplicates = 3,
        seed = seed, distMatch = dm)
      val dist = Chas.randomizeTagged(g, "tag", nReplicates = 3,
        seed = seed, distMatch = dm, localMaxChainRows = 0L)
      assert(rows(local) == rows(dist), s"distMatch=$dm seed=$seed")
    }
  }

  test("G6 tagged groups randomize INDEPENDENTLY: subset == solo chain") {
    // 'net' carries every edge, 'pp' a subset — the reference
    // randomizes each subnet separately, so the 'pp' rows of the joint
    // tagged chain must equal randomizing the pp subset alone (the
    // pairing hash is bin-free and the audit is group-scoped; a
    // cross-group audit — rejecting a pp swap because the minted key
    // exists in the net copy — breaks this identity)
    val rnd = new scala.util.Random(47)
    val raw = (0 until 200).map { _ =>
      (s"b${rnd.nextInt(60)}", s"o${60 + rnd.nextInt(140)}") }.distinct
    val all = edgesOf(raw)
    val pp = all.filter(crc32(concat(col("src"), col("dst"))) % 3 === 0)
    val tagged = all.withColumn("tag", lit("net"))
      .unionByName(pp.withColumn("tag", lit("pp")))
    val joint = Chas.randomizeTagged(tagged, "tag", nReplicates = 2,
        seed = 7L)
      .filter(col("tag") === "pp").drop("tag")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_.toString).toSeq
    val solo = Chas.randomize(pp, nReplicates = 2, seed = 7L)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_.toString).toSeq
    assert(joint == solo)
    assert(joint.nonEmpty)
  }

  test("G6 randomize actually mixes: most edges differ from the original") {
    // 80-bait/240-edge random graph: after 10 swap rounds each replica
    // must replace a substantial share of undirected keys (a no-op
    // randomizer - e.g. an over-rejecting audit - fails this)
    val rnd = new scala.util.Random(13)
    val raw = (0 until 240).map { _ =>
      (s"b${rnd.nextInt(80)}", s"o${80 + rnd.nextInt(200)}") }.distinct
    val g = edgesOf(raw)
    val orig = raw.map { case (a, b) => Set(a, b) }.toSet
    val out = Chas.randomize(g, nReplicates = 2, seed = 99L).collect()
    (0 until 2).foreach { rep =>
      val keys = out.filter(_.getInt(0) == rep)
        .map(r => Set(r.getString(1), r.getString(2))).toSet
      val changed = keys.diff(orig).size.toDouble / keys.size
      assert(changed > 0.3, s"replica $rep only ${changed * 100}%% changed")
    }
  }
}
