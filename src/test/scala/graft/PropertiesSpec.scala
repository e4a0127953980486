package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.{Chas, Interactions, Intervals}

/** ScalaCheck-generated properties (SURVEY §5): bucketed interval join
  * ≡ brute force, normalizeNames idempotent, simplify emits unique
  * loop-free undirected keys — each checked over several seeded random
  * frames (raw Gen + fixed seeds; the scalatestplus bridge is not in
  * the offline artifact cache). */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default
  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(params, Seed(seed))

  private val ivGen: Gen[(String, Long, Long)] = for {
    chr <- Gen.oneOf("1", "2", "X")
    start <- Gen.choose(0L, 5000L)
    len <- Gen.choose(0L, 3000L)
  } yield (chr, start, start + len)

  test("property: overlapJoin equals brute force on random intervals") {
    (1 to 5).foreach { it =>
      val ls = sample(Gen.listOfN(12, ivGen), it * 2L)
      val rs = sample(Gen.listOfN(12, ivGen), it * 2L + 1)
      val left = ls.zipWithIndex
        .map { case ((c, s, e), i) => (s"l$i", c, s, e) }
        .toDF("id", "chr", "start", "end")
      val right = rs.zipWithIndex
        .map { case ((c, s, e), i) => (c, s, e, s"r$i") }
        .toDF("chr", "start", "end", "name")
      val bucketed = Intervals.overlapJoin(left, right, rightPrefix = "r_",
          bucketWidth = 1000L)
        .select("id", "r_name").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val brute = left.as("l").join(right.as("r"),
          col("l.chr") === col("r.chr") &&
          col("l.start") <= col("r.end") && col("l.end") >= col("r.start"))
        .select(col("l.id"), col("r.name")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(bucketed == brute, s"iteration $it")
    }
  }

  test("property: covered proportion equals brute-force position count") {
    // one fragment [0, 999]; random (possibly overlapping, duplicate)
    // feature intervals; the engine's interval-union proportion must
    // equal |union of covered positions| / 1000 exactly, and stay <= 1
    val segGen = for {
      start <- Gen.choose(-200L, 1100L)
      len <- Gen.choose(0L, 500L)
    } yield (start, start + len)
    (1 to 5).foreach { it =>
      val segs = sample(Gen.listOfN(10, segGen), 300L + it)
      val fragments = Seq(("f", "1", 0L, 999L))
        .toDF("fragment", "chr", "start", "end")
      val intervals = segs
        .map { case (s, e) => ("1", s, e, "ft", 1.0) }
        .toDF("chr", "start", "end", "feature", "value")
      val covered = segs.flatMap { case (s, e) =>
        (math.max(s, 0L) to math.min(e, 999L)) }.distinct.size
      // both routes: the relational bucketed join and window merge
      // (residentMaxEdges = 0), the driver sweep (the default)
      for (cut <- Seq(0L, Chas.ResidentAggregateMaxRows)) {
        val got = Chas.aggregateOntoFragments(fragments, intervals,
            proportion = true, bucketWidth = 500L, residentMaxEdges = cut)
          .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
        assert(math.abs(got("f") - covered / 1000.0) < 1e-9,
          s"iteration $it, cut $cut: got ${got("f")}, brute ${covered / 1000.0}")
        assert(got("f") <= 1.0 + 1e-9)
      }
    }
  }

  test("property: normalizeNames is idempotent") {
    val bagGen = Gen.listOf(Gen.oneOf("Hoxa1", "Hoxa1-1", ".", "B2", "x-9"))
      .map(_.mkString(" "))
    (1 to 5).foreach { it =>
      val bags = sample(Gen.listOfN(8, bagGen), 100L + it)
      val df = bags.toDF("bag")
      val once = df.select(Interactions.normalizeNames(col("bag")).as("n"))
      val twice = once.select(Interactions.normalizeNames(col("n")).as("n"))
      assert(once.collect().map(_.getString(0))
        .sameElements(twice.collect().map(_.getString(0))), s"iteration $it")
    }
  }

  test("property: simplify output has unique undirected keys, no loops") {
    val edgeGen = for {
      a <- Gen.choose(0, 8); b <- Gen.choose(0, 8)
    } yield (s"n$a", s"n$b", (a * 31 + b).toDouble)
    (1 to 5).foreach { it =>
      val es = sample(Gen.listOfN(25, edgeGen), 200L + it)
      val df = es.toDF("src", "dst", "score")
      val out = Interactions.simplifyBy(df,
        Seq(col("score"), col("src"), col("dst"))).collect()
      assert(out.forall(r => r.getString(0) != r.getString(1)))
      val keys = out.map(r => Set(r.getString(0), r.getString(1)))
      assert(keys.distinct.length == keys.length, s"iteration $it")
    }
  }

  test("property: pii scrub leaves zero residual matches on noisy text") {
    import graft.ext.TextOps
    // words, digit runs, dots/dashes/@ noise, and well-formed PII mixed
    val tokGen: Gen[String] = Gen.frequency(
      4 -> Gen.oneOf("lorem", "ipsum", "x1y", "a.b", "3.14", "v2",
        "a-b-c", "12-34", "@", "1.2.3", "999"),
      1 -> Gen.oneOf("u@ex.org", "a.b+c@d-e.io", "10.0.0.1",
        "255.255.255.255", "555-123-4567", "000-000-0000"))
    (1 to 5).foreach { it =>
      val texts = sample(Gen.listOfN(20, Gen.listOfN(15, tokGen)
        .map(_.mkString(" "))), 300L + it)
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // replacements carry no digits or '@', so a scrubbed class can
      // never re-create a match for itself or a later class
      val residual = TextOps.piiScrub(d)
        .select(
          regexp_count(col("clean"), lit(TextOps.EmailRe)).as("e"),
          regexp_count(col("clean"), lit(TextOps.Ipv4Re)).as("i"),
          regexp_count(col("clean"), lit(TextOps.PhoneRe)).as("p"))
        .agg(sum("e"), sum("i"), sum("p")).collect()(0)
      assert((0 until 3).forall(residual.getLong(_) == 0L),
        s"iteration $it: $residual")
    }
  }

  test("property: pack slots are consistent and contiguous per shard") {
    import graft.ext.Sampling
    val docGen = for {
      id <- Gen.choose(0L, 400L); n <- Gen.choose(1, 200)
    } yield (id, n)
    (1 to 5).foreach { it =>
      val ds = sample(Gen.listOfN(40, docGen), 400L + it)
        .distinctBy(_._1)
      val d = ds.map { case (id, n) =>
        (id, (1 to n).map(i => s"t$i").mkString(" ")) }
        .toDF("doc_id", "text")
      val rows = Sampling.packSequences(d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      rows.groupBy(_._2).foreach { case (_, shard) =>
        val inOrder = shard.sortBy(_._1)
        var start = 0L
        inOrder.foreach { case (_, _, n, packId, off) =>
          // slot arithmetic reconstructs the running offset exactly
          assert(packId * 512L + off == start)
          assert(off >= 0 && off < 512L)
          start += n
        }
      }
      assert(rows.length == ds.length, s"iteration $it")
    }
  }
}
