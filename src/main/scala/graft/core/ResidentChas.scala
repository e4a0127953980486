package graft.core

import java.util.Locale
import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import graft.ext.Num

/** The driver-resident form of the upload's two ChAs layers — the
  * reference's shape (merge_features.R: `chaser::load_features`, then
  * the per-subnet statistics and the random envelope in-process over a
  * network already in memory). [[Chas.aggregateOntoFragments]] and
  * [[Chas.featuresMetadataSubnets]] call it when every input has at
  * most their cutoff of rows ([[Chas.ResidentAggregateMaxRows]],
  * [[Regime.ResidentMaxEdges]]), with the inputs collected by
  * [[Regime.collectAtMost]]; the rows it returns become a local frame.
  *
  * EXACTNESS CONTRACT: each function emits the rows of the relational
  * plan it stands in for:
  *  - overlap is the closed-interval predicate the bucketed join
  *    applies (a pair matches once, whatever buckets it spans); a null
  *    chr or coordinate never matches;
  *  - mean/min/max and the covered proportion follow Spark's `avg`,
  *    `min`/`max` (nulls skipped, NaN above every number) and the
  *    window's running-max segment merge; every fragment row × every
  *    distinct interval feature is emitted, missing cells filled;
  *  - ChAs accumulates with Spark's own update formulas (`Covariance`
  *    for `covar_samp`, `CentralMomentAgg` for `stddev_samp`): a pair
  *    with a null on either side skips the covariance, each standard
  *    deviation counts its own side's non-null values, and fewer than
  *    two values or zero variance gives a null ChAs;
  *  - the envelope runs [[LocalChain.runReplica]] once per (replica,
  *    subnet) on exactly the rows the relational route groups by that
  *    key, so its random graphs are the relational route's;
  *  - output keys are the relational outer joins' keys: a (subnet,
  *    feature) row exists when any statistic has one, and a null
  *    feature never joins, so its abundance and mean-degree rows stay
  *    apart;
  *  - rounding is [[Num.roundLike]] and the interval string is
  *    `format_string`'s `Locale.US` formatter, so null bounds print
  *    `null`.
  * Sums run in a fixed order: the statistics' in input order, an
  * aggregation mean's in descending interval start per fragment (the
  * sweep walks back from the last start <= the fragment's end). So a
  * value can differ from a multi-task plan's in the last bits (partial
  * aggregates merge in task order), never in a rounded output away
  * from a rounding boundary. */
private[graft] object ResidentChas {

  val AggregateSchema: StructType = StructType(Seq(
    StructField("fragment", StringType),
    StructField("feature", StringType),
    StructField("value", DoubleType, nullable = false)))

  val FeaturesMetadataSchema: StructType = StructType(Seq(
    StructField("subnet", StringType),
    StructField("feature", StringType),
    StructField("abundance", DoubleType),
    StructField("chas", DoubleType),
    StructField("random_chas_interval", StringType, nullable = false),
    StructField("mean_degree", DoubleType)))

  private def num(r: Row, i: Int): java.lang.Double =
    if (r.isNullAt(i)) null
    else r.get(i).asInstanceOf[Number].doubleValue

  private def long(r: Row, i: Int): Long =
    r.get(i).asInstanceOf[Number].longValue

  /** Spark's `avg`: nulls skipped, the sum in double from 0.0, null
    * over no value. */
  private final class Mean {
    private var n = 0L
    private var sum = 0.0
    def add(v: java.lang.Double): Unit =
      if (v != null) { n += 1; sum += v.doubleValue }
    def value: java.lang.Double = if (n == 0L) null else sum / n.toDouble
  }

  /** SQL's double order (NaN above every number, -0.0 = 0.0), as
    * `min`/`max` compare: the running value changes only on a strict
    * win. */
  private def lt(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) < 0

  /** Spark's `min`/`max` over doubles, nulls skipped. */
  private final class Extreme(isMax: Boolean) {
    var value: java.lang.Double = null
    def add(v: java.lang.Double): Unit =
      if (v != null && (value == null ||
          (if (isMax) lt(value.doubleValue, v.doubleValue)
           else lt(v.doubleValue, value.doubleValue)))) value = v
  }

  // ------------------------------------------------------ aggregation

  /** The covered share of one fragment: the union of its clipped
    * segments — merged by a running max over (start, end) order, as
    * the relational window merges them — over the fragment's length. */
  private final class Covered {
    private val segs = mutable.ArrayBuffer.empty[(Long, Long)]
    private var len = Long.MaxValue
    def add(start: Long, end: Long, fragmentLength: Long): Unit = {
      segs += ((start, end)); len = math.min(len, fragmentLength)
    }
    def value: java.lang.Double = {
      val sorted = segs.sorted
      var total = 0L
      var (lo, hi) = sorted.head
      for ((s, e) <- sorted.tail) {
        if (s > hi) { total += hi - lo + 1; lo = s; hi = e }
        else hi = math.max(hi, e)
      }
      total += hi - lo + 1
      total.toDouble / len.toDouble
    }
  }

  /** [[Chas.aggregateOntoFragments]]'s rows. `frags` rows are
    * (fragment, chr, start, end), `ivs` rows (chr, start, end, feature,
    * value). */
  def aggregate(frags: Array[Row], ivs: Array[Row], auxfun: String,
                missingValue: Double, proportion: Boolean)
      : java.util.List[Row] = {
    // interval features interned, in first-seen order; a null feature
    // is emitted but never matches
    val features = ivs.map(r => if (r.isNullAt(3)) null else r.getString(3))
      .distinct
    val featureIdx = features.zipWithIndex.filter(_._1 != null).toMap
    val nF = features.length
    // per chromosome: the live intervals sorted by start, with the
    // running max of end — a fragment's overlaps lie at or before the
    // last start <= its end, back to where the running max falls short
    // of its start
    val live = ivs.indices.filter(i => !ivs(i).isNullAt(0) &&
      !ivs(i).isNullAt(1) && !ivs(i).isNullAt(2))
    val ivStart = new Array[Long](ivs.length)
    for (i <- live) ivStart(i) = long(ivs(i), 1)
    final class Chrom(at: Array[Int]) {
      val start = new Array[Long](at.length)
      val end = new Array[Long](at.length)
      val feature = new Array[Int](at.length)
      val value = new Array[java.lang.Double](at.length)
      for (j <- at.indices) {
        val r = ivs(at(j))
        start(j) = ivStart(at(j)); end(j) = long(r, 2)
        feature(j) = if (r.isNullAt(3)) -1 else featureIdx(r.getString(3))
        value(j) = num(r, 4)
      }
      val maxEnd: Array[Long] =
        end.scanLeft(Long.MinValue)((a, b) => math.max(a, b)).tail
    }
    val byChr: Map[String, Chrom] = live.groupBy(ivs(_).getString(0))
      .map { case (c, is) => c -> new Chrom(is.toArray.sortBy(ivStart(_))) }

    // the relational route groups overlaps by fragment id: every row of
    // one id shares the statistic over all of its rows' overlaps
    val rowsOf = new java.util.HashMap[String, mutable.ArrayBuffer[Row]]()
    for (fr <- frags if !fr.isNullAt(0))
      rowsOf.computeIfAbsent(fr.getString(0),
        _ => mutable.ArrayBuffer.empty[Row]) += fr
    // per fragment id: the statistic of each feature, by feature index
    val valueOf = new java.util.HashMap[String, Array[java.lang.Double]]()
    rowsOf.forEach { (id, rows) =>
      val mean = new Array[Mean](nF)
      val ext = new Array[Extreme](nF)
      val covered = new Array[Covered](nF)
      for (fr <- rows if !fr.isNullAt(1) && !fr.isNullAt(2) &&
             !fr.isNullAt(3);
           ch <- byChr.get(fr.getString(1))) {
        val (fs, fe) = (long(fr, 2), long(fr, 3))
        var k = java.util.Arrays.binarySearch(ch.start, fe)
        // the last index whose start <= fe
        if (k < 0) k = -k - 2
        else while (k + 1 < ch.start.length && ch.start(k + 1) == fe) k += 1
        while (k >= 0 && ch.maxEnd(k) >= fs) {
          val f = ch.feature(k)
          if (ch.end(k) >= fs && f >= 0) {
            if (proportion) {
              if (covered(f) == null) covered(f) = new Covered
              covered(f).add(math.max(fs, ch.start(k)),
                math.min(fe, ch.end(k)), fe - fs + 1)
            } else if (auxfun == "mean") {
              if (mean(f) == null) mean(f) = new Mean
              mean(f).add(ch.value(k))
            } else {
              if (ext(f) == null) ext(f) = new Extreme(auxfun == "max")
              ext(f).add(ch.value(k))
            }
          }
          k -= 1
        }
      }
      valueOf.put(id, Array.tabulate(nF) { f =>
        if (proportion) Option(covered(f)).map(_.value).orNull
        else if (auxfun == "mean") Option(mean(f)).map(_.value).orNull
        else Option(ext(f)).map(_.value).orNull
      })
    }

    val out = new java.util.ArrayList[Row](frags.length * nF)
    for (fr <- frags) {
      val id = if (fr.isNullAt(0)) null else fr.getString(0)
      val vs = if (id == null) null else valueOf.get(id)
      for (f <- 0 until nF) {
        val v = if (vs == null) null else vs(f)
        out.add(Row(id, features(f),
          if (v == null) missingValue else v.doubleValue))
      }
    }
    out
  }

  // ------------------------------------------------------ statistics

  /** Pearson correlation by Spark's online updates: `covar_samp`'s
    * (`Covariance`) and each side's `stddev_samp`
    * (`CentralMomentAgg`). */
  private final class Corr {
    private var n, xAvg, yAvg, ck = 0.0
    private val sx = new Moment
    private val sy = new Moment
    def add(x: java.lang.Double, y: java.lang.Double): Unit = {
      if (x != null && y != null) {
        val newN = n + 1.0
        val dx = x - xAvg
        val dxN = dx / newN
        val dy = y - yAvg
        val dyN = dy / newN
        val newYAvg = yAvg + dyN
        ck += dx * (y - newYAvg)
        xAvg += dxN
        yAvg = newYAvg
        n = newN
      }
      if (x != null) sx.add(x)
      if (y != null) sy.add(y)
    }
    /** `when(sx > 0 && sy > 0, cov / (sx * sy))`; NaN counts as > 0 in
      * SQL. */
    def chas: java.lang.Double = {
      def pos(v: java.lang.Double) = v != null && (v > 0 || v.isNaN)
      val (x, y) = (sx.stddevSamp, sy.stddevSamp)
      val cov: java.lang.Double = if (n <= 1.0) null else ck / (n - 1.0)
      if (cov == null || !pos(x) || !pos(y)) null
      else cov / (x * y)
    }
  }

  private final class Moment {
    private var n, avg, m2 = 0.0
    def add(v: Double): Unit = {
      val newN = n + 1.0
      val delta = v - avg
      val deltaN = delta / newN
      avg += deltaN
      m2 += delta * (delta - deltaN)
      n = newN
    }
    def stddevSamp: java.lang.Double =
      if (n <= 1.0) null else math.sqrt(m2 / (n - 1.0))
  }

  /** Unrounded statistics of one output row. */
  final case class SubnetStat(
      subnet: String, feature: String, abundance: java.lang.Double,
      chas: java.lang.Double, chasMin: java.lang.Double,
      chasMax: java.lang.Double, meanDegree: java.lang.Double)

  /** One subnet's edges (indexes into the edge rows) and its
    * accumulators, by feature index (`nFeat` is the null feature). */
  private final class Subnet(val name: String, val edges: Array[Int],
                             nFeat: Int) {
    val obs = new Array[Corr](nFeat)
    val abund = new Array[Mean](nFeat + 1)
    val mdeg = new Array[Mean](nFeat + 1)
    val lo = new Array[Extreme](nFeat)
    val hi = new Array[Extreme](nFeat)
  }

  /** [[Chas.featuresMetadataSubnets]]'s statistics, unrounded. `edges`
    * rows are (src, dst, type), `feats` rows (fragment, feature,
    * value). */
  def subnetStats(edges: Array[Row], feats: Array[Row], nReplicates: Int,
                  seed: Long, rounds: Int): Seq[SubnetStat] = {
    // fragments and features interned; a null fragment joins nothing
    val nodeIdx = new java.util.HashMap[String, Integer]()
    val rowsOf = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Row]]
    val featureIdx = new java.util.HashMap[String, Integer]()
    val featureNames = mutable.ArrayBuffer.empty[String]
    for (r <- feats if !r.isNullAt(0)) {
      var v = nodeIdx.get(r.getString(0))
      if (v == null) {
        v = rowsOf.length; nodeIdx.put(r.getString(0), v)
        rowsOf += mutable.ArrayBuffer.empty
      }
      rowsOf(v) += r
      if (!r.isNullAt(1) && !featureIdx.containsKey(r.getString(1))) {
        featureIdx.put(r.getString(1), featureNames.length)
        featureNames += r.getString(1)
      }
    }
    val nFeat = featureNames.length
    def featureOf(r: Row): Int =
      if (r.isNullAt(1)) nFeat else featureIdx.get(r.getString(1)).intValue
    def node(id: String): Int = {
      val v = nodeIdx.get(id)
      if (v == null) -1 else v.intValue
    }
    // per node: its features ascending, each with its values in input
    // order
    val (nodeFeat, nodeVals) = rowsOf.map { rs =>
      val by = rs.filter(!_.isNullAt(1)).groupBy(featureOf).toArray.sortBy(_._1)
      (by.map(_._1), by.map(_._2.map(num(_, 2)).toArray))
    }.toArray.unzip

    // one symmetric edge row a → b: every value of a pairs with every
    // value of b for the same feature
    def pairUp(accs: Array[Corr], a: Int, b: Int): Unit =
      if (a >= 0 && b >= 0) {
        val (fa, fb) = (nodeFeat(a), nodeFeat(b))
        var i = 0; var j = 0
        while (i < fa.length && j < fb.length) {
          if (fa(i) < fb(j)) i += 1
          else if (fa(i) > fb(j)) j += 1
          else {
            if (accs(fa(i)) == null) accs(fa(i)) = new Corr
            val acc = accs(fa(i))
            val (xs, ys) = (nodeVals(a)(i), nodeVals(b)(j))
            var p = 0
            while (p < xs.length) {
              var q = 0
              while (q < ys.length) { acc.add(xs(p), ys(q)); q += 1 }
              p += 1
            }
            i += 1; j += 1
          }
        }
      }
    def chasOf(pairs: Iterator[(Int, Int)], accs: Array[Corr]): Unit =
      pairs.foreach { case (a, b) => pairUp(accs, a, b); pairUp(accs, b, a) }

    // every edge is in "net" and in "pp" (type P-P) or "po" (any other
    // type, null included)
    val src = edges.map(e => node(e.getString(0)))
    val dst = edges.map(e => node(e.getString(1)))
    val typeOf = edges.map(e => if ("P-P" == e.getString(2)) "pp" else "po")
    val subnets =
      (if (edges.isEmpty) Seq.empty
       else Seq(new Subnet("net", edges.indices.toArray, nFeat))) ++
        typeOf.distinct.map(g =>
          new Subnet(g, edges.indices.filter(typeOf(_) == g).toArray, nFeat))

    // subnets, and below the (replica, subnet) chains, are independent:
    // each runs as its own task on the common pool, writing only its
    // own accumulators
    def inParallel(n: Int)(body: Int => Unit): Unit =
      java.util.stream.IntStream.range(0, n).parallel().forEach(k => body(k))
    inParallel(subnets.length) { k =>
      val g = subnets(k)
      chasOf(g.edges.iterator.map(e => (src(e), dst(e))), g.obs)
      // degree over the symmetric rows; abundance over the subnet's
      // nodes, mean degree over its nodes' nonzero values
      val degree = new Array[Long](rowsOf.length)
      for (e <- g.edges; v <- Seq(src(e), dst(e)) if v >= 0) degree(v) += 1
      for (v <- rowsOf.indices if degree(v) > 0; r <- rowsOf(v)) {
        val (f, x) = (featureOf(r), num(r, 2))
        if (g.abund(f) == null) g.abund(f) = new Mean
        g.abund(f).add(x)
        if (x != null && x.doubleValue != 0.0) {
          if (g.mdeg(f) == null) g.mdeg(f) = new Mean
          g.mdeg(f).add(degree(v).toDouble)
        }
      }
    }
    // the envelope: one chain per (replica, subnet) on that subnet's
    // rows, binned as the relational route bins them (no distance
    // match: "<subnet>|all")
    val chains = for (r <- 0 until nReplicates; g <- subnets) yield (r, g)
    val chainChas = new Array[Array[Corr]](chains.length)
    inParallel(chains.length) { k =>
      val (r, g) = chains(k)
      val chain = LocalChain.runReplica(r, g.edges.iterator.map(e =>
        (edges(e).getString(0), edges(e).getString(1), g.name + "|all")),
        seed, rounds)
      chainChas(k) = new Array[Corr](nFeat)
      chasOf(chain.map(t => (node(t._3), node(t._4))), chainChas(k))
    }
    for (k <- chains.indices; f <- 0 until nFeat if chainChas(k)(f) != null) {
      val g = chains(k)._2
      if (g.lo(f) == null) {
        g.lo(f) = new Extreme(false); g.hi(f) = new Extreme(true)
      }
      g.lo(f).add(chainChas(k)(f).chas); g.hi(f).add(chainChas(k)(f).chas)
    }

    def value[A](a: A)(v: A => java.lang.Double): java.lang.Double =
      if (a == null) null else v(a)
    subnets.flatMap { g =>
      (0 until nFeat).filter(f => g.obs(f) != null || g.abund(f) != null ||
          g.mdeg(f) != null || g.lo(f) != null)
        .map(f => SubnetStat(g.name, featureNames(f),
          value(g.abund(f))(_.value), value(g.obs(f))(_.chas),
          value(g.lo(f))(_.value), value(g.hi(f))(_.value),
          value(g.mdeg(f))(_.value))) ++
      // a null feature joins nothing: its statistics stay apart
      Option(g.abund(nFeat)).map(a =>
        SubnetStat(g.name, null, a.value, null, null, null, null)) ++
      Option(g.mdeg(nFeat)).map(m =>
        SubnetStat(g.name, null, null, null, null, null, m.value))
    }
  }

  /** The output rows: abundance and mean degree at 2 dp, ChAs at 3 dp,
    * the envelope as "%.3f,%.3f". */
  def featuresMetadataRows(stats: Seq[SubnetStat]): java.util.List[Row] = {
    val out = new java.util.ArrayList[Row](stats.size)
    stats.foreach { s =>
      out.add(Row(s.subnet, s.feature, Num.roundLike(s.abundance, 2),
        Num.roundLike(s.chas, 3),
        String.format(Locale.US, "%.3f,%.3f", s.chasMin, s.chasMax),
        Num.roundLike(s.meanDegree, 2)))
    }
    out
  }
}
