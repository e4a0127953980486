package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ChAseR-semantics statistics (SURVEY §2.3 A11-A17, §2.5 G5-G6):
  * chromatin assortativity (ChAs), feature abundance, mean degree of
  * feature-positive nodes, feature aggregation onto fragments, and the
  * degree-preserving randomization envelope. Semantics pinned by the
  * reference's golden tests (tests/test_network_generator.R:137-481) and
  * the published definitions (Pancaldi et al. Genome Biology 2016;
  * Madrid-Mencía et al. NAR 2020).
  *
  * Features are held LONG: DF(fragment, feature, value). The wide
  * feature matrix of the reference (chaser_net$features) never
  * materializes — at 100 TB the long form partitions on fragment and
  * every statistic below is one shuffle per groupBy("feature").
  */
object Chas {

  /** Swap rounds per randomization (birewire-style mixing depth). One
    * constant shared with the oracle generator (OracleSql replays
    * exactly this many rounds as SQL CTEs) so engine and oracle cannot
    * drift. Cost is linear in rounds (one window sort + one key audit
    * each). Mixing was MEASURED, not guessed (MixingProbe,
    * COVERAGE.md): each round proposes ~E/2 swaps, and on the sf0.1
    * graph (274k edges) the fraction of original edges still present
    * saturates at its random-collision equilibrium after round 3 — 6.2% shared after
    * round 1, 1.8% after 2, 1.68% after 3, 1.67% flat through round 6 —
    * and the embedded ChAs envelope is already stable to <0.001 (under
    * the replicate spread) from round 2 on. Rounds past 3 buy no
    * decorrelation and no envelope movement; they only scale the
    * chain's wall-clock. */
  val DefaultRounds = 3

  /** Null-safe Pearson correlation: NULL when either side has zero
    * variance (R's cor/igraph yield NA there; Spark 4 ANSI corr throws
    * DIVIDE_BY_ZERO). covar_samp/(sx*sy) equals corr exactly - the
    * sample-vs-population factors cancel in the ratio. Returns the agg
    * columns to compute plus the finisher expression. */
  private def safeCorrAggs(x: Column, y: Column): (Column, Seq[Column]) =
    (covar_samp(x, y).as("__cov"),
     Seq(stddev_samp(x).as("__sx"), stddev_samp(y).as("__sy")))

  private val safeCorrValue: Column =
    when(col("__sx") > 0 && col("__sy") > 0,
      col("__cov") / (col("__sx") * col("__sy")))

  /** Both edge orientations with `keys` riding along — explode form
    * (one pass over the input) instead of a self-union (which plans
    * the upstream lineage once per branch; see GraphOps.symmetrize). */
  private def symWith(df: DataFrame, keys: Seq[String]): DataFrame = {
    val k = keys.map(col)
    df.select(explode(array(
        struct(k :+ col("src") :+ col("dst"): _*),
        struct(k :+ col("dst").as("src") :+ col("src").as("dst"): _*)))
      .as("__e"))
      .select((keys :+ "src" :+ "dst").map(c => col(s"__e.$c").as(c)): _*)
  }

  /** The ONE ChAs aggregation all four surfaces share: join a
    * symmetrized edge frame (optionally carrying extra grouping
    * columns — replica, subnet) to the feature table on both endpoints
    * and compute the null-safe Pearson per (extraKeys…, feature).
    * Observed ChAs, the tagged observed pass, and both envelope
    * passes are this plan with different keys. */
  private def chasBy(sym: DataFrame, features: DataFrame,
                     extraKeys: Seq[String]): DataFrame = {
    val f1 = features.select(col("fragment").as("__f1"), col("feature"),
      col("value").as("__v1"))
    val f2 = features.select(col("fragment").as("__f2"),
      col("feature").as("__feat2"), col("value").as("__v2"))
    val keys = extraKeys.map(col) :+ col("feature")
    sym
      .join(f1, sym("src") === f1("__f1"))
      .join(f2, sym("dst") === f2("__f2") && col("feature") === col("__feat2"))
      .groupBy(keys: _*)
      .agg(safeCorrAggs(col("__v1"), col("__v2"))._1,
        safeCorrAggs(col("__v1"), col("__v2"))._2: _*)
      .select(keys :+ safeCorrValue.as("chas"): _*)
  }


  /** A11 ChAs: per feature, the Pearson correlation of feature values
    * across the two endpoints of every edge (continuous assortativity,
    * Newman 2003). Each undirected edge contributes BOTH orientations —
    * (x,y) and (y,x) — which symmetrizes the correlation (matches
    * igraph/chaser; for symmetric samples corr is the classic Newman
    * edge-end correlation). Reference call sites:
    * network_generator_lib.R:535, 540-542.
    *
    * edges: DF(src, dst); features: DF(fragment, feature, value).
    * One aggregation, all features at once — the reference loops
    * per-feature; here feature is just a grouping key.
    */
  def chas(edges: DataFrame, features: DataFrame): DataFrame =
    chasBy(GraphOps.symmetrize(edges), features, Nil)

  /** A12 feature abundance: mean feature value over nodes (na.rm).
    * Reference: network_generator_lib.R:564-566 (2 dp at display). */
  def abundance(features: DataFrame): DataFrame =
    features.groupBy(col("feature")).agg(avg(col("value")).as("abundance"))

  /** A13 mean degree of feature-positive nodes.
    * Reference: network_generator_lib.R:559-561. */
  def meanDegreeOfPositives(features: DataFrame, degrees: DataFrame): DataFrame =
    features.filter(col("value") =!= 0.0)
      .join(degrees, features("fragment") === degrees("id"))
      .groupBy(col("feature"))
      .agg(avg(col("degree")).as("mean_degree"))

  /** A15 feature aggregation onto fragments: interval-join feature
    * intervals with fragments, aggregate per (fragment, feature) with
    * auxfun ∈ {mean, min, max}; uncovered fragments get missingv (0).
    * proportion mode computes covered-bp share instead.
    * Reference: chaser::load_features via merge_features.R:68; goldens
    * tests/test_network_generator.R:203-369.
    *
    * fragments: DF(fragment, chr, start, end);
    * featureIntervals: DF(chr, start, end, feature, value).
    * auxfun is an enum-dispatched builtin — the reference's string-eval
    * of a function name is a security bug not reproduced (SURVEY §2.8).
    */
  def aggregateOntoFragments(fragments: DataFrame, featureIntervals: DataFrame,
                             auxfun: String = "mean",
                             missingValue: Double = 0.0,
                             proportion: Boolean = false,
                             bucketWidth: Long = Intervals.DefaultBucketWidth): DataFrame = {
    val joined = Intervals.overlapJoin(
      fragments.select("fragment", "chr", "start", "end"),
      featureIntervals, rightPrefix = "f_", joinType = "inner",
      bucketWidth = bucketWidth)
    val agged =
      if (proportion) {
        // COVERED proportion (chaser's proportion_on_nodes,
        // tests/test_network_generator.R:399-481): overlapping feature
        // intervals are unioned per (fragment, feature) before summing —
        // running-max segment merge — so the value is <= 1 by
        // construction (a raw sum(overlap) double-counts overlaps and
        // can exceed the fragment length).
        // DISTINCT: duplicate intervals cannot change coverage, and
        // deduping makes the (ss, se) window order total — tied rows
        // would otherwise be free to straddle the two window passes
        // in either order and mint phantom merge groups
        val segs = joined.select(col("fragment"),
          col("f_feature").as("feature"),
          greatest(col("start"), col("f_start")).as("__ss"),
          least(col("end"), col("f_end")).as("__se"),
          (col("end") - col("start") + lit(1L)).as("__flen"))
          .distinct()
        val w = Window.partitionBy(col("fragment"), col("feature"))
          .orderBy(col("__ss"), col("__se"))
        val prevMax = max(col("__se"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1))
        val grp = sum(when(prevMax.isNull || col("__ss") > prevMax, 1L)
            .otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
        segs.withColumn("__grp", grp)
          .groupBy(col("fragment"), col("feature"), col("__grp"))
          .agg((max(col("__se")) - min(col("__ss")) + lit(1L)).as("__clen"),
            min(col("__flen")).as("__flen"))
          .groupBy(col("fragment"), col("feature"))
          .agg((sum(col("__clen")) / min(col("__flen")))
            .cast("double").as("value"))
      } else {
        val aggExpr = auxfun match {
          case "mean" => avg(col("f_value"))
          case "min"  => min(col("f_value"))
          case "max"  => max(col("f_value"))
          case other  => throw new IllegalArgumentException(
            s"auxfun must be mean|min|max, got $other")
        }
        joined.groupBy(col("fragment"), col("f_feature").as("feature"))
          .agg(aggExpr.as("value"))
      }
    // missing fill: fragments × features seen, minus covered → missingv.
    // Features cardinality is tiny (column names); crossJoin(broadcast).
    val featNames = featureIntervals.select(col("feature")).distinct()
    fragments.select(col("fragment"))
      .crossJoin(broadcast(featNames))
      .join(agged, Seq("fragment", "feature"), "left")
      .select(col("fragment"), col("feature"),
        coalesce(col("value"), lit(missingValue)).as("value"))
  }

  /** A16 feature binarization (default on; --no-features-binarization
    * disables). Reference: network_generator_lib.R:31-35. */
  def binarize(features: DataFrame): DataFrame =
    features.withColumn("value",
      when(col("value") > 0.0, 1.0).otherwise(0.0))

  /** G6 degree-preserving randomization: seeded birewire-style edge
    * swapping (the chaser/igraph rewiring family). Starting from the
    * ORIGINAL edge list (simple by precondition), each round pairs up
    * edges within (replica, bin) by a seeded hash order and proposes the
    * classic double-edge swap (s1,d1)+(s2,d2) -> (s1,d2)+(s2,d1); a
    * proposal is accepted only if it creates no self-loop, no key
    * already in the current edge set, and no key another accepted swap
    * in the same round also creates. Simplicity is therefore an
    * INVARIANT (every intermediate state is a simple graph), degrees are
    * preserved by construction, and the chain is the standard MCMC
    * sampler for degree-fixed simple graphs.
    *
    * All N replicates are generated in ONE plan - `replica` is a
    * dimension column (explode over 0..n-1), so the whole envelope runs
    * in a constant number of shuffles x `rounds`, not N sequential jobs
    * (SURVEY SS7.4.2). With distMatch, swaps stay within log-distance
    * bins (chaser's dist.match approximation); edges must then carry
    * coordinates parseable from the fragment id (chr_start_end).
    */
  /** Bounded-regime cutoff for the swap chain, in PER-REPLICA edge
    * rows: at or below this, each replica's whole chain runs in one
    * task ([[LocalChain]], bit-identical to the distributed rounds —
    * replicas are independent, so the local route still fans
    * nReplicates tasks wide). 5M rows of (src, dst, bin) strings is a
    * few hundred MB of task heap; above it the windowed rounds take
    * over. */
  private[graft] val LocalMaxChainRows = 5000000L

  def randomize(edges: DataFrame, nReplicates: Int, seed: Long,
                distMatch: Boolean = false,
                rounds: Int = DefaultRounds,
                localMaxChainRows: Long = LocalMaxChainRows): DataFrame =
    randomizeTagged(edges.withColumn("__tag", lit("all")), "__tag",
      nReplicates, seed, distMatch, rounds, localMaxChainRows).drop("__tag")

  /** Tagged variant: edges carry a group column (e.g. a subnet tag) and
    * swaps stay WITHIN each group - all groups randomize in the same
    * plan (the group is just more bin key). Returns
    * (replica, <groupCol>, src, dst). */
  def randomizeTagged(edges: DataFrame, groupCol: String,
                      nReplicates: Int, seed: Long,
                      distMatch: Boolean = false,
                      rounds: Int = DefaultRounds,
                      localMaxChainRows: Long = LocalMaxChainRows)
      : DataFrame = {
    // sequence(0, n-1) DESCENDS for n = 0 (emitting replicas 0 and -1)
    require(nReplicates >= 1, s"nReplicates must be >= 1, got $nReplicates")
    val distBin =
      if (distMatch) {
        // log-scale genomic distance bin; inter-chromosomal edges form
        // their own bin (distance undefined) - chaser bins similarly.
        val sChr = split(col("src"), "_").getItem(0)
        val dChr = split(col("dst"), "_").getItem(0)
        val sStart = split(col("src"), "_").getItem(1).cast("long")
        val dStart = split(col("dst"), "_").getItem(1).cast("long")
        when(sChr === dChr,
          floor(log(greatest(abs(sStart - dStart).cast("double"), lit(1.0))))
            .cast("string"))
          .otherwise(lit("inter"))
      } else lit("all")
    // the group tag rides inside the bin key (split back out at the end)
    val base = edges.select(col("src"), col("dst"),
        concat_ws("|", col(groupCol), distBin).as("__bin"))
      .localCheckpoint(eager = true)
    val nBase = base.count() // cheap: checkpointed blocks

    if (nBase <= localMaxChainRows) {
      // bounded regime: one task per (replica, GROUP) runs that
      // group's whole chain in arrays (LocalChain — bit-identical to
      // the rounds below). Pairing is scoped to (replica, bin) and the
      // audit to (replica, group), so a chain given only one group's
      // edges emits exactly the rows the one-task-per-replica form
      // emitted for that group — the split buys tagged chains
      // (featuresMetadataSubnets: net/pp/po) nReplicates×nGroups-way
      // task parallelism instead of nReplicates (untagged chains have
      // one group and keep the old fan-out). The explode keeps the
      // shuffle tiny (nBase × nReplicates rows).
      // NOTE (r15, measured): a zero-shuffle coalesce(1) twin that ran
      // all replicas on the common pool inside ONE task was tried and
      // REVERTED — it saved the groupByKey shuffle but left the chain
      // output single-partition, so every downstream exchange's map
      // side (the symWith explode + ChAs join hash) ran serial:
      // a14 6.1 s → 9.4 s. The shuffle buys the output partitioning
      // the envelope aggregation needs.
      import org.apache.spark.sql.Encoders
      val in4 = Encoders.tuple(Encoders.STRING, Encoders.STRING,
        Encoders.STRING, Encoders.scalaInt)
      val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
      val out4 = Encoders.tuple(Encoders.scalaInt, Encoders.STRING,
        Encoders.STRING, Encoders.STRING)
      val chained = base
        .withColumn("replica", explode(sequence(lit(0), lit(nReplicates - 1))))
        .select(col("src"), col("dst"), col("__bin"), col("replica"))
        .as[(String, String, String, Int)](in4)
        .groupByKey { t =>
          val cut = t._3.indexOf('|')
          (t._4, if (cut < 0) t._3 else t._3.substring(0, cut))
        }(keyEnc)
        .flatMapGroups { (key: (Int, String),
                          it: Iterator[(String, String, String, Int)]) =>
          LocalChain.runReplica(key._1, it.map(t => (t._1, t._2, t._3)),
            seed, rounds)
        }(out4)
        .toDF("replica", "__bin", "src", "dst")
        .localCheckpoint(eager = true) // consumers branch on the result
      return chained.select(col("replica"),
        split(col("__bin"), "\\|").getItem(0).as(groupCol),
        col("src"), col("dst"))
    }

    var cand = base
      .withColumn("replica", explode(sequence(lit(0), lit(nReplicates - 1))))
      .localCheckpoint(eager = true)

    // every round re-shuffles the same working set — size the shuffle
    // width for it once (no-op at scale, cuts per-task fixed overhead
    // when the set is small; see GraphOps.withShuffleWidthFor)
    GraphOps.withShuffleWidthFor(cand, nBase * nReplicates) {
    var r = 0
    while (r < rounds) {
      // 1. seeded random pairing within (replica, bin): row_number +
      // lead over ONE window - odd rows carry their partner inline, no
      // self-join. The odd leftover row (lead null) passes through.
      // md5 over a delimited string, not xxhash64: byte-identical in
      // DuckDB, so the ENTIRE swap chain is oracle-reproducible SQL
      val h = md5(concat_ws("|", col("src"), col("dst"), col("replica"),
        lit(seed + 1000003L * r)))
      // 16-way salted pairing: rows pair up within (replica, bin, first
      // hex char of the seeded hash). The bucket assignment is itself
      // hash-random, so the pairing stays a uniform random matching —
      // but the window sort gets 16x the sort groups (the unsalted
      // window had ONE group per (replica, bin): 3 tasks did all the
      // sorting at nReplicates=3). The salt bucket folds into the pair
      // id arithmetically so the audit's (replica, bin, p) key stays
      // unique across buckets.
      val saltChar = substring(h, 1, 1)
      val saltB = (instr(lit("0123456789abcdef"), saltChar) - 1).cast("long")
      val w = Window.partitionBy(col("replica"), col("__bin"), saltChar)
        .orderBy(h, col("src"), col("dst"))
      val pairs = cand
        .withColumn("__i", row_number().over(w))
        .withColumn("__ps", lead(col("src"), 1).over(w))
        .withColumn("__pd", lead(col("dst"), 1).over(w))
        .filter(col("__i") % 2 === 1)
        .select(col("replica"), col("__bin"),
          (saltB * 1000000000L + ((col("__i") + 1) / 2).cast("long"))
            .as("__p"),
          col("src").as("ls"), col("dst").as("ld"),
          col("__ps").as("rs"), col("__pd").as("rd"))
        // LAZY persist, not an eager checkpoint: the pairing is
        // referenced three times below (minted x2, final join), and a
        // lazy cache lets the round run as ONE job that computes the
        // window sort once and reuses it — an eager checkpoint here
        // would add a second synchronous job per round (measured ~25%
        // of the envelope's wall time at sf0.1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      val n1u = least(col("ls"), col("rd")); val n1v = greatest(col("ls"), col("rd"))
      val n2u = least(col("rs"), col("ld")); val n2v = greatest(col("rs"), col("ld"))
      val pre = col("rs").isNotNull &&
        col("ls") =!= col("rd") && col("rs") =!= col("ld") &&
        !(n1u === n2u && n1v === n2v)

      // 2. one fused key audit: a proposed key is invalid if it already
      // exists in the CURRENT edge set or if two proposals mint it in
      // the same round. Union (minted keys + existing keys), one
      // groupBy, one join back - instead of two membership joins plus a
      // separate collision pass. The audit is scoped PER GROUP (the
      // tag part of the bin): each tagged subnet is its own graph, so
      // a key minted in 'pp' must only be checked against 'pp' edges —
      // auditing across groups would couple the per-subnet chains and
      // inflate rejections (the reference randomizes each subnet
      // independently). Untagged chains have one group ('all') and are
      // bit-identical to the unscoped audit.
      val grpOf = (b: Column) => substring_index(b, "|", 1)
      val proposed = pairs.filter(pre)
      val minted = proposed
        .select(col("replica"), grpOf(col("__bin")).as("__grp"),
          col("__bin"), col("__p"), n1u.as("u"), n1v.as("v"))
        .unionAll(proposed.select(col("replica"),
          grpOf(col("__bin")).as("__grp"),
          col("__bin"), col("__p"), n2u.as("u"), n2v.as("v")))
      val existing = cand.select(col("replica"),
          grpOf(col("__bin")).as("__grp"),
          lit(null).cast("string").as("__bin"), lit(null).cast("long").as("__p"),
          least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
      // The minters of each key ride through the audit aggregate as a
      // collect_list (collect_list drops the nulls the existing-edge
      // rows contribute), so bad keys explode straight back into the
      // (bin, pair) ids to reject — no second pass over `minted`, no
      // key-join back. badPairs is small (rejections), so the flagged
      // join below broadcasts under AQE.
      val badPairs = minted.unionAll(existing)
        .groupBy(col("replica"), col("__grp"), col("u"), col("v"))
        .agg(sum(when(col("__p").isNull, 1).otherwise(0)).as("__inE"),
          sum(when(col("__p").isNull, 0).otherwise(1)).as("__mint"),
          collect_list(when(col("__p").isNotNull,
            struct(col("__bin"), col("__p")))).as("__minters"))
        .filter(col("__inE") > 0 || col("__mint") > 1)
        .select(col("replica"), explode(col("__minters")).as("__m"))
        .select(col("replica").as("__xr"), col("__m.__bin").as("__xb"),
          col("__m.__p").as("__xp"))
        .distinct()

      // 3. emit: accepted pairs swap, rejected keep, odd row passthrough
      val flagged = pairs.join(badPairs,
          col("replica") === col("__xr") && col("__bin") === col("__xb") &&
          col("__p") === col("__xp"), "left")
        .withColumn("__accept", pre && col("__xr").isNull)
      val next = flagged.select(col("replica"), col("__bin"), explode(
          when(col("rs").isNull,
            array(struct(col("ls").as("src"), col("ld").as("dst"))))
          .when(col("__accept"),
            array(struct(col("ls").as("src"), col("rd").as("dst")),
                  struct(col("rs").as("src"), col("ld").as("dst"))))
          .otherwise(
            array(struct(col("ls").as("src"), col("ld").as("dst")),
                  struct(col("rs").as("src"), col("rd").as("dst"))))).as("e"))
        .select(col("replica"), col("e.src").as("src"),
          col("e.dst").as("dst"), col("__bin"))
      // lineage cut EVERY round: the next round references `cand` from
      // two branches (the pairing window and the audit's existing-keys
      // side), so an un-checkpointed round would be evaluated once per
      // branch — measured 1.5x slower than checkpointing each round
      cand = next.localCheckpoint(eager = true)
      pairs.unpersist(blocking = false)
      r += 1
    }
    }
    cand.select(col("replica"),
      split(col("__bin"), "\\|").getItem(0).as(groupCol),
      col("src"), col("dst"))
  }

  /** A14 random-ChAs envelope: ChAs per feature per randomized replicate,
    * reduced to the (min, max) envelope, formatted "min,max" (3 dp) at
    * display. Reference: generate_features_metadata,
    * network_generator_lib.R:533-576. */
  def randomChasEnvelope(edges: DataFrame, features: DataFrame,
                         nReplicates: Int, seed: Long,
                         distMatch: Boolean = false,
                         rounds: Int = DefaultRounds): DataFrame = {
    val rand = randomize(edges, nReplicates, seed, distMatch, rounds)
    // ChAs per (feature, replica) in one aggregation: replica rides along
    // as a grouping key.
    val sym = symWith(rand, Seq("replica"))
    chasBy(sym, features, Seq("replica"))
      .groupBy(col("feature"))
      .agg(min(col("chas")).as("chas_min"), max(col("chas")).as("chas_max"))
  }

  /** features_metadata for ALL THREE subnets (net / pp / po) in ONE
    * pass: every typed edge contributes to "net" plus its own type's
    * subnet via an exploded tag column, so each statistic - ChAs,
    * abundance, mean degree, and the randomized envelope (swaps stay
    * within subnet via randomizeTagged) - is a single aggregation
    * grouped by (subnet, feature). The reference materializes the cross
    * three times sequentially (network_generator.R:255-266); at 100 TB
    * the tag column turns that into one shuffle per statistic.
    * typedEdges: DF(src, dst, ..., type in {P-P, P-O}). */
  def featuresMetadataSubnets(typedEdges: DataFrame, features: DataFrame,
                              nReplicates: Int, seed: Long,
                              distMatch: Boolean = false): DataFrame = {
    val tagged = typedEdges.select(col("src"), col("dst"),
      explode(array(lit("net"),
        when(col("type") === "P-P", lit("pp")).otherwise(lit("po"))))
        .as("subnet"))

    // observed ChAs per (subnet, feature)
    val sym = symWith(tagged, Seq("subnet"))
    val obs = chasBy(sym, features, Seq("subnet"))

    // per-subnet degree and node set
    val deg = sym.groupBy(col("subnet"), col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
    val nodes = deg.select(col("subnet"), col("id"))
    val abund = features
      .join(nodes, features("fragment") === nodes("id"))
      .groupBy(col("subnet"), col("feature"))
      .agg(avg(col("value")).as("abundance"))
    val mdeg = features.filter(col("value") =!= 0.0)
      .join(deg, features("fragment") === deg("id"))
      .groupBy(col("subnet"), col("feature"))
      .agg(avg(col("degree")).as("mean_degree"))

    // envelope: all replicas x all subnets in one randomized plan
    val rand = randomizeTagged(tagged, "subnet", nReplicates, seed, distMatch)
    val rsym = symWith(rand, Seq("replica", "subnet"))
    val env = chasBy(rsym, features, Seq("subnet", "replica"))
      .groupBy(col("subnet"), col("feature"))
      .agg(min(col("chas")).as("chas_min"), max(col("chas")).as("chas_max"))

    obs
      .join(abund, Seq("subnet", "feature"), "outer")
      .join(mdeg, Seq("subnet", "feature"), "outer")
      .join(env, Seq("subnet", "feature"), "outer")
      .select(col("subnet"), col("feature"),
        graft.ext.Num.roundLike(col("abundance"), 2).as("abundance"),
        graft.ext.Num.roundLike(col("chas"), 3).as("chas"),
        format_string("%.3f,%.3f", col("chas_min"), col("chas_max"))
          .as("random_chas_interval"),
        graft.ext.Num.roundLike(col("mean_degree"), 2).as("mean_degree"))
  }

  /** features_metadata assembly: {Abundance, ChAs, RandomChAs envelope,
    * MeanDegree} per feature for one subnet. The reference materializes
    * this three times (net/pp/po, network_generator.R:255-266); callers
    * union three tagged invocations — or run them in one pass by tagging
    * edges with a subnet column upstream. */
  def featuresMetadata(edges: DataFrame, features: DataFrame,
                       degrees: DataFrame, nReplicates: Int,
                       seed: Long): DataFrame = {
    chas(edges, features).as("c")
      .join(abundance(features).as("a"), Seq("feature"), "outer")
      .join(meanDegreeOfPositives(features, degrees).as("m"),
        Seq("feature"), "outer")
      .join(randomChasEnvelope(edges, features, nReplicates, seed),
        Seq("feature"), "outer")
      .select(col("feature"),
        graft.ext.Num.roundLike(col("abundance"), 2).as("abundance"),
        graft.ext.Num.roundLike(col("chas"), 3).as("chas"),
        format_string("%.3f,%.3f", col("chas_min"), col("chas_max"))
          .as("random_chas_interval"),
        graft.ext.Num.roundLike(col("mean_degree"), 2).as("mean_degree"))
  }
}
