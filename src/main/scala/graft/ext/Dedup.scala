package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard. Every hash is md5-derived — deterministic, seedable via
  * string salt, and reproducible in ANSI SQL (the DuckDB oracle runs the
  * identical construction), with no dependence on engine-internal hash
  * functions.
  *
  * Scale shape: exact dedup is one hash-groupBy; MinHash-LSH is
  * linear-scan signature computation + an equi-join on (band, bandHash) —
  * the candidate-pair join is the only shuffle and its keys are uniform
  * by construction (hash buckets), so it survives 100 TB.
  */
object Dedup {

  /** Exact dedup: one row per distinct text with the min id as the
    * canonical representative and the duplicate count. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** k-word shingles from a PRE-BOUND token-array column. Callers that
    * shingle a whole table must tokenize into a real column first (one
    * `select` producing `tokens(...)`, a second one shingling it):
    * higher-order lambdas re-evaluate their body per output element, so
    * a tokenizer expression inlined into the per-shingle lambda would
    * re-run the regex split once PER SHINGLE — measured as 75% of d2's
    * wall-clock before the split. CollapseProject keeps the two selects
    * apart (the token column is referenced more than once, so it is not
    * re-inlined). */
  def shinglesOfTokens(toks: Column, k: Int = 3): Column =
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** k-word shingles of the normalized text — single-expression form
    * for ad-hoc / per-pair use (d4). O(shingles × tokens) per row by
    * the lambda-inlining effect above; batch paths go through
    * [[shinglesOfTokens]]. */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesOfTokens(TextOps.tokens(lower(text)), k)

  /** MinHash signature: element j = min over shingles of
    * md5(shingle ++ ":" ++ j). Lexicographic min over fixed-width hex =
    * numeric min over the 128-bit hash — no int conversion needed, and
    * byte-identical in SQL. */
  def minhashSignature(text: Column, k: Int = 3, numHashes: Int = 16): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      j => array_min(transform(shingles(text, k),
        s => md5(concat(s, lit(":"), j.cast("string"))))))

  /** Kirsch-Mitzenmacher modulus: slot values are n1 + j*(n2 % KmMod);
    * with n1 < 2^60 (15 hex digits), n2 % (2^47-1) and j < 16 the sum
    * stays under 2^62 — overflow-free identical arithmetic in Spark
    * longs and DuckDB BIGINTs. */
  private[ext] val KmMod = 140737488355327L // 2^47 - 1

  /** LSH banding: docs -> (doc, band, band_hash) long form, computed
    * RELATIONALLY: explode distinct shingles once, TWO md5s per shingle
    * (Kirsch-Mitzenmacher double hashing: slot j's hash value is
    * n1 + j*n2, which preserves the min-wise independence LSH banding
    * needs), then all n slot minima in ONE groupBy as n aggregate
    * expressions over the un-exploded shingle rows. vs the r2 shape
    * (md5 per (shingle, slot) + a slot explode) this is 8x fewer md5
    * calls AND n-times fewer shuffled rows. The naive nested-array
    * expression form stays banned: CollapseProject would inline the
    * shingle array once per slot (the 64x blowup d2 started from).
    * Min over DISTINCT shingles equals min over all (duplicates cannot
    * change a minimum). */
  def lshBands(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val n = bands * rowsPerBand
    // group key = (doc, md5(text)), not doc alone: a corpus with
    // duplicate ids carrying DIFFERENT texts must not merge their
    // shingle minima into one chimera signature (per-row semantics,
    // like the per-row SQL form). Same-id same-text rows still
    // collapse — identical signatures, and candidates are DISTINCT
    // pairs anyway.
    val sh = docs
      .select(col(idCol).as("doc"), md5(col(textCol)).as("__th"),
        TextOps.tokens(lower(col(textCol))).as("__toks"))
      .select(col("doc"), col("__th"),
        explode(array_distinct(shinglesOfTokens(col("__toks"), k))).as("__s"))
    val h = sh.select(col("doc"), col("__th"),
      conv(substring(md5(concat(col("__s"), lit(":a"))), 1, 15), 16, 10)
        .cast("long").as("__n1"),
      (conv(substring(md5(concat(col("__s"), lit(":b"))), 1, 15), 16, 10)
        .cast("long") % KmMod).as("__n2"))
    val minAggs = (0 until n).map(j =>
      min(col("__n1") + lit(j.toLong) * col("__n2")).as(s"__m$j"))
    val mins = h.groupBy(col("doc"), col("__th"))
      .agg(minAggs.head, minAggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("|", (0 until rowsPerBand)
        .map(i => col(s"__m${b * rowsPerBand + i}")): _*))
    }
    mins.select(col("doc"),
      posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
  }

  /** MinHash-LSH candidate pairs: docs sharing >=1 band bucket, with
    * the exact k-shingle Jaccard computed on the candidate pairs only
    * (verification is O(candidates), not O(n^2)). */
  /* Precondition: at most one text per doc id (run exact dedup d1
   * first — the standard pipeline order). Duplicate ids with different
   * texts make the verify join below ambiguous: the distinct candidate
   * pair (a, b) matches every text variant of each id and emits one
   * (possibly contradictory) jaccard row per combination. */
  def minhashCandidates(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", k: Int = 3,
                        bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val b = lshBands(docs, idCol, textCol, k, bands, rowsPerBand)
    val pairs = b.as("l").join(b.as("r"),
        col("l.band") === col("r.band") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()
    // verify: exact n-gram Jaccard on the candidate pairs only
    val sh = docs
      .select(col(idCol).as("doc"),
        TextOps.tokens(lower(col(textCol))).as("__toks"))
      .select(col("doc"),
        array_distinct(shinglesOfTokens(col("__toks"), k)).as("sh"))
    pairs
      .join(sh.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc"))
      .select(col("doc_a"), col("doc_b"),
        Num.roundLike(size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
          size(array_union(col("sa.sh"), col("sb.sh"))).cast("double"), 4)
          .as("jaccard"))
  }

  /** Build-time half of the incremental-dedup serving pair: persist
    * the standing corpus's band index as a parquet snapshot (sorted
    * within partitions by (band, band_hash) so a batch probe prunes
    * row groups via the parquet min/max index; at cluster scale the
    * same frame would bucket by (band, band_hash) to make the probe
    * join shuffle-free on the standing side). One-off cost per
    * corpus, amortized over every ingest batch — and because
    * [[lshBands]] is per-document pure, appending a processed batch's
    * own band rows to the snapshot IS the index update. */
  def writeBandIndex(docs: DataFrame, dir: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     k: Int = 3, bands: Int = 4,
                     rowsPerBand: Int = 4): Unit =
    lshBands(docs, idCol, textCol, k, bands, rowsPerBand)
      .sortWithinPartitions("band", "band_hash")
      .write.parquet(s"$dir/bands")

  def openBandIndex(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame =
    spark.read.parquet(s"$dir/bands")

  /** INCREMENTAL MinHash-LSH dedup — the maintenance shape for the
    * dedup leg (the s9 graph-ANN insert / e13 postings-segment
    * precedent): a NEW document batch is near-dup-checked against a
    * STANDING corpus via its persisted band index, without re-pairing
    * the standing corpus against itself.
    *
    * Because [[lshBands]] is a PURE per-document function (no
    * corpus-level state enters a signature), the standing index is
    * append-only: this call reads it, never rewrites it, and the new
    * batch's own band rows are exactly what a later compaction (or
    * the next incremental call's `standingBands`) unions in.
    * Equivalence contract, pinned by the d12 gate oracle: the result
    * equals the FULL-corpus [[minhashCandidates]] rebuild restricted
    * to pairs touching the batch — band-pair generation distributes
    * over the standing/batch split, and the Jaccard verify is
    * per-pair.
    *
    * Cost shape at 100 TB: candidate generation is two equi-joins on
    * (band, band_hash) — standing⋈batch (the standing side shuffles
    * only its 4-row-per-doc band index, never text) and batch⋈batch
    * (batch-sized) — and the verify step re-reads TEXT only for docs
    * that appear in some candidate pair (left-semi pushdown below),
    * so per-batch work scales with batch size + candidate count, not
    * standing-corpus size.
    *
    * `standing`/`batch` carry (idCol, textCol); `standingBands` is
    * the standing corpus's [[lshBands]] frame (recomputed or read
    * from a snapshot — byte-identical either way, purity again).
    * Same one-text-per-id precondition as [[minhashCandidates]].
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b, ≥1 side in the
    * batch. */
  def incrementalCandidates(standing: DataFrame, standingBands: DataFrame,
                            batch: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text", k: Int = 3,
                            bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val bb = lshBands(batch, idCol, textCol, k, bands, rowsPerBand)
    val cross = standingBands.as("l").join(bb.as("r"),
        col("l.band") === col("r.band") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.doc") =!= col("r.doc"))
      .select(least(col("l.doc"), col("r.doc")).as("doc_a"),
        greatest(col("l.doc"), col("r.doc")).as("doc_b"))
    val intra = bb.as("l").join(bb.as("r"),
        col("l.band") === col("r.band") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
    // the candidate pairs feed three subtrees (both sides of the id
    // union + the verify join) at the end of a deep band-join chain —
    // the one place in this family where materialize-once beat the
    // parallel re-execution of duplicated subtrees on an idle box
    // (d15 4.7 -> 3.5 s; the same checkpoint on the SHALLOW band/
    // shingle subtrees measured a ~1 s LOSS on d2 and was reverted:
    // eager checkpoints serialize the DAG, and an underutilized
    // cluster absorbs duplicated subtrees in parallel for free)
    val pairs = cross.union(intra).distinct().localCheckpoint(eager = true)
    // verify with candidate-bounded text access: only docs that made
    // it into a pair have their shingle sets (re)computed — at scale
    // the standing side is a semi-join-pruned scan, not a full pass
    val ids = pairs.select(col("doc_a").as("doc"))
      .union(pairs.select(col("doc_b").as("doc"))).distinct()
    val sh = standing.select(col(idCol).as("doc"), col(textCol).as("__tx"))
      .union(batch.select(col(idCol).as("doc"), col(textCol).as("__tx")))
      .join(ids, Seq("doc"), "left_semi")
      .select(col("doc"),
        TextOps.tokens(lower(col("__tx"))).as("__toks"))
      .select(col("doc"),
        array_distinct(shinglesOfTokens(col("__toks"), k)).as("sh"))
    pairs
      .join(sh.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc"))
      .select(col("doc_a"), col("doc_b"),
        Num.roundLike(size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
          size(array_union(col("sa.sh"), col("sb.sh"))).cast("double"), 4)
          .as("jaccard"))
  }

  /** Exact n-gram Jaccard similarity for a pair of text columns. */
  def ngramJaccard(a: Column, b: Column, k: Int = 3): Column = {
    val sa = array_distinct(shingles(a, k))
    val sb = array_distinct(shingles(b, k))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  /** SimHash (nBits ≤ 32): bit j of the fingerprint = majority vote of
    * bit j over md5(token) for all tokens. Bit j of an md5 is extracted
    * from its hex char j/4 via strpos on a hex alphabet — portable to
    * SQL verbatim. Returns the fingerprint as a bit-string column.
    *
    * NOTE: expression form — each of the nBits bit-expressions hashes
    * every token again (CollapseProject inlines the lambda), so cost is
    * nBits × tokens md5 calls. Fine for ad-hoc use / tests; the batch
    * path is [[simhashDF]], which hashes each token exactly once. */
  def simhash(text: Column, nBits: Int = 32): Column = {
    val toks = TextOps.tokens(lower(text))
    val bits = (0 until nBits).map { j =>
      // bit (j%4) of hex nibble j/4 of md5(token), summed over tokens
      val perTokBit = transform(toks, t => shiftright(
        (instr(lit("0123456789abcdef"),
          substring(md5(t), j / 4 + 1, 1)) - 1).cast("int"),
        3 - (j % 4)) % 2)
      val votes = aggregate(perTokBit, lit(0), (acc, x) => acc + x)
      when(votes * 2 >= size(toks), lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** SimHash, relational form (the scale path — same restructure as
    * [[lshBands]]): explode tokens, ONE md5 per token, extract all
    * nBits/4 hex nibbles from that digest, sum per-bit votes in a single
    * groupBy, left-join back so token-less docs keep the all-ones print
    * (votes 0, count 0 ⇒ 0*2 >= 0 ⇒ '1'; identical to the expression
    * form's semantics). Arithmetic is bit-identical to [[simhash]], so
    * the same DuckDB oracle verifies both. */
  def simhashDF(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", nBits: Int = 32,
                outCol: String = "simhash"): DataFrame = {
    require(nBits % 4 == 0 && nBits <= 32, "nBits must be ≤32, multiple of 4")
    // vote key = (id, md5(text)) so duplicate ids with different texts
    // keep per-row prints instead of merging votes (see lshBands); the
    // per-row left join restores input multiplicity either way
    val base = docs.select(col(idCol), md5(col(textCol)).as("__th"),
      TextOps.tokens(lower(col(textCol))).as("__toks"))
    // one digest per token occurrence (majority vote counts duplicates)
    val nibbled = base
      .select(col(idCol), col("__th"), explode(col("__toks")).as("__t"))
      .select(col(idCol), col("__th"), md5(col("__t")).as("__d"))
      .select(col(idCol) +: col("__th") +: (0 until nBits / 4).map(p =>
        (instr(lit("0123456789abcdef"), substring(col("__d"), p + 1, 1)) - 1)
          .cast("int").as(s"__nib$p")): _*)
    val voteAggs = (0 until nBits).map(j =>
      sum(shiftright(col(s"__nib${j / 4}"), 3 - (j % 4)) % 2).as(s"__v$j"))
    val votes = nibbled.groupBy(col(idCol), col("__th"))
      .agg(count(lit(1)).as("__n"), voteAggs: _*)
    val bitStr = concat((0 until nBits).map(j =>
      when(coalesce(col(s"__v$j"), lit(0L)) * 2 >= coalesce(col("__n"), lit(0L)),
        lit("1")).otherwise(lit("0"))): _*)
    base.select(col(idCol), col("__th")).join(votes, Seq(idCol, "__th"), "left")
      // null text: the expression form's null comparisons all take the
      // otherwise('0') branch — mirror it (a null __th never joins, so
      // the vote coalesces would emit all-'1' instead)
      .select(col(idCol), when(col("__th").isNull,
        lit("0" * nBits)).otherwise(bitStr).as(outCol))
  }

  /** Hamming distance between two same-length bit-strings. */
  def hammingDist(a: Column, b: Column): Column =
    size(filter(zip_with(split(a, ""), split(b, ""),
      (x, y) => x =!= y), d => d))

  /** Deterministic ±1 hyperplane coefficient for (band, bit, dim): the
    * first hex nibble of md5("b:j:d") < 8 → +1 else -1. Computed
    * driver-side once and embedded as literal arrays — zero per-row
    * hash cost — and reproducible verbatim in the DuckDB oracle via the
    * same strpos-on-md5-hex construction. */
  private[ext] def hyperCoef(b: Int, j: Int, d: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$b:$j:$d".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xF) < 8) 1.0 else -1.0
  }

  /** Banded random-hyperplane sign-LSH keys over an array<double>
    * column: one bit-string key per band (bit j = sign of the
    * hyperplane-(b,j) dot product). A pair is a candidate if ANY band
    * key matches — recall 1-(1-p^bits)^bands for per-bit agreement
    * p = 1 - θ/π. Bucket count is 2^bits per band and — unlike sign
    * quantization of raw components — `bits` is free to grow (16+ at
    * 100 TB), so bucket population scales with data, not O(n²/2^dim). */
  def signBandKeys(v: Column, bands: Int, bits: Int, dim: Int): Column =
    array((0 until bands).map { b =>
      concat((0 until bits).map { j =>
        val coefs = array((0 until dim).map(d => lit(hyperCoef(b, j, d))): _*)
        val dot = aggregate(zip_with(v, coefs, (x, c) => x * c),
          lit(0.0), (acc, x) => acc + x)
        when(dot >= 0, lit("1")).otherwise(lit("0"))
      }: _*)
    }: _*)

  /** Embedding-cosine near-dup pairs: banded hyperplane-LSH blocking
    * (candidates = pairs sharing ≥1 band key), exact cosine
    * verification on candidates only. */
  def embeddingNearDups(emb: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        threshold: Double = 0.95,
                        bands: Int = 8, bitsPerBand: Int = 4,
                        dim: Int = 64): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // fail loudly on a dim mismatch: zip_with pads with null, the dot
    // goes null, and EVERY mismatched vector would share the all-'0'
    // key in every band — an O(m²) candidate blowup with no error
    val checked = when(size(v) === dim, v).otherwise(
      raise_error(concat(lit(s"embedding dim != $dim: size="), size(v).cast("string"))))
    val keyed = emb.select(col(idCol).as("id"),
      posexplode(signBandKeys(checked, bands, bitsPerBand, dim))
        .as(Seq("band", "key")))
    val pairs = keyed.as("a").join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = emb.select(col(idCol).as("vid"), v.as("vv"))
    pairs
      .join(vecs.as("va"), col("id_a") === col("va.vid"))
      .join(vecs.as("vb"), col("id_b") === col("vb.vid"))
      .select(col("id_a"), col("id_b"),
        Num.roundLike(Similarity.cosine(col("va.vv"), col("vb.vv")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Exact-substring dedup candidates: document pairs sharing at least
    * one VERBATIM w-token window, with the count of distinct shared
    * windows per pair — the equi-join formulation of suffix-style
    * substring dedup (train-set decontamination / copy detection).
    * Docs shorter than w tokens contribute no windows.
    *
    * Scale shape: per-doc distinct window hashes (map-only, the
    * md5-of-slice transform runs over a pre-bound token column), then
    * GROUP-AND-EXPLODE pairing: shuffle (doc, wh) once by wh, count df
    * with a map-side-combined aggregate, collect the sub-cap buckets'
    * doc lists, and emit each bucket's i<j pairs with array lambdas —
    * no self-join, so the corpus is NOT tokenized/shuffled twice (the
    * df-count and collect branches shuffle on the same key and reuse
    * one exchange). The `maxDf` stop-gram cap is the quadratic-blowup
    * guard: a boilerplate window in d docs would emit d·(d-1)/2 pairs,
    * so hotter windows are banned from pairing BEFORE their doc lists
    * are collected (exactly how production substring dedup handles
    * license headers) — per-bucket agg state stays ≤ maxDf ids. */
  def sharedSubstring(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", w: Int = 16,
                      maxDf: Long = 1000L): DataFrame = {
    val wins = docs
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(lower(col(textCol))).as("__toks"))
      .filter(size(col("__toks")) >= w)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("__toks")) - w),
          i => md5(concat_ws(" ", slice(col("__toks"), i + 1, lit(w))))))
      ).as("wh"))
      // distinct across ROWS too: a doc_id appearing on multiple input
      // rows must not pair with itself or double-count df
      .distinct()
    val keep = wins.groupBy("wh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("wh")
    val buckets = wins.join(keep, "wh")
      .groupBy("wh").agg(sort_array(collect_list(col("doc_id"))).as("__ds"))
    buckets
      .select(explode(flatten(transform(col("__ds"), (x, i) =>
        transform(slice(col("__ds"), i + lit(2), size(col("__ds"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("__p"))
      .groupBy(col("__p.doc_a").as("doc_a"), col("__p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Near-dup CLUSTER resolution: fuzzy dedup doesn't end at candidate
    * pairs — pipelines union the pairs into clusters and keep one
    * canonical document per cluster. This runs connected components
    * over the [[minhashCandidates]] pair graph (jaccard ≥ `threshold`)
    * and elects the min doc id of each cluster as canonical:
    * (doc_id, cluster_id, cluster_size, is_canonical), one row per
    * CLUSTERED doc (docs with no near-dup are trivially canonical and
    * not emitted).
    *
    * Reuses the engine's graph CC ([[graft.core.GraphOps]]): the same
    * regime-split propagation that labels chromatin graphs labels the
    * dedup graph — one-task CSR below the bounded cutoff, pointer
    * jumping above, both oracle-pinned. Ids ride lpad-20 string keys
    * (a non-negative long is ≤19 digits, so no id can truncate) so
    * the min-label order is numeric order. Scale: the pair graph is
    * produced by banded LSH (linear), and dedup components are shallow
    * (near-dup clusters, not chains), so label propagation converges in
    * a few rounds at any corpus size. */
  def dedupClusters(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    threshold: Double = 0.5): DataFrame = {
    val key = (c: Column) => lpad(c.cast("string"), 20, "0")
    val pairs = minhashCandidates(docs, idCol, textCol)
      .filter(col("jaccard") >= threshold)
      .select(key(col("doc_a")).as("src"), key(col("doc_b")).as("dst"))
    val cc = graft.core.GraphOps.connectedComponents(pairs)
    val sized = cc.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sized, "comp")
      .select(col("id").cast("long").as("doc_id"),
        col("comp").cast("long").as("cluster_id"),
        col("cluster_size"),
        (col("id") === col("comp")).as("is_canonical"))
  }

  /** Fuzzy dedup WITH removal — the corpus-rewrite counterpart of
    * [[dedupClusters]] (which only labels): every near-duplicate
    * cluster keeps its canonical member (min doc id — the same
    * first-wins order as [[exact]]) and drops the rest; documents in
    * no cluster pass through. This is the full MinHash pipeline stage
    * of large-scale corpus curation (GPT-3, Gopher, RefinedWeb all
    * describe MinHash-dedup-then-drop passes): candidates are
    * LSH-banded (never all-pairs), clusters close over the verified
    * ≥`threshold` Jaccard pairs, and the rewrite is ONE anti join of
    * the corpus against the non-canonical ids — at 100 TB the corpus
    * is touched exactly twice (shingle pass + anti join), and the
    * anti-join build side is |duplicates|, broadcastable in any
    * realistically deduplicated corpus shard.
    *
    * Output: the surviving rows (all non-text attribute columns) with
    * `text_md5` standing in for the payload so the gate compares
    * digests, not megabytes. */
  def fuzzyRewrite(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   threshold: Double = 0.5): DataFrame = {
    val losers = dedupClusters(docs, idCol, textCol, threshold)
      .filter(!col("is_canonical"))
      .select(col("doc_id").as(idCol))
    val keep = docs.columns.toSeq.filter(c => c != textCol).map(col)
    docs.join(losers, Seq(idCol), "left_anti")
      .select(keep :+ md5(col(textCol)).as("text_md5"): _*)
  }

  /** Incremental fuzzy dedup WITH removal — [[fuzzyRewrite]]'s ingest
    * form, the d12/s9 LSM shape: a NEW batch folds into a standing
    * (already-deduplicated) corpus without re-pairing or rewriting the
    * standing side. Batch-touching candidate pairs come from
    * [[incrementalCandidates]] (standing-standing pairs never form);
    * verified ≥`threshold` pairs close into clusters (the closure
    * input is batch-bounded — every pair touches the batch); a batch
    * document drops if its cluster contains ANY standing member
    * (first-ingested wins, the LSM invariant) or a smaller-id batch
    * sibling; everything else survives. Standing membership derives by
    * anti-joining cluster members against the broadcast batch-id list
    * — the standing corpus itself is touched only by the candidate
    * probe's semi-join-pruned shingle pass, never rewritten.
    *
    * Output: the batch's surviving rows, [[fuzzyRewrite]]'s shape
    * (attribute columns + `text_md5`). */
  def incrementalRewrite(standing: DataFrame, standingBands: DataFrame,
                         batch: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         threshold: Double = 0.5): DataFrame = {
    val key = (c: Column) => lpad(c.cast("string"), 20, "0")
    val pairs = incrementalCandidates(standing, standingBands, batch,
        idCol, textCol)
      .filter(col("jaccard") >= threshold)
      .select(key(col("doc_a")).as("src"), key(col("doc_b")).as("dst"))
    val cc = graft.core.GraphOps.connectedComponents(pairs)
    val bIds = batch.select(key(col(idCol)).as("id"))
    val stComps = cc.join(bIds, Seq("id"), "left_anti")
      .select(col("comp")).distinct()
    val losers = cc.join(stComps, Seq("comp"), "left_semi")
      .select(col("id"))
      .unionAll(cc.join(stComps, Seq("comp"), "left_anti")
        .filter(col("id") =!= col("comp")).select(col("id")))
    val keep = batch.columns.toSeq.filter(_ != textCol).map(col)
    batch.join(losers, key(col(idCol)) === col("id"), "left_anti")
      .select(keep :+ md5(col(textCol)).as("text_md5"): _*)
  }

  /** Block-level exact dedup WITH removal — the reassembly counterpart
    * of [[sharedSubstring]] (which only reports pairs). The corpus is
    * cut into non-overlapping `blockTokens`-token blocks; every block
    * whose exact text already occurred earlier in corpus order
    * (first occurrence = min (doc_id, block_idx), the same canonical
    * order as [[exact]]) is dropped, and each document's surviving
    * blocks are re-joined in position order. This is the block-aligned
    * simplification of exact-substring dedup (Lee et al. 2022,
    * arXiv:2107.06499 — their suffix-array pass removes arbitrary
    * spans; aligned blocks trade recall at span boundaries for a fully
    * relational plan) and the paragraph-dedup pass of RefinedWeb
    * (Penedo et al. 2023, arXiv:2306.01116) with blocks standing in
    * for paragraphs.
    *
    * Scale shape: one `posexplode` fan-out (corpus → ≈ tokens/B rows),
    * ONE shuffle — the `row_number` window partitioned by block hash,
    * whose keys are uniform by construction — then a doc_id re-agg
    * that AQE coalesces; no joins, no driver state. Dropping rather
    * than collecting duplicates keeps the reassembly agg's input at
    * corpus size. Keys are md5 of the raw block text: case-sensitive,
    * like [[exact]]. Docs with zero surviving blocks still emit a row
    * (`text_dedup` = ''). */
  def blockDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 blockTokens: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = blockTokens
    val blocks = docs
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), col("__toks"),
        expr(s"CAST((size(__toks) + ${b - 1}) div $b AS INT)").as("__nb"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("__nb") - 1),
          i => concat_ws(" ", slice(col("__toks"), i * b + 1, lit(b))))))
      .select(col("doc_id"), col("pos").as("__blk"), col("col").as("__btext"))
    val ranked = blocks.withColumn("__rn",
      row_number().over(Window.partitionBy(md5(col("__btext")))
        .orderBy(col("doc_id"), col("__blk"))))
    ranked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__rn") === 1,
            struct(col("__blk"), col("__btext"))))),
          s => s.getField("__btext"))).as("text_dedup"))
  }

  /** INTRA-document block dedup — the removal form of the repetition
    * SIGNALS in [[TextOps.repetition]] / the Rae et al. 2021 duplicate
    * line fraction: within each document, a `blockTokens`-token block
    * that already occurred earlier in the SAME document is removed
    * (self-boilerplate: repeated headers, chorus lines, templated
    * rows). Cross-document duplication is untouched — that's
    * [[blockDedup]]/[[cdcDedup]]'s corpus pass; run this first to stop
    * self-repetition from inflating their block frequencies.
    *
    * Scale shape: the best possible — pure array lambdas on each doc's
    * own row, NO shuffle, NO join, no state; first-occurrence within
    * the row via `array_position` (the O(blocks²)-per-doc compare is
    * bounded by the doc, not the corpus, and vectorizes inside
    * whole-stage codegen). At 100 TB this runs at scan speed alongside
    * any other map-only signal. */
  def intraDocDedup(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    blockTokens: Int = 3): DataFrame = {
    val b = blockTokens
    docs.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"),
        transform(sequence(lit(0),
          expr(s"CAST((size(__toks) + ${b - 1}) div $b AS INT)") - 1),
          i => concat_ws(" ", slice(col("__toks"), i * b + 1, lit(b))))
          .as("__blocks"))
      .select(col("doc_id"),
        size(col("__blocks")).cast("long").as("n_blocks"),
        filter(col("__blocks"), (blk, i) =>
          array_position(col("__blocks"), blk) === (i + 1).cast("long"))
          .as("__kept"))
      .select(col("doc_id"), col("n_blocks"),
        size(col("__kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("__kept")).as("text_dedup"))
  }

  /** Content-defined-chunking dedup — [[blockDedup]] with CUT POINTS
    * CHOSEN BY CONTENT instead of position: a cut falls after token p
    * whenever the md5-derived value of the `window`-token context
    * ending at p is ≡ 0 mod `divisor` (expected chunk length ≈
    * `divisor` tokens). Because boundaries depend only on local
    * content, inserting or deleting a token re-chunks ONLY the
    * neighborhood of the edit — the aligned-block scheme shifts every
    * downstream block, losing all matches after the edit point. This
    * is the FastCDC/LBFS rolling-hash construction (Muthitacharoen et
    * al. SOSP 2001) applied to token streams; production deployments
    * add min/max chunk-size clamps, omitted here for oracle clarity.
    *
    * Chunking is pure array lambdas on the doc's own row — cut
    * positions filtered from `sequence`, chunks sliced between
    * consecutive cuts — so there is NO per-doc window function and no
    * shuffle until the corpus-wide first-occurrence pass, which is
    * [[blockDedup]]'s: one `row_number` over the uniform chunk-hash
    * key, then the doc_id re-agg. Same 100 TB shape: fan-out,
    * one shuffle, re-agg. */
  def cdcDedup(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", window: Int = 2,
               divisor: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = window
    def winHash(toks: Column, p: Column): Column =
      conv(substring(md5(concat_ws(" ",
        slice(toks, p - (w - 1), lit(w)))), 1, 15), 16, 10).cast("long")
    val chunked = docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("__cuts",
        array_distinct(concat(
          filter(sequence(lit(w), greatest(size(col("__toks")), lit(w))),
            p => p <= size(col("__toks")) &&
              pmod(winHash(col("__toks"), p), lit(divisor)) === 0),
          array(size(col("__toks"))))))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("__cuts"))), i => {
          val start = when(i === 1, lit(1))
            .otherwise(element_at(col("__cuts"), i - 1) + 1)
          concat_ws(" ", slice(col("__toks"), start,
            element_at(col("__cuts"), i) - start + 1))
        })))
      .select(col("doc_id"), col("pos").as("__ck"), col("col").as("__ctext"))
    val ranked = chunked.withColumn("__rn",
      row_number().over(Window.partitionBy(md5(col("__ctext")))
        .orderBy(col("doc_id"), col("__ck"))))
    ranked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__rn") === 1,
            struct(col("__ck"), col("__ctext"))))),
          s => s.getField("__ctext"))).as("text_dedup"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication in EMBEDDING space — cluster the corpus with a
    * bounded codebook, then drop any vector whose cosine to a
    * higher-ranked member of its own cluster reaches `tau`. Near-dups
    * that share no n-gram (paraphrases, re-encodes, scaled copies) land
    * in the same cluster with cosine ≈ 1 and collapse; unrelated
    * vectors in the same Voronoi cell stay far below any useful
    * threshold.
    *
    * Ranking is deterministic: members order within their cluster by
    * 6-dp-rounded centroid similarity descending, id ascending — so
    * "higher-ranked" is a total order and the survivor of a duplicate
    * group is always its most-central, lowest-id member. Each member is
    * compared only against the `nReps` highest-ranked members of its
    * cluster (the cluster "representatives"): for bounded clusters this
    * IS all-pairs SemDeDup, and at corpus scale it caps the pair count
    * at |corpus|·nReps instead of Σ|cluster|² while keeping the
    * canonical-survivor rule intact (a duplicate of a non-representative
    * is a duplicate of the cluster's representatives too whenever the
    * group is tight — the regime real pipelines run SemDeDup in).
    *
    * Plan shape at 100 TB: one broadcast-codebook assignment scan (no
    * shuffle), one shuffle by cluster for the rank window, and one
    * broadcast join against the k·nReps representative set — at larger
    * k drop the broadcast hint and the same plan becomes a
    * cluster-co-partitioned equi-join. No all-pairs stage anywhere.
    *
    * Returns one row per corpus vector:
    * (`idCol`, centroid_id, rank, keep). */
  def semDedup(emb: DataFrame, cb: DataFrame, tau: Double, nReps: Int = 64,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = emb.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    // rounded-sim ordering + centroid-id ties: engine-stable, identical
    // to ivfAssign / the s2 oracle's assignment arithmetic
    val wAssign = Window.partitionBy(col("__id"))
      .orderBy(Num.roundLike(col("__sim"), 6).desc, col("centroid_id"))
    val assigned = c.crossJoin(broadcast(cb))
      .withColumn("__sim", Similarity.cosine(col("__v"), col("centv")))
      .withColumn("__rn", row_number().over(wAssign))
      .filter(col("__rn") === 1)
      .select(col("__id"), col("__v"), col("centroid_id"),
        Num.roundLike(col("__sim"), 6).as("__csim"))
    val wRank = Window.partitionBy(col("centroid_id"))
      .orderBy(col("__csim").desc, col("__id"))
    val ranked = assigned.withColumn("__rank", row_number().over(wRank))
    val reps = ranked.filter(col("__rank") <= nReps)
      .select(col("centroid_id"), col("__rank").as("__rrank"),
        col("__v").as("__rv"))
    val dropped = ranked.join(broadcast(reps), Seq("centroid_id"))
      .filter(col("__rrank") < col("__rank") &&
        Num.roundLike(Similarity.cosine(col("__v"), col("__rv")), 6) >= tau)
      .select(col("__id")).distinct()
    ranked.join(dropped.withColumn("__dup", lit(true)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("centroid_id"),
        col("__rank").cast("long").as("rank"),
        not(coalesce(col("__dup"), lit(false))).as("keep"))
  }

  /** Corpus-level BOILERPLATE removal — the third member of the
    * block-dedup family, with the semantics [[blockDedup]] (keep the
    * FIRST occurrence) cannot express: a block whose exact text
    * appears in at least `minDf` DISTINCT documents is boilerplate
    * (cookie banners, navigation chrome, templated footers) and is
    * removed from EVERY document — including the first. This is
    * CCNet's paragraph-hash dedup effect (Wenzek et al. 2020,
    * arXiv:1911.00359 — duplicated boilerplate paragraphs vanish
    * entirely) and RefinedWeb's line-wise corrections (Penedo et al.
    * 2023, arXiv:2306.01116 §3.2) with aligned `blockTokens`-token
    * blocks standing in for natural lines, which the synthetic corpus
    * lacks. Rare blocks (df < minDf) survive verbatim in order; docs
    * reduced to nothing still emit a row (`text_clean` = '').
    *
    * Scale shape: one `posexplode` fan-out, then the document
    * frequency is two map-side-combined aggregations over (block
    * hash, doc_id) — NOT a count-distinct window — and the verdict
    * returns by ONE hash-keyed equi-join (the boilerplate side is
    * corpus-dependent, never broadcast by construction; AQE may still
    * choose broadcast when it measures small) before the per-doc
    * reassembly agg. Three uniform-key shuffles, linear in corpus
    * tokens, no driver state — the same 100 TB shape as [[blockDedup]]
    * plus one join. */
  def boilerplateDedup(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", blockTokens: Int = 3,
                       minDf: Int = 4): DataFrame = {
    val b = blockTokens
    val blocks = docs
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0),
          expr(s"CAST((size(__toks) + ${b - 1}) div $b AS INT)") - 1),
          i => concat_ws(" ", slice(col("__toks"), i * b + 1, lit(b))))))
      .select(col("doc_id"), col("pos").as("__blk"),
        col("col").as("__btext"), md5(col("col")).as("__h"))
    // df per block hash: distinct (hash, doc) then count — both phases
    // partial-aggregate map-side, unlike a countDistinct window
    val bp = blocks.select(col("__h"), col("doc_id")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__h"), lit(true).as("__bp"))
    blocks.join(bp, Seq("__h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("__bp").isNull, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__bp").isNull,
            struct(col("__blk"), col("__btext"))))),
          s => s.getField("__btext"))).as("text_clean"))
  }

  // ================= exact duplicated-SPAN dedup (suffix-style) =====

  /** Position-encoding base for the canonical-occurrence key
    * (doc_id·2³² + pos): the contract is pos < 2³², far above any
    * real document length. */
  private val PosBase = 4294967296L // 1L << 32

  /** d16's window→groupBy crossover: inputs estimated above this take
    * the skew-safe [[exactSpansDist]]/[[incrementalSpansIndexedDist]]
    * branch (see [[exactSpans]]'s regime-dispatch scaladoc). 256 MiB
    * of text ≈ 2.7e8 gram positions — the most a worst-case
    * single-gram corpus may ask one window task to hold. */
  val SpanWindowMaxBytes: Long = 256L << 20

  /** Widen a small input before a high-fan-out explode: the gate\u2019s
    * documents table is ONE parquet file \u2192 one scan partition, and a
    * 260\u00d7 position fan-out then shuffle-writes 1.3M rows from a single
    * task (measured 4.4s of the d16 lane \u2014 vs 1.1s after widening). At
    * cluster scale the scan has thousands of partitions and this is a
    * no-op. */
  private def widened(docs: DataFrame): DataFrame = Widen.widened(docs)

  /** Gram keys: for every 1-based character position that starts a
    * full `minLen`-gram, a 60-bit key equal iff the grams are equal
    * (md5-derived \u2014 collision bound ~2\u207b\u2076\u2070 per pair, and the DuckDB
    * oracle compares the ACTUAL substrings, so a collision would fail
    * the hash gate rather than hide).
    *
    * Scale shape: the hash is computed MAP-SIDE inside the scan\u2019s own
    * projection (explode positions \u2192 substr \u2192 md5 \u2192 long, one fused
    * whole-stage pipeline), so only (doc, pos, key) \u2014 24 bytes \u2014 ever
    * reaches an exchange; the L-gram bytes themselves never shuffle.
    * Extraction costs L\u00d7 the corpus in in-task CPU, embarrassingly
    * parallel, zero extra IO (measured: the full gram stage is 0.2s at
    * sf0.1 \u2014 the lane\u2019s cost is the one dup-detection shuffle). */
  private def spanGramKeys(docs: DataFrame, minLen: Int,
                           idCol: String, textCol: String): DataFrame = {
    require(minLen >= 2, "minLen must be at least 2")
    widened(docs)
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= minLen)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("__t")) - lit(minLen - 1)))
          .as("pos"), col("__t"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        conv(substring(md5(col("__t").substr(col("pos"), lit(minLen))),
          1, 15), 16, 10).cast("long").as("h"))
  }

  /** Exact duplicated-span detection — the character-level form of
    * Lee et al. 2022\'s "Deduplicating Training Data Makes Language
    * Models Better" (arXiv:2107.06499) span removal, which d9/d10
    * approximate at block granularity: every maximal span of length ≥
    * `minLen` whose every `minLen`-gram also occurs at some EARLIER
    * corpus position (order = (doc_id, pos)) is reported as
    * (doc_id, span_start, span_end), 1-based inclusive. The earliest
    * occurrence of a repeated gram is CANONICAL and never reported —
    * the keep-one-copy semantics. Gram equality via [[spanGramKeys]];
    * duplicated positions merge into maximal spans by the
    * consecutive-run window (pos − row_number).
    *
    * Dup detection is ONE shuffle: a window over the gram key computes
    * each group's size and canonical key in place — the groupBy +
    * join-back form ([[exactSpansDist]]) shuffles the gram frame twice
    * more and was measured 3× slower on the same data, so this is the
    * small/medium-regime default. The window is NOT skew-safe: a
    * window must colocate its entire partition key in one task —
    * map-side partial aggregation does not apply to windows and AQE's
    * skew splitting applies only to joins — so ONE boilerplate gram
    * repeated 10⁸-10⁹ times (exactly what a web corpus contains)
    * lands a single task.
    *
    * Regime dispatch (r13 verdict #2): this default entry point
    * routes itself — an input whose Catalyst size estimate exceeds
    * `windowMaxBytes` takes the [[exactSpansDist]] branch (same
    * oracle, identical output; TextDedupSpec pins both the identity
    * and the routed plan shape). The crossover is a conservative
    * BYTES proxy for the real hazard (one gram's repeat count, which
    * no cheap stat sees): at [[SpanWindowMaxBytes]] even a
    * worst-case fully-boilerplate corpus caps the hot window task at
    * ~the input's character count, and past it the skew-safe form's
    * two extra exchanges are noise against the scan. Callers that
    * know their skew pass a higher cap (or call a branch directly);
    * `windowMaxBytes <= 0` forces the dist branch — the `_dist`
    * lane convention. */
  def exactSpans(docs: DataFrame, minLen: Int = 40,
                 idCol: String = "doc_id",
                 textCol: String = "text",
                 windowMaxBytes: Long = SpanWindowMaxBytes): DataFrame = {
    if (graft.core.Regime.overBytes(docs, windowMaxBytes))
      return exactSpansDist(docs, minLen, idCol, textCol)
    import org.apache.spark.sql.expressions.Window
    val grams = spanGramKeys(docs, minLen, idCol, textCol)
    val wh = Window.partitionBy("h")
    val dups = grams
      .withColumn("__n", count(lit(1)).over(wh))
      .withColumn("__canon",
        min(col("doc_id") * lit(PosBase) + col("pos")).over(wh))
      .filter(col("__n") >= 2 &&
        (col("doc_id") * lit(PosBase) + col("pos")) =!= col("__canon"))
      .select(col("doc_id"), col("pos"))
    mergeRuns(dups, minLen)
  }

  /** [[exactSpans]]'s AT-SCALE regime: the per-gram (count, canonical
    * key) comes from a `groupBy("h")` — partial-aggregation-safe, so a
    * hot boilerplate gram combines map-side instead of colocating in
    * one window task — and joins back onto the gram frame (a
    * sort-merge equi-join, where AQE's skew splitting DOES apply).
    * Costs ~3× the window form at gate scale (the gram frame crosses
    * two more exchanges), which is why the window stays the default
    * regime; this form is the one that survives a corpus where one
    * 40-gram repeats 10⁹ times. Identical output, same oracle. */
  def exactSpansDist(docs: DataFrame, minLen: Int = 40,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val grams = spanGramKeys(docs, minLen, idCol, textCol)
    val key = col("doc_id") * lit(PosBase) + col("pos")
    val grp = grams.groupBy("h")
      .agg(count(lit(1)).as("__n"), min(key).as("__canon"))
      .filter(col("__n") >= 2)
      .select(col("h"), col("__canon"))
    val dups = grams.join(grp, Seq("h"))
      .filter(key =!= col("__canon"))
      .select(col("doc_id"), col("pos"))
    mergeRuns(dups, minLen)
  }

  /** Consecutive duplicated gram positions → maximal spans: the
    * pos − row_number run grouping, span end = last start + L − 1. */
  private def mergeRuns(dups: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dups.withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(minLen - 1).cast("long")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** [[exactSpans]]'s INGEST form — the d12/m8/s9 LSM shape for the
    * span family: a new batch's duplicated spans against the standing
    * corpus SO FAR, with per-batch cost bounded by the batch. A batch
    * gram position is duplicated when its gram exists ANYWHERE in the
    * standing corpus (first-ingested wins — the standing side is
    * immutable and never re-reported, exactly d15's rule; note this
    * deliberately differs from a full rebuild when a batch id sorts
    * below a standing id) or when it loses the (doc, pos) tiebreak
    * within its own batch. Work: the batch's gram scan + ONE equi-join
    * against the standing per-gram index (a count-per-key frame ≤ the
    * standing distinct-gram count — the persistable serving artifact:
    * appending a processed batch's own gram counts IS the index
    * update, like the d12 band index) + the batch-internal window.
    * standing⋈standing never forms. */
  def incrementalSpans(standing: DataFrame, batch: DataFrame,
                       minLen: Int = 40, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    incrementalSpansIndexed(
      spanGramKeys(standing, minLen, idCol, textCol)
        .groupBy("h").agg(count(lit(1)).as("__ns")),
      batch, minLen, idCol, textCol)

  /** Build-time half of the span-ingest serving pair: persist the
    * standing corpus's per-gram count index (h, __ns) — sorted within
    * partitions by h so a batch probe prunes row groups via the
    * parquet min/max index (the writeBandIndex lifecycle; at cluster
    * scale the frame would bucket by h). Appending a processed
    * batch's own gram counts is the index update. */
  def writeGramIndex(docs: DataFrame, dir: String, minLen: Int = 40,
                     idCol: String = "doc_id",
                     textCol: String = "text"): Unit =
    spanGramKeys(docs, minLen, idCol, textCol)
      .groupBy("h").agg(count(lit(1)).as("__ns"))
      .sortWithinPartitions("h")
      .write.mode("overwrite").parquet(dir)

  def readGramIndex(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = spark.read.parquet(dir)

  /** One batch's per-gram count segment (h, __ns) — the appendable
    * LSM unit of the gram index: a pure per-batch function, so
    * segments summed per gram over any batch split equal the one-shot
    * [[writeGramIndex]] frame (the docPostings purity argument). */
  def gramSegment(batch: DataFrame, minLen: Int = 40,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    spanGramKeys(batch, minLen, idCol, textCol)
      .groupBy("h").agg(count(lit(1)).as("__ns"))

  /** [[incrementalSpans]] over an EXPLICIT standing index frame
    * (freshly aggregated or reopened from a [[writeGramIndex]]
    * snapshot) — the serve stage runs only the batch's gram scan, the
    * index equi-join and the batch window. Regime dispatch (r13
    * verdict #2): the hazard window is BATCH-internal, so a batch
    * estimated above `windowMaxBytes` routes itself through
    * [[incrementalSpansIndexedDist]] (same oracle; the standing-index
    * probe is a skew-splittable equi-join in both branches). */
  def incrementalSpansIndexed(standingIndex: DataFrame, batch: DataFrame,
                              minLen: Int = 40, idCol: String = "doc_id",
                              textCol: String = "text",
                              windowMaxBytes: Long = SpanWindowMaxBytes)
      : DataFrame = {
    if (graft.core.Regime.overBytes(batch, windowMaxBytes))
      return incrementalSpansIndexedDist(standingIndex, batch, minLen,
        idCol, textCol)
    import org.apache.spark.sql.expressions.Window
    val sg = standingIndex
    val bg = spanGramKeys(batch, minLen, idCol, textCol)
    val wh = Window.partitionBy("h")
    val key = col("doc_id") * lit(PosBase) + col("pos")
    // batch-internal dup detection is the same window as exactSpans —
    // same hot-gram caveat, same regime split: the window colocates a
    // whole gram key in one task, so a boilerplate-heavy BATCH should
    // route through [[incrementalSpansIndexedDist]] (same oracle).
    val dups = bg
      .withColumn("__nb", count(lit(1)).over(wh))
      .withColumn("__bcanon", min(key).over(wh))
      .join(sg, Seq("h"), "left")
      .filter(col("__ns").isNotNull ||
        (col("__nb") >= 2 && key =!= col("__bcanon")))
      .select(col("doc_id"), col("pos"))
    mergeRuns(dups, minLen)
  }

  /** [[incrementalSpansIndexed]]'s AT-SCALE regime — the
    * [[exactSpansDist]] groupBy+join-back shape applied to the
    * batch-internal dup detection (the standing-index probe was
    * already a skew-splittable equi-join in both regimes). Identical
    * output, same oracle. */
  def incrementalSpansIndexedDist(standingIndex: DataFrame,
                                  batch: DataFrame, minLen: Int = 40,
                                  idCol: String = "doc_id",
                                  textCol: String = "text"): DataFrame = {
    val sg = standingIndex
    val bg = spanGramKeys(batch, minLen, idCol, textCol)
    val key = col("doc_id") * lit(PosBase) + col("pos")
    val grp = bg.groupBy("h")
      .agg(count(lit(1)).as("__nb"), min(key).as("__bcanon"))
    val dups = bg.join(grp, Seq("h"))
      .join(sg, Seq("h"), "left")
      .filter(col("__ns").isNotNull ||
        (col("__nb") >= 2 && key =!= col("__bcanon")))
      .select(col("doc_id"), col("pos"))
    mergeRuns(dups, minLen)
  }

  /** The corpus REWRITE under [[exactSpans]]: every character inside a
    * reported duplicated span is removed (canonical occurrences stay
    * intact), remaining characters re-assemble in position order —
    * one row per input document, empty string if everything was cut.
    *
    * Only the SPAN frame aggregates (Σ spans ≪ corpus — a tiny
    * per-doc interval list), never the characters: the text is cut by
    * folding the doc's sorted span list with `aggregate`, appending
    * the `substr` between a cursor and the next span start — one
    * map-side projection over the doc row, zero fan-out. (The first
    * form of this operator exploded every character into rows —
    * ~26 bytes/char through a shuffle, ≈26× corpus amplification, and
    * a per-doc collect_list(chars) whose aggregation buffer was
    * proportional to document length: a 100 MB document was a
    * single-buffer OOM. The fold's state is one cursor + the output
    * string — bounded by the OUTPUT, which the operator must
    * materialize anyway.) Overlapping spans (runs closer than one
    * gram length) need no pre-merge: the cursor only moves forward
    * (`greatest`), so a span starting inside the cut region appends
    * nothing. The cut itself happens under the row-preserving left
    * join of docs onto their span lists; the bench forces lanes via
    * `queryExecution.toRdd`, which evaluates every output column, so
    * a count-style join elimination cannot silently skip the dedup. */
  def exactSpanRewrite(docs: DataFrame, minLen: Int = 40,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val spans = exactSpans(docs, minLen, idCol, textCol)
    val spanLists = spans.groupBy("doc_id")
      .agg(array_sort(collect_list(
        struct(col("span_start"), col("span_end")))).as("__spans"))
    val base = widened(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__text"))
    val cur = (acc: Column) => acc.getField("cur")
    val out = (acc: Column) => acc.getField("out")
    val rebuilt = aggregate(col("__spans"),
      struct(lit(1L).as("cur"), lit("").as("out")),
      (acc, s) => {
        val ss = s.getField("span_start")
        val se = s.getField("span_end")
        struct(
          greatest(cur(acc), se + lit(1L)).as("cur"),
          concat(out(acc), when(ss > cur(acc),
            col("__text").substr(cur(acc).cast("int"),
              (ss - cur(acc)).cast("int"))).otherwise(lit("")))
            .as("out"))
      },
      acc => concat(out(acc),
        col("__text").substr(cur(acc).cast("int"),
          length(col("__text")) - cur(acc).cast("int") + lit(1))))
    base.join(spanLists, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // null-input contract (ADVICE r13): a NULL text yields '' —
        // the same output the chars-frame path produced for it before
        // the left-join rewrite (an empty chars frame rebuilt to ''),
        // so the operator's output is non-null by construction.
        when(col("__spans").isNull, coalesce(col("__text"), lit("")))
          .otherwise(rebuilt).as("text"))
  }
}
