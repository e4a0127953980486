package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language-ID heuristic,
  * and document fingerprinting. All pure `functions._` compositions —
  * whole-stage-codegen friendly, no UDFs — so they run at scan speed on
  * a 100 TB documents table.
  */
object TextOps {

  /** Whitespace tokenizer (the baseline; BPE-ish regex below). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-boundary token count: splits on whitespace AND
    * letter/digit/punct transitions — a cheap proxy for tokenizer cost
    * estimation (true BPE needs the merges table; this is the standard
    * pre-tokenization regex shape). Implemented as boundary-marking
    * regexp_replace passes rather than lookaround splits so the same
    * construction runs verbatim under RE2 engines (the DuckDB oracle). */
  def bpeishTokenCount(text: Column): Column = {
    val marked = regexp_replace(
      regexp_replace(
        regexp_replace(text, "([a-zA-Z])(\\d)", "$1 $2"),
        "(\\d)([a-zA-Z])", "$1 $2"),
      "([^\\sa-zA-Z0-9])", " $1")
    size(filter(split(marked, "\\s+"), t => t =!= ""))
  }

  /** Quality score in [0,1]: blend of signals every filtering pipeline
    * uses — mean word length sanity, stopword ratio, alpha ratio,
    * repetition (distinct/total tokens). Deterministic, SQL-expressible. */
  val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val n = greatest(size(toks), lit(1)).cast("double")
    val meanLen = length(concat_ws("", toks)).cast("double") / n
    val lenOk = when(meanLen >= 3.0 && meanLen <= 10.0, 1.0).otherwise(0.0)
    val stopRatio = size(filter(toks,
      t => t.isin(Stopwords.map(s => lit(s)): _*))).cast("double") / n
    val alphaRatio =
      (length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double") /
        greatest(length(text), lit(1)).cast("double"))
    val distinctRatio = size(array_distinct(toks)).cast("double") / n
    // Num.roundLike, not round(): 6 of 50k sf1 docs land exactly on a
    // 4-dp display boundary and Spark's rendering-based round diverges
    // from the oracle's scaled-product round there
    Num.roundLike(lit(0.25) * lenOk + lit(0.25) * least(stopRatio * 10.0,
      lit(1.0)) + lit(0.25) * alphaRatio + lit(0.25) * distinctRatio, 4)
  }

  /** Language-ID heuristic: stopword-hit ratio per language over a tiny
    * built-in lexicon + CJK codepoint detection; argmax wins, "und" if
    * no evidence. N-gram-free deterministic version (SQL-parity). */
  val LangLexicon: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "que", "de"))

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val n = greatest(size(toks), lit(1)).cast("double")
    val scores = LangLexicon.toSeq.sortBy(_._1).map { case (lang, words) =>
      (lang, size(filter(toks, t => t.isin(words.map(lit): _*)))
        .cast("double") / n)
    }
    val cjk = length(regexp_replace(text, "[^\\x{4E00}-\\x{9FFF}]", "")) > 0
    // argmax with deterministic tie-break on language code order
    val best = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bl, bs), (lang, s)) =>
        (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(cjk, lit("zh"))
      .when(best._2 > 0.0, best._1)
      .otherwise(lit("und"))
  }

  /** Document fingerprint: md5 of the whitespace-normalized, lower-cased
    * text — the exact-near-canonical-dup key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling (windowed) fingerprint over a PRE-BOUND token-array
    * column (the [[Dedup.shinglesOfTokens]] contract — bind the
    * tokenizer into a real column/Generate boundary first): min md5
    * over all w-token windows — a winnowing-style content fingerprint
    * robust to prefix/suffix edits. */
  def rollingFingerprintOfTokens(toks: Column, w: Int = 8): Column =
    array_min(transform(
      sequence(lit(0), greatest(size(toks) - w, lit(0))),
      i => md5(concat_ws(" ", slice(toks, i + 1, lit(w))))))

  /** Single-expression form for ad-hoc / per-pair use ONLY: the
    * tokenizer sits inside the window lambda's body, so interpreted
    * HOF eval re-runs it once PER WINDOW — O(tokens × tokenize) per
    * doc (the t14 lesson). Batch paths pre-bind and call
    * [[rollingFingerprintOfTokens]]. */
  def rollingFingerprint(text: Column, w: Int = 8): Column =
    rollingFingerprintOfTokens(tokens(lower(text)), w)

  /** tf-idf weights per (document, term): `tf` = in-document term
    * count, `df` = number of documents containing the term, `tfidf` =
    * tf · ln(N/df) rounded at 4 dp via [[Num.roundLike]]. Two shuffles
    * — (doc_id, term) then (term) — both map-side combined; the corpus
    * size N rides a broadcast 1-row aggregate, so the plan has no
    * driver action and the df join stays a shuffled equi-join (the
    * vocabulary can be arbitrarily large at corpus scale — never
    * broadcast it). Cross-engine determinism: N/df is exact integer
    * double-division, JVM log and libm ln agree to ≤1 ulp (measured 7
    * of 200k values on this platform), and a 1-ulp input flips the
    * 4 dp scaled-product round only within ~1e-12 of a boundary. */
  def tfidf(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        Num.roundLike(
          col("tf") * log(col("n_docs").cast("double") / col("df")), 4)
          .as("tfidf"))
  }

  /** Intra-document repetition: the fraction of k-gram shingles that
    * duplicate an earlier shingle of the SAME document — the classic
    * "duplicated n-gram" quality filter large-scale text pipelines run
    * before training. Shingling matches [[Dedup.shinglesOfTokens]]
    * (lowercased whitespace tokens; sub-k docs yield one whole-text
    * shingle, so the denominator is never 0). Map-only at any corpus
    * size: tokenize → shingle → two array sizes per row, no shuffle,
    * whole-stage codegen throughout. */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", k: Int = 3): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        tokens(lower(col(textCol))).as("__toks"))
      .select(col("doc_id"), Dedup.shinglesOfTokens(col("__toks"), k).as("__sh"))
      .select(col("doc_id"),
        size(col("__sh")).cast("long").as("n_shingles"),
        size(array_distinct(col("__sh"))).cast("long").as("n_unique"))
      .withColumn("rep_ratio",
        Num.roundLike(lit(1.0) -
          col("n_unique").cast("double") / col("n_shingles"), 4))

  /** The Gopher rule-set's stopword list (Rae et al. 2021, A1.1):
    * a document must contain at least [[GopherMinStopwords]] DISTINCT
    * members to pass. */
  val GopherStopwords = Seq("the", "be", "to", "of", "and", "that",
    "have", "with")
  val GopherMinStopwords = 2

  /** Gopher-style composite document filter (Rae et al. 2021,
    * arXiv:2112.11446 A1.1) — the canonical rule-based quality gate
    * LLM corpus pipelines run before model-based filtering. Emits every
    * signal plus the composite verdict so downstream stages can relax
    * individual rules:
    *
    *  - 50 ≤ word count ≤ 100,000
    *  - 3 ≤ mean word length ≤ 10
    *  - symbol-to-word ratio (`#` or `...`) < 0.1
    *  - < 90% of lines start with a bullet (`-`, `*`, `•`)
    *  - < 30% of lines end with an ellipsis (`...` or `…`)
    *  - > 80% of words contain at least one alphabetic character
    *  - ≥ 2 distinct members of [[GopherStopwords]] present
    *
    * Map-only column arithmetic — no shuffle, runs at scan speed on a
    * 100 TB corpus, and every rule is SQL-expressible so the DuckDB
    * oracle replays the identical construction. Occurrence counts use
    * replace-and-measure (`len - len(replace(...))`) rather than
    * regexp_count so RE2 engines agree byte-for-byte. */
  def gopherFilter(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val text = col("__text")
    val toks = col("__toks")
    val n = greatest(size(toks), lit(1)).cast("double")
    val meanLen = length(concat_ws("", toks)).cast("double") / n
    val nHash = length(text) - length(regexp_replace(text, "#", ""))
    val nEllipsis = (length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / 3 +
      (length(text) - length(regexp_replace(text, "…", "")))
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = size(filter(lines,
      l => trim(l).rlike("^[-*•]"))).cast("double") / nLines
    val ellipsisFrac = size(filter(lines,
      l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("double") / nLines
    val alphaFrac = size(filter(toks,
      t => t.rlike("[A-Za-z]"))).cast("double") / n
    val nStop = size(array_intersect(
      array_distinct(transform(toks, t => lower(t))),
      array(GopherStopwords.map(lit): _*)))
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_words"),
        Num.roundLike(meanLen, 4).as("mean_word_len"),
        Num.roundLike((nHash + nEllipsis).cast("double") / n, 4)
          .as("symbol_ratio"),
        Num.roundLike(bulletFrac, 4).as("bullet_frac"),
        Num.roundLike(ellipsisFrac, 4).as("ellipsis_frac"),
        Num.roundLike(alphaFrac, 4).as("alpha_frac"),
        nStop.cast("long").as("n_stopwords"))
      .withColumn("keep",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") < 0.1 &&
          col("bullet_frac") < 0.9 &&
          col("ellipsis_frac") < 0.3 &&
          col("alpha_frac") > 0.8 &&
          col("n_stopwords") >= GopherMinStopwords)
  }

  /** PII patterns shared by [[piiScrub]] and its oracle. Every
    * construct (classes, bounded repeats, `\b`, `\d`) parses and
    * behaves identically under java.util.regex and RE2, so the DuckDB
    * oracle runs the same patterns verbatim. Kept deliberately simple
    * — production scrubbing layers locale-specific variants on the
    * same plan shape. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII redaction — the scrub step every public-corpus pipeline runs
    * before training: emails → `<EMAIL>`, IPv4 → `<IP>`,
    * NANP-style phone numbers → `<PHONE>`, with per-class match
    * counts. The three classes are counted and replaced
    * SEQUENTIALLY (emails first), so a digit run inside an e-mail
    * domain is never double-counted as an IP — the count of class k
    * is taken on text already scrubbed of classes < k, a
    * deterministic composition both engines replay identically.
    * Map-only: three regexp_count + three regexp_replace per row, all
    * codegen'd — no shuffle, runs at scan speed on a 100 TB corpus. */
  def piiScrub(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val noEmail = regexp_replace(col(textCol), EmailRe, "<EMAIL>")
    docs
      .select(col(idCol).as("doc_id"),
        regexp_count(col(textCol), lit(EmailRe)).cast("long")
          .as("n_emails"),
        noEmail.as("__t1"))
      .select(col("doc_id"), col("n_emails"),
        regexp_count(col("__t1"), lit(Ipv4Re)).cast("long").as("n_ips"),
        regexp_replace(col("__t1"), Ipv4Re, "<IP>").as("__t2"))
      .select(col("doc_id"), col("n_emails"), col("n_ips"),
        regexp_count(col("__t2"), lit(PhoneRe)).cast("long")
          .as("n_phones"),
        regexp_replace(col("__t2"), PhoneRe, "<PHONE>").as("clean"))
  }

  /** Benchmark decontamination — flag training documents that share
    * word n-grams with a held-out evaluation set (the standard
    * n-gram-overlap decontamination step run before every large
    * training corpus ships). Grams are n-token shingles of the
    * lowercased whitespace tokens ([[Dedup.shinglesOfTokens]]; sub-n
    * docs contribute their whole text, so every doc has ≥1 gram and
    * appears in the output). Each side dedups its grams FIRST
    * (distinct per doc / distinct overall), grams travel as 64-bit
    * md5 prefixes — the shuffle carries 16-byte keys, not text. The
    * bench side is one `DISTINCT` aggregate; the overlap is a plain
    * equi-join Catalyst/AQE can broadcast when the bench set is small
    * and shuffle when it is not — no driver materialization, so the
    * plan survives a benchmark suite of any size. */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 5): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col(idCol).as("doc_id"),
        tokens(lower(col(textCol))).as("__toks"))
      .select(col("doc_id"),
        explode(array_distinct(
          Dedup.shinglesOfTokens(col("__toks"), n))).as("__gram"))
      .select(col("doc_id"),
        substring(md5(col("__gram")), 1, 16).as("__gh"))
    val benchGrams = grams(bench).select("__gh").distinct()
      .withColumn("__hit", lit(1))
    grams(train)
      .join(benchGrams, Seq("__gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_contaminated"))
      .withColumn("contaminated", col("n_contaminated") > 0)
  }

  /** Bloom-filter decontamination — the documented scale path for
    * [[decontaminate]] when the benchmark gram set outgrows a
    * broadcast-able exact set: the bench grams are folded into an
    * m-bit Bloom filter packed as `mBits/64` longs, and every
    * training gram asks the filter instead of joining the exact set.
    * The filter is built RELATIONALLY — k Kirsch-Mitzenmacher
    * double-hashed probe positions per gram (h1 + j·h2 mod m, the
    * minhash construction), bit_or-packed per 64-bit word — so the
    * whole structure is deterministic arithmetic over md5 prefixes:
    * both the hits AND the false positives are identical in any
    * engine, which is what lets the DuckDB oracle pin this
    * hash-exact (a library Bloom filter's private hash would be
    * unverifiable). Emits the exact overlap counts alongside the
    * Bloom verdicts plus the no-false-negative certificate
    * (`bloom_consistent` — a Bloom filter may over-flag, never
    * under-flag).
    *
    * Scale shape: the filter words frame is ≤ mBits/32 rows (32 bits
    * packed per long — shifts stay below the sign bit, which some
    * engines refuse) — an equi-join AQE broadcasts (the m=2²⁰ default
    * is 32k rows ≈ 256 KB of filter for a ~1% FP rate at 10⁵ bench
    * grams; size m to the real suite). The train side stays map-only
    * + one doc_id re-agg: each gram fans out to its k probe words,
    * hits come back via the broadcast join — no corpus-sized shuffle,
    * no driver materialization, and the 100 TB corpus never joins the
    * exact bench set. A gram is identified by its (h1, h2) hash pair
    * throughout — no synthetic row ids, so every intermediate is a
    * pure function of the data. */
  def bloomDecontaminate(train: DataFrame, bench: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text", n: Int = 5,
                         mBits: Long = 1L << 20,
                         k: Int = 5): DataFrame = {
    require(mBits % 32 == 0 && mBits > 0, "mBits must be a positive multiple of 32")
    require(k >= 1, "k must be at least 1")
    def grams(df: DataFrame): DataFrame = df
      .select(col(idCol).as("doc_id"),
        tokens(lower(col(textCol))).as("__toks"))
      .select(col("doc_id"),
        explode(array_distinct(
          Dedup.shinglesOfTokens(col("__toks"), n))).as("__gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("__gram")), 1, 15), 16, 10)
          .cast("long").as("__h1"),
        conv(substring(md5(col("__gram")), 16, 15), 16, 10)
          .cast("long").as("__h2"))
    // (word, bit-mask) probe positions for hash j = 0..k-1
    def positions(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("__h1"), col("__h2"),
        explode(sequence(lit(0), lit(k - 1))).as("__j"))
      .select(col("doc_id"), col("__h1"), col("__h2"),
        pmod(col("__h1") + col("__j") * col("__h2"), lit(mBits)).as("__pos"))
      .select(col("doc_id"), col("__h1"), col("__h2"),
        expr(s"__pos div 32L").as("__word"),
        expr("shiftleft(1L, CAST(pmod(__pos, 32) AS INT))").as("__mask"))
    val words = positions(grams(bench))
      .groupBy("__word")
      .agg(expr("bit_or(__mask)").as("__bits"))
    // per-gram: all k probed bits set ⇒ the filter says contaminated
    val gramHit = positions(grams(train))
      .join(words, Seq("__word"), "left")
      .groupBy("doc_id", "__h1", "__h2")
      .agg(sum(when(coalesce(col("__bits"), lit(0L))
        .bitwiseAND(col("__mask")) =!= 0L, 1).otherwise(0)).as("__set"))
    val exact = grams(bench)
      .select(col("__h1"), col("__h2")).distinct()
      .withColumn("__ex", lit(1))
    gramHit.join(exact, Seq("__h1", "__h2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(col("__ex")).as("n_exact"),
        sum(when(col("__set") === k, 1L).otherwise(0L)).as("n_bloom"))
      .select(col("doc_id"), col("n_grams"), col("n_exact"),
        col("n_bloom"), (col("n_bloom") > 0).as("contaminated_bloom"),
        (col("n_bloom") >= col("n_exact")).as("bloom_consistent"))
  }

  /** Bigram language-model counts with conditional probabilities —
    * the count-collection step behind n-gram LMs and the perplexity /
    * fluency proxies data-quality pipelines score documents with.
    * `p_cond` = n(w1,w2) / n(w1,·) is exact-integer division rounded
    * at 6 dp — deterministic on any engine. Classic two-shuffle
    * map-reduce shape: bigram groupBy (map-side combined — the heavy
    * one), then a prefix re-aggregation of the ALREADY-aggregated
    * counts (vocab²-sized, not corpus-sized) and a vocab-keyed
    * equi-join. A `minCount` cutoff drops the long tail the way
    * production LM count pipelines do. */
  def bigramCounts(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   minCount: Long = 1L): DataFrame = {
    val bcnt = docs
      .select(tokens(lower(col(textCol))).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("__toks")) - 2),
        i => struct(element_at(col("__toks"), i + 1).as("w1"),
          element_at(col("__toks"), i + 2).as("w2")))).as("__bg"))
      .select(col("__bg.w1"), col("__bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val pcnt = bcnt.groupBy("w1").agg(sum("n").as("__np"))
    bcnt.join(pcnt, "w1")
      .filter(col("n") >= minCount)
      .select(col("w1"), col("w2"), col("n"),
        Num.roundLike(col("n").cast("double") / col("__np"), 6)
          .as("p_cond"))
  }

  /** Per-document cross-entropy under the corpus's OWN bigram LM — the
    * perplexity-style fluency score large-scale pipelines rank and
    * filter training documents with (a document whose word transitions
    * are rare across the corpus scores high = "surprising"). The model
    * is [[bigramCounts]]' conditional p(w2|w1) = n(w1,w2)/n(w1,·);
    * self-training means every document bigram exists in the model, so
    * no smoothing/OOV branch is needed.
    *
    * Determinism at any partitioning: each bigram's −ln p term is
    * rounded to 6 dp and SCALED TO AN EXACT LONG
    * (floor(−ln(p)·10⁶ + 0.5); −ln p ≥ 0 always), so the per-document
    * sum is integer arithmetic — order-independent across partition
    * counts and engines — and only the final mean is rounded for
    * display. ln itself is the one transcendental: JVM log and libm ln
    * agree to ≤1 ulp on the identical exact-quotient input (same risk
    * class as [[tfidf]], flip window ~1e-9 of a rounding boundary).
    *
    * Scale shape: the two count shuffles are map-side combined and the
    * model side of the scoring join is vocab²-sized (never broadcast —
    * the vocabulary is unbounded at corpus scale; AQE may still choose
    * broadcast when it measures small). The doc-side bigram stream is
    * scored by ONE (w1,w2)-keyed equi-join plus one doc_id groupBy —
    * all linear in corpus tokens. */
  def lmCrossEntropy(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val bg = docs
      .select(col(idCol).as("doc_id"), tokens(lower(col(textCol))).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("__toks")) - 2),
          i => struct(element_at(col("__toks"), i + 1).as("w1"),
            element_at(col("__toks"), i + 2).as("w2")))).as("__bg"))
      .select(col("doc_id"), col("__bg.w1"), col("__bg.w2"))
    val bcnt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("__n"))
    val nll = bcnt.groupBy("w1").agg(sum("__n").as("__np"))
      .join(bcnt, "w1")
      .select(col("w1"), col("w2"),
        floor(-log(col("__n").cast("double") / col("__np")) * 1e6 + lit(0.5))
          .cast("long").as("__nll"))
    bg.join(nll, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__nll")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        Num.roundLike(col("__s") / (col("n_bigrams") * 1e6), 4)
          .as("cross_entropy"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020):
    * rank every document by its LM score ([[lmCrossEntropy]] — low =
    * fluent) and cut the corpus into head / middle / tail quality
    * tiers, the standard pre-filter that keeps "head" for training
    * and drops or down-samples "tail". CCNet cuts at thirds; this
    * cuts head = best quarter, tail = worst quarter, middle = the
    * half between — DYADIC quantile fractions (0.25/0.75), so the
    * type-7 interpolation weights are exact and the cut points are
    * bit-identical cross-engine (the [[Sampling.lengthQuartiles]]
    * determinism argument; the input cross-entropies are already
    * 4-dp-rounded doubles). The two cut points ride a broadcast 1-row
    * aggregate — bucketing adds one tiny percentile shuffle over the
    * per-doc score frame, nothing corpus-quadratic. */
  def perplexityBuckets(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val ce = lmCrossEntropy(docs, idCol, textCol)
    val qs = ce.agg(
      percentile(col("cross_entropy"), lit(0.25)).as("__q1"),
      percentile(col("cross_entropy"), lit(0.75)).as("__q3"))
    ce.crossJoin(broadcast(qs))
      .select(col("doc_id"), col("n_bigrams"), col("cross_entropy"),
        when(col("cross_entropy") <= col("__q1"), lit("head"))
          .when(col("cross_entropy") <= col("__q3"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Feature-hashing text embedding (Weinberger et al. ICML 2009 —
    * the "hash trick"): every lowercased token BIGRAM hashes to a
    * bucket in [0, dim) (md5-prefix mod) carrying a ±1 sign (md5's
    * last hex digit's parity), per-(doc, bucket) sums are EXACT
    * integers, and the dense vector L2-normalizes to 6-dp floats —
    * a model-free dense embedding that plugs the documents table
    * straight into the ANN stack (s1–s10 take any fixed-dim
    * array<float>) with zero external dependencies. The engine story:
    * embed → index → dedup/search runs end-to-end on raw text.
    *
    * Scale shape: map-only bigram explode, ONE map-side-combined
    * shuffle to (doc, bucket) sums, one per-doc re-agg — linear in
    * corpus tokens, like t5. Determinism: integer bucket sums; the
    * L2 norm is one correctly-rounded sqrt of an exact integer; each
    * coordinate one IEEE division rounded at 6 dp — bit-identical
    * cross-engine. Docs with < 2 tokens embed as the ZERO vector (no
    * bigrams — honest, not NaN). Output: (doc_id, embedding). */
  def hashEmbed(docs: DataFrame, dim: Int = 64,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    // Bigrams via zip_with over two slices of a MATERIALIZED token
    // array, NOT transform(sequence, i => element_at(toks, i)):
    // higher-order functions evaluate interpreted, and any outer
    // expression inside the lambda BODY is re-evaluated per element —
    // so element_at(toks, i) re-ran the whole regex tokenization once
    // per token (O(tokens²) per doc, ~3 s of the old 3.5 s at 2000
    // sf0.1 docs; T14Probe, COVERAGE.md). As zip_with ARGUMENTS the slices
    // evaluate once per row, and the explode(array(tokens)) Generate below is
    // a projection boundary CollapseProject cannot cross, so the tokenization
    // itself also runs exactly once per doc instead of once per
    // slice/size reference.
    val toksOf = docs
      .select(col(idCol).as("doc_id"),
        explode(array(tokens(lower(col(textCol))))).as("__t"))
    val t = col("__t")
    val bgs = when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
          (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val contrib = toksOf
      .select(col("doc_id"), explode(bgs).as("__bg"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("__bg")), 1, 12), 16, 10)
          .cast("long"), lit(dim)).as("__b"),
        when(conv(substring(md5(col("__bg")), 32, 1), 16, 10)
          .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L))
          .as("__s"))
      .groupBy("doc_id", "__b").agg(sum(col("__s")).as("__v"))
      // both the dense array AND the L2 norm come out of this
      // aggregation, for two reasons that each cost a bench round to
      // learn (T14Probe, COVERAGE.md):
      // (1) the norm as a later withColumn invited CollapseProject to
      //     inline its fold lambda into EVERY one of the `dim` output
      //     lambdas — an O(dim²) interpreted blowup (~80x:
      //     t14_embed_knn benched 13 s at sf0.1 on 0.2 s of hashing).
      //     Absent buckets contribute 0 to Σv², so the per-bucket sum
      //     of squares IS the full-vector norm — exact integers,
      //     bit-identical either way.
      // (2) assembling the vector as map_from_entries + per-element
      //     element_at made each of the `dim` lookups a linear scan
      //     of the map INSIDE interpreted higher-order-function eval
      //     (no codegen) — `dim` conditional sums are a plain
      //     codegen'd hash aggregate producing a leaf array attribute
      //     nothing can inline or rescan.
      .groupBy("doc_id")
      .agg(array((0 until dim).map(i =>
          coalesce(sum(when(col("__b") === i, col("__v"))), lit(0L))): _*)
          .as("__raw"),
        sqrt(sum(col("__v") * col("__v")).cast("double")).as("__n"))
    docs.select(col(idCol).as("doc_id"))
      .join(contrib, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__n") > 0,
          transform(col("__raw"), x =>
            graft.ext.Num.roundLike(x.cast("double") / col("__n"), 6)
              .cast("float")))
          .otherwise(array_repeat(lit(0.0f), dim)).as("embedding"))
  }

  /** Multinomial Naive Bayes quality classifier — the MODEL-BASED
    * quality-filter stage big-corpus pipelines run after the hand
    * heuristics (GPT-3's reference-corpus classifier, Brown et al.
    * 2020 §A.2; CCNet's LM tiers): a deterministic seed split
    * (doc_id % seedMod == 0) is labeled by the heuristic
    * [[qualityScore]] ≥ threshold, a bag-of-words NB model is trained
    * on it (add-one token smoothing, Laplace class priors), and EVERY
    * document is scored by the learned vocabulary evidence — so the
    * verdict on the 2/3 unlabeled corpus comes from token likelihoods
    * the four hand signals never see.
    *
    * Determinism (the t10 fixed-point argument): every probability is
    * an exact integer quotient (cnt+1)/(tot+V), its −ln is scaled to
    * an exact LONG (floor(·1e6 + 0.5)), and per-document scores are
    * integer sums of (tf × token-nll) — order-independent across
    * partitionings and engines; ln is the one transcendental (1-ulp
    * class, identical exact-quotient input both sides). Labels and
    * margins compare longs, so the argmax can never split on a
    * rounding boundary.
    *
    * Scale shape: training is two map-side-combined count shuffles
    * over the SEED split only; the model is vocab-sized and joined to
    * the corpus token stream by ONE term-keyed equi-join (never
    * broadcast — vocabulary is unbounded at corpus scale, AQE may
    * still pick broadcast when it measures small); scoring is one
    * per-doc integer-sum aggregation. The only crosses are 1-row
    * prior/total aggregates riding broadcasts. Linear in corpus
    * tokens end-to-end. */
  def nbQualityClassifier(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", seedMod: Int = 3,
                          threshold: Double = 0.72): DataFrame =
    nbScore(docs, nbTrain(docs, idCol, textCol, seedMod, threshold),
      idCol, textCol)

  /** A trained NB quality model: `model` is the vocab-sized
    * (term, −ln P(term|class)) frame; `tot` and `pri` are 1-row
    * class-total and prior frames. Frozen and reusable — the serving
    * split [[nbScore]] (and the e16 streaming twin) score against. */
  final case class NbModel(model: DataFrame, tot: DataFrame, pri: DataFrame)

  private def nbNll(num: Column, den: Column): Column =
    floor(-log(num.cast("double") / den.cast("double")) * 1e6 + lit(0.5))
      .cast("long")

  /** The training half of [[nbQualityClassifier]]: label the
    * deterministic seed split with the heuristic, build the add-one
    * model. Two map-side-combined count shuffles over the seed split
    * only. */
  def nbTrain(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", seedMod: Int = 3,
              threshold: Double = 0.72): NbModel = {
    val seed = docs
      .select(col(idCol).as("doc_id"),
        tokens(lower(col(textCol))).as("__toks"),
        qualityScore(col(textCol)).as("__q"))
      .filter(col("doc_id") % seedMod === 0)
      .select(col("doc_id"),
        when(col("__q") >= threshold, lit("pos")).otherwise(lit("neg"))
          .as("__cls"),
        col("__toks"))
    // Laplace priors (Nc+1)/(N+2): a one-sided seed never hits ln(0)
    val pri = seed.agg(
      sum(when(col("__cls") === "pos", 1L).otherwise(0L)).as("__np"),
      count(lit(1)).as("__n"))
    // (term, class) occurrence counts, pivoted by conditional sums —
    // the oracle replays the identical FILTER-aggregate shape
    val tcnt = seed
      .select(col("__cls"), explode(col("__toks")).as("__term"))
      .groupBy("__term")
      .agg(sum(when(col("__cls") === "pos", 1L).otherwise(0L)).as("__cp"),
        sum(when(col("__cls") === "neg", 1L).otherwise(0L)).as("__cn"))
    val tot = tcnt.agg(sum("__cp").as("__tp"), sum("__cn").as("__tn"),
      count(lit(1)).as("__v"))
    val model = tcnt.crossJoin(broadcast(tot))
      .select(col("__term"),
        nbNll(col("__cp") + 1L, col("__tp") + col("__v")).as("__nllp"),
        nbNll(col("__cn") + 1L, col("__tn") + col("__v")).as("__nlln"))
    NbModel(model, tot, pri)
  }

  /** The scoring half of [[nbQualityClassifier]]: per-document integer
    * evidence sums against a frozen [[NbModel]]. Scores depend only on
    * the document and the model — batch splits, ordering, and replay
    * can't change them, which is what makes the streaming twin's
    * oracle the batch classifier verbatim. One term-keyed equi-join +
    * one per-doc aggregation over the scored frame. */
  def nbScore(docs: DataFrame, m: NbModel, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      tokens(lower(col(textCol))).as("__toks"))
    val dtf = base
      .select(col("doc_id"), explode(col("__toks")).as("__term"))
      .groupBy("doc_id", "__term").agg(count(lit(1)).as("__tf"))
    val sums = dtf.join(m.model, Seq("__term"), "left")
      .crossJoin(broadcast(m.tot))
      .select(col("doc_id"), col("__tf"),
        // OOV smoothing mass 1/(totc+V) — same scaled-ln arithmetic
        coalesce(col("__nllp"),
          nbNll(lit(1L), col("__tp") + col("__v"))).as("__op"),
        coalesce(col("__nlln"),
          nbNll(lit(1L), col("__tn") + col("__v"))).as("__on"))
      .groupBy("doc_id")
      .agg(sum(col("__tf") * col("__op")).as("__sp"),
        sum(col("__tf") * col("__on")).as("__sn"))
    base.select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"))
      .join(sums, Seq("doc_id"), "left")
      .crossJoin(broadcast(m.pri))
      .select(col("doc_id"), col("n_tokens"),
        (coalesce(col("__sp"), lit(0L)) +
          nbNll(col("__np") + 1L, col("__n") + 2L)).as("score_pos"),
        (coalesce(col("__sn"), lit(0L)) +
          nbNll(col("__n") - col("__np") + 1L, col("__n") + 2L)).as("score_neg"))
      .withColumn("nb_label",
        when(col("score_pos") <= col("score_neg"), lit("pos"))
          .otherwise(lit("neg")))
  }

  /** Corpus-novelty scoring — the per-document fraction of DISTINCT
    * 3-token shingles that occur in NO other document: the curation
    * signal dual to the repetition family (t5/t6 measure what a doc
    * repeats; this measures what the CORPUS repeats of the doc —
    * near-1 means fresh content, near-0 means the doc is assembled
    * from corpus-common text, the memorization-risk shape of Lee et
    * al. 2022's duplicate-text analysis, arXiv:2107.06499 §5).
    * Shingles are [[Dedup.shingles]]' exact d2 construction, so the
    * score is consistent with what the MinHash lanes band on.
    *
    * Scale shape: shingle fan-out, ONE map-side-combined df count
    * over the uniform shingle key, one shingle-keyed equi-join back,
    * one per-doc re-agg — [[Dedup.blockDedup]]'s linear corpus shape.
    * The ratio divides two exact longs and rounds to 4dp (the t2
    * convention), so the hash is stable in any IEEE engine. */
  def noveltyScore(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    // two-step projection (the lshBands shape): tokenize FIRST, then
    // shingle the materialized column — the single-expression
    // Dedup.shingles form inlines the tokenizer into every lambda
    // position (the swept HOF re-evaluation hazard; measured 10.9 s →
    // ~1 s on the sf0.1 bench lane)
    val ex = docs
      .select(col(idCol).as("doc_id"),
        tokens(lower(col(textCol))).as("__toks"))
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shinglesOfTokens(col("__toks"))))
          .as("__s"))
    val df = ex.groupBy("__s").agg(count(lit(1)).as("__df"))
    ex.join(df, Seq("__s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", Num.roundLike(
        col("n_novel").cast("double") / col("n_shingles"), 4))
  }

  /** Trigram-concatenated derived corpus — each token position becomes
    * the concatenation of its word trigram (w·w₊₁·w₊₂). The synthetic
    * documents table has a ~31-word vocabulary that BPE exhausts after
    * ~107 merges; this deterministic derivation yields tens of
    * thousands of distinct 10-24 char words with a Zipf-ish frequency
    * profile — the shape a real tokenizer trains on — which is what
    * lets the t16_bpe_train_448 lane certify the one-task trainer at
    * a merge count the 12-round gate lane cannot (r12 verdict #5). The
    * token stream is the [[tokens]]-over-lowered-text frame the BPE
    * oracle already pins; trigrams are formed by index over that
    * array (two selects — the d2 shingle lesson: a HOF lambda
    * re-evaluates inlined expressions per element). */
  def trigramDocs(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    Widen.widened(docs) // single-file scan -> one task for a 3x char
      .select(col(idCol).as("doc_id"), // fan-out + the downstream
        tokens(lower(col(textCol))).as("__toks")) // word-count explode
      .select(col("doc_id"),
        concat_ws(" ", when(size(col("__toks")) >= 3,
          transform(sequence(lit(0), size(col("__toks")) - 3),
            i => concat(col("__toks").getItem(i),
              col("__toks").getItem(i + 1),
              col("__toks").getItem(i + 2))))
          .otherwise(array().cast("array<string>"))).as("text"))

  /** BPE merge-table training (Sennrich et al. 2016, arXiv:1508.07909)
    * — TRUE byte-pair-encoding induction, not the [[bpeishTokenCount]]
    * boundary proxy: each round counts all adjacent symbol pairs
    * weighted by word frequency, picks the most frequent (ties broken
    * by (lhs, rhs) binary order — deterministic), and merges it
    * greedily left-to-right in every word. Words carry a terminal
    * `</w>` symbol, so end-of-word units learn separately from
    * mid-word units, as in the original algorithm.
    *
    * The merge step is the novelty: a word's symbol sequence is kept
    * as ONE delimiter-wrapped string (`|l||o||w||</w>|`), and merging
    * pair (a,b) is the plain non-overlapping left-to-right string
    * `replace("|a||b|" → "|ab|")` — which IS greedy BPE merge
    * semantics, including the floor(run/2) parity on same-symbol runs
    * (`|a||a||a|` → `|aa||a|`), because replace resumes scanning after
    * each match. One codegen'd string op per round; no per-symbol
    * explode, no window, no fold. The identical replace runs in the
    * DuckDB oracle, so the whole training loop macro-expands to SQL.
    * Contract: the delimiter `|` must not appear inside a token —
    * offending words are dropped from training and tokenization alike.
    *
    * Scale shape: training runs on the DISTINCT-WORD frequency frame
    * (the standard BPE trick — vocab-bounded, corpus-size-independent
    * after the initial word count, which is one map-side-combined
    * shuffle over corpus tokens). Per round: a pair-count aggregation
    * over vocab rows, a TakeOrdered(1) for the best pair (the only
    * driver collect — 1 row), and one string replace; the words frame
    * is localCheckpoint'd per round to keep lineage flat. */
  def bpeTrain(docs: DataFrame, rounds: Int = 12, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val (merges, _) = bpeCore(docs, rounds, textCol)
    val spark = docs.sparkSession
    import spark.implicits._
    merges.toDF("merge_round", "lhs", "rhs", "merged", "pair_count")
  }

  /** [[bpeTrain]] forced through the relational per-round loop — the
    * t16_bpe_train_dist regime pin (same oracle as the one-task path,
    * the a6/g6/r3 bit-identity pattern). */
  def bpeTrainDist(docs: DataFrame, rounds: Int = 12,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val (merges, _) = bpeCore(docs, rounds, textCol, localMaxWords = 0L)
    val spark = docs.sparkSession
    import spark.implicits._
    merges.toDF("merge_round", "lhs", "rhs", "merged", "pair_count")
  }

  /** Tokenize the corpus under a [[bpeTrain]]-induced vocabulary:
    * per-document word count and BPE-token count (the post-merge
    * symbol count summed over the doc's words). Corpus-sized work is
    * ONE term-keyed equi-join of the doc word stream against the
    * trained vocab frame — the vocab is corpus-dependent, so it is
    * not broadcast by construction (AQE may when it measures small).
    * Zero-token docs emit no row, like the other tokenizing lanes. */
  def bpeTokenize(docs: DataFrame, rounds: Int = 12,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    bpeTokenizeServed(docs, bpeCore(docs, rounds, textCol)._2,
      idCol, textCol)

  /** Persist a trained BPE vocabulary (word, wcount, wstr) — the
    * tokenizer's serving snapshot ([[graft.ext.Retrieval.writeBm25Index]]
    * lifecycle): train once, write, and every downstream tokenize
    * call is ONE vocab join against the reopened frame — no
    * retraining. */
  def writeBpeVocab(docs: DataFrame, dir: String, rounds: Int = 12,
                    idCol: String = "doc_id",
                    textCol: String = "text"): Unit =
    bpeCore(docs, rounds, textCol)._2
      .write.mode("overwrite").parquet(dir)

  def openBpeVocab(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame = spark.read.parquet(dir)

  /** The serving half of [[bpeTokenize]]: per-doc word/BPE-token
    * counts against an already-trained vocab frame (word, wstr). */
  def bpeTokenizeServed(docs: DataFrame, vocab: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val nsyms = vocab.select(col("word"),
      size(split(expr("substring(wstr, 2, length(wstr) - 2)"), "\\|\\|"))
        .cast("long").as("__nsyms"))
    docs.select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("word"))
      .filter(!col("word").contains("|"))
      .join(nsyms, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("__nsyms")).as("n_bpe_tokens"))
  }

  /** Regime cutoff for the BPE trainer: a distinct-word frame at or
    * under this many rows trains in ONE task ([[BpeLocal]] — lazy-heap
    * incremental pair counts, no per-round Spark jobs); above it the
    * relational per-round loop runs. The word-frequency table is
    * vocab-bounded (corpus-size-INDEPENDENT after the one word-count
    * shuffle — English web corpora plateau at a few million distinct
    * words at any corpus size), so the local regime is the realistic
    * path at every scale; the relational loop remains the spill-safe
    * fallback for pathological vocabularies and is pinned by
    * t16_bpe_train_dist on the same oracle. */
  val BpeLocalMaxWords: Long = 2000000L

  /** Shared trainer: returns the learned merges and the final words
    * frame (word, wcount, wstr). */
  private def bpeCore(docs: DataFrame, rounds: Int, textCol: String,
                      localMaxWords: Long = BpeLocalMaxWords)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val wordFreq = docs
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .filter(!col("word").contains("|"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))
      .localCheckpoint()
    if (wordFreq.count() <= localMaxWords) {
      // one-task regime: the whole merge loop runs inside a single
      // mapPartitions over the vocab frame; merges and final word
      // states come back as one tagged frame (one job, checkpointed)
      // and split driver-side — bit-identical to the rounds below
      // (BpeLocal scaladoc lists the four pinned invariants)
      val sp = docs.sparkSession
      import sp.implicits._
      val tagged = wordFreq.as[(String, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val (ms, ws) = BpeLocal.train(it, rounds)
          ms.iterator.map(m =>
            ("m", m._1, m._2, m._3, m._4, m._5, null: String, 0L,
              null: String)) ++
            ws.iterator.map(w =>
              ("w", 0L, null: String, null: String, null: String, 0L,
                w._1, w._2, w._3))
        }
        .toDF("kind", "mround", "lhs", "rhs", "merged", "pcount",
          "word", "wcount", "wstr")
        .localCheckpoint()
      val merges = tagged.filter(col("kind") === "m")
        .orderBy("mround").collect()
        .map(r => (r.getLong(1), r.getString(2), r.getString(3),
          r.getString(4), r.getLong(5))).toSeq
      val words = tagged.filter(col("kind") === "w")
        .select(col("word"), col("wcount"), col("wstr"))
      return (merges, words)
    }
    var words = wordFreq
      .select(col("word"), col("wcount"),
        concat(lit("|"), array_join(concat(
            transform(sequence(lit(1), length(col("word"))),
              i => col("word").substr(i, lit(1))),
            array(lit("</w>"))), "||"), lit("|")).as("wstr"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val syms = split(expr("substring(wstr, 2, length(wstr) - 2)"),
        "\\|\\|")
      val best = words
        .select(col("wcount"),
          explode(zip_with(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wcount")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, a, b, a + b, c))
        words = words.withColumn("wstr",
            replace(col("wstr"), lit(s"|$a||$b|"), lit(s"|$a$b|")))
          .localCheckpoint()
        r += 1
      }
    }
    (merges.result(), words)
  }
}
