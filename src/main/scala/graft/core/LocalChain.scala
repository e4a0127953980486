package graft.core

import org.apache.spark.unsafe.types.UTF8String

/** One-task replay of the seeded randomization chain for the BOUNDED
  * regime — the per-replica body of [[Chas.randomizeTagged]].
  *
  * The distributed chain (window pairing + fused key audit per round)
  * is the giant-graph shape; on a bounded edge set every round is a
  * handful of near-empty stages whose cost is scheduling, not work.
  * Replicas are fully independent (the pairing window partitions by
  * replica and the audit is per-replica), so Chas routes bounded inputs
  * through `groupByKey((replica, group)).flatMapGroups` and each task
  * runs its group's whole chain here, in arrays.
  *
  * EXACTNESS CONTRACT: this is the same chain, step for step — the
  * DuckDB oracle replays the rounds as SQL CTEs and the result is
  * hash-pinned, so every detail below mirrors the DataFrame version
  * bit-for-bit (ChasSpec asserts local == distributed on whole result
  * sets; the sf1 slice pins the 5.49M-row chain):
  *  - h = md5 of "src|dst|replica|<seed + 1000003*round>"; the pairing
  *    sorts by the hash's HEX-STRING order, which equals unsigned
  *    128-bit order of the digest — compared here as two unsigned
  *    longs, no hex string ever materializes
  *  - 16-way salt = first hex char = the digest's top nibble; pairing
  *    sorts (h, src, dst) within (bin, salt) and pairs adjacent rows
  *    (odd leftover passes through); src/dst ties compare in
  *    UTF8String binary order — precomputed as an int rank over the
  *    replica's (fixed) id universe
  *  - a proposal is pre-valid if it makes no self-loop and the two
  *    minted keys differ; minted keys are audited against the current
  *    edge set OF THE SAME GROUP (the tag part of the bin — each
  *    tagged subnet is its own graph) and against same-round
  *    double-mints in that group — any hit rejects every minter of
  *    the key. Keys are canonical unordered id pairs — equality-only
  *    use, so the interned (min idx, max idx) packed long IS the key
  *  - accepted pairs emit the swapped endpoints, rejected pairs their
  *    originals, all within the pair's (replica, bin)
  *
  * Constants matter at millions of rows per replica: ids and bins are
  * interned to ints once (swaps only permute EXISTING endpoints, so
  * the universe is fixed up front), the per-round sort compares two
  * longs + two ints instead of a 32-char hex string + two id strings,
  * and the audit hashes packed longs instead of building two strings
  * per key probe. UTF8String binary order for ids is precomputed once
  * via an allocation-free ASCII fast path that matches UTF8String
  * exactly for code points < 0x80 (fragment ids are ASCII by
  * construction; anything else falls back to a real UTF8String
  * compare).
  */
private[graft] object LocalChain {

  /** UTF8String binary order without the per-call allocations: for
    * ASCII (all ids in this engine) UTF-16 code-unit order equals
    * UTF-8 byte order, so compare chars and only fall back to real
    * UTF8String comparison when a non-ASCII char decides. */
  private[graft] def bcmp(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i); val cb = b.charAt(i)
      if (ca != cb) {
        return if (ca < 0x80 && cb < 0x80) ca - cb
        else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
      }
      i += 1
    }
    a.length - b.length
  }

  /** Per-thread MessageDigest for the parallel hash phase (MD5
    * instances are not thread-safe; one per pool thread, reused). */
  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Run the whole chain for one replica (or one (replica, group)
    * slice — pairing is bin-scoped and the audit group-scoped, so a
    * group's chain is independent of every other group's); emits
    * (replica, bin, src, dst) rows of the final edge set. */
  def runReplica(replica: Int, base: Iterator[(String, String, String)],
                 seed: Long, rounds: Int)
      : Iterator[(Int, String, String, String)] = {
    // intern ids and bins once: swaps permute existing endpoints only,
    // so both universes are fixed up front and all per-round state is
    // int/long arrays
    val idIdx = new java.util.HashMap[String, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[String]()
    def idOf(s: String): Int = {
      val got = idIdx.get(s)
      if (got != null) got.intValue()
      else { val i = ids.length; idIdx.put(s, i); ids += s; i }
    }
    val binIdx = new java.util.HashMap[String, Integer]()
    val bins = new scala.collection.mutable.ArrayBuffer[String]()
    // group id per bin: the audit is scoped to the tag part of the bin
    // (prefix before the first '|'; the whole bin when absent) — same
    // prefix rule as the distributed audit's substring_index and the
    // oracle's split_part
    val grpIdx = new java.util.HashMap[String, Integer]()
    val grpOfBin = new scala.collection.mutable.ArrayBuffer[Int]()
    var srcA = new Array[Int](1024)
    var dstA = new Array[Int](1024)
    var binA = new Array[Int](1024)
    var nE = 0
    base.foreach { case (s, d, b) =>
      var bi = binIdx.get(b)
      if (bi == null) {
        bi = bins.length; binIdx.put(b, bi); bins += b
        val cut = b.indexOf('|')
        val g = if (cut < 0) b else b.substring(0, cut)
        var gi = grpIdx.get(g)
        if (gi == null) { gi = grpIdx.size(); grpIdx.put(g, gi) }
        grpOfBin += gi.intValue()
      }
      if (nE == srcA.length) {
        srcA = java.util.Arrays.copyOf(srcA, nE * 2)
        dstA = java.util.Arrays.copyOf(dstA, nE * 2)
        binA = java.util.Arrays.copyOf(binA, nE * 2)
      }
      srcA(nE) = idOf(s); dstA(nE) = idOf(d); binA(nE) = bi.intValue()
      nE += 1
    }
    val nIds = ids.length
    // UTF8-order rank per interned id (the sort tie-break)
    val byOrder = Array.range(0, nIds)
      .sortWith((a, b) => bcmp(ids(a), ids(b)) < 0)
    val rank = new Array[Int](nIds)
    var i = 0
    while (i < nIds) { rank(byOrder(i)) = i; i += 1 }
    val grps = grpOfBin.toArray
    val nGrps = grpIdx.size()
    val st = new State(ids.toArray, rank, bins.length, grps, nGrps)
    var src = java.util.Arrays.copyOf(srcA, nE)
    var dst = java.util.Arrays.copyOf(dstA, nE)
    var bin = java.util.Arrays.copyOf(binA, nE)
    var r = 0
    while (r < rounds) {
      val next = round(st, src, dst, bin, replica, seed, r)
      src = next._1; dst = next._2; bin = next._3
      r += 1
    }
    val binsA = bins.toArray
    val idsA = st.ids
    Iterator.range(0, src.length).map(e =>
      (replica, binsA(bin(e)), idsA(src(e)), idsA(dst(e))))
  }

  /** Immutable per-replica context threaded through the rounds. */
  private final class State(val ids: Array[String], val rank: Array[Int],
                            val nBins: Int, val grpOfBin: Array[Int],
                            val nGrps: Int)

  /** Canonical unordered pair of interned ids as one long —
    * equality-only use (set membership), so any injective encoding of
    * the unordered pair works; no string order needed. */
  @inline private def pairKey(a: Int, b: Int): Long =
    if (a <= b) (a.toLong << 32) | (b.toLong & 0xffffffffL)
    else (b.toLong << 32) | (a.toLong & 0xffffffffL)

  /** Occurrence counts keyed by non-negative longs (packed id pairs),
    * open addressing with linear probing under `fmix64`:
    * `Long.hashCode` of a packed pair is `a ^ b`, so boxed hash maps
    * pile node pairs into a few treeified buckets. At most `capacity`
    * distinct keys; the table stays at most half full. */
  private final class LongCounts(capacity: Int) {
    private val mask = Integer.highestOneBit(math.max(2, capacity) * 2 - 1) * 2 - 1
    private val keys = Array.fill(mask + 1)(-1L)
    private val counts = new Array[Int](mask + 1)
    private def slot(k: Long): Int = {
      var h = k
      h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
      h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
      var i = (h ^ (h >>> 33)).toInt & mask
      while (keys(i) != -1L && keys(i) != k) i = (i + 1) & mask
      i
    }
    def add(k: Long): Unit = { val i = slot(k); keys(i) = k; counts(i) += 1 }
    def count(k: Long): Int = { val i = slot(k); if (keys(i) == k) counts(i) else 0 }
  }

  private def round(st: State, src: Array[Int], dst: Array[Int],
                    bin: Array[Int], replica: Int, seed: Long, r: Int)
      : (Array[Int], Array[Int], Array[Int]) = {
    val nE = src.length
    val nBins = st.nBins
    val ids = st.ids
    val rank = st.rank
    val lit = "|" + replica + "|" + (seed + 1000003L * r)
    // 1a. seeded hash per row — PARALLEL over the common ForkJoin pool:
    // pure function of the row, index-disjoint writes. The md5 digest
    // is kept as two big-endian longs; hex-string order == unsigned
    // 128-bit order, so no hex string is built. Salt = top nibble of
    // byte 0 (= first hex char).
    val h1 = new Array[Long](nE)
    val h2 = new Array[Long](nE)
    val salt = new Array[Byte](nE)
    java.util.stream.IntStream.range(0, nE).parallel().forEach { i =>
      val md = tlMd.get()
      md.reset()
      val d = md.digest((ids(src(i)) + "|" + ids(dst(i)) + lit)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var a = 0L; var b = 0L
      var j = 0
      while (j < 8) { a = (a << 8) | (d(j) & 0xffL); j += 1 }
      while (j < 16) { b = (b << 8) | (d(j) & 0xffL); j += 1 }
      h1(i) = a; h2(i) = b
      salt(i) = ((d(0) >> 4) & 0xF).toByte
    }
    // 1b. group rows by (salt, bin) — growable int arrays, no boxing
    val groups = new Array[Array[Int]](16 * nBins)
    val gLen = new Array[Int](16 * nBins)
    var i = 0
    while (i < nE) {
      val k = salt(i) * nBins + bin(i)
      var g = groups(k)
      if (g == null) { g = new Array[Int](8); groups(k) = g }
      else if (gLen(k) == g.length) {
        g = java.util.Arrays.copyOf(g, g.length * 2); groups(k) = g
      }
      g(gLen(k)) = i; gLen(k) += 1
      i += 1
    }
    // 2a. sort each group by (h unsigned-128, rank(src), rank(dst)) —
    // PARALLEL: groups are disjoint, comparator reads shared arrays
    java.util.stream.IntStream.range(0, groups.length).parallel()
      .forEach { k =>
        val g = groups(k)
        if (g != null && gLen(k) > 1) {
          val boxed = new Array[Integer](gLen(k))
          var j = 0
          while (j < gLen(k)) { boxed(j) = g(j); j += 1 }
          java.util.Arrays.sort(boxed, (x: Integer, y: Integer) => {
            val xi = x.intValue(); val yi = y.intValue()
            var c = java.lang.Long.compareUnsigned(h1(xi), h1(yi))
            if (c == 0) c = java.lang.Long.compareUnsigned(h2(xi), h2(yi))
            if (c == 0) c = Integer.compare(rank(src(xi)), rank(src(yi)))
            if (c == 0) c = Integer.compare(rank(dst(xi)), rank(dst(yi)))
            c
          })
          j = 0
          while (j < gLen(k)) { g(j) = boxed(j).intValue(); j += 1 }
        }
      }
    // 2b. pair adjacent rows — serial, in group order (same pairs, same
    // order as the window form). Pair fields: bin, left src/dst, right
    // src/dst (-1 right = odd leftover).
    val nPairs = {
      var t = 0; var k = 0
      while (k < groups.length) { t += (gLen(k) + 1) / 2; k += 1 }
      t
    }
    val pBin = new Array[Int](nPairs)
    val pLs = new Array[Int](nPairs); val pLd = new Array[Int](nPairs)
    val pRs = new Array[Int](nPairs); val pRd = new Array[Int](nPairs)
    var np = 0
    var k = 0
    while (k < groups.length) {
      val g = groups(k)
      var j = 0
      while (j < gLen(k)) {
        val a = g(j)
        pBin(np) = bin(a); pLs(np) = src(a); pLd(np) = dst(a)
        if (j + 1 < gLen(k)) {
          val b = g(j + 1)
          pRs(np) = src(b); pRd(np) = dst(b)
        } else { pRs(np) = -1; pRd(np) = -1 }
        np += 1
        j += 2
      }
      k += 1
    }
    // 3. fused key audit, scoped per group: a pre-valid pair is
    // rejected when either key it mints is a current edge of its group
    // or is minted more than once in that group this round. Keys are
    // packed unordered id pairs (equality-only), counted in primitive
    // tables sized up front.
    val edgesIn = new Array[Int](st.nGrps)
    i = 0
    while (i < nE) { edgesIn(st.grpOfBin(bin(i))) += 1; i += 1 }
    val existing = Array.tabulate(st.nGrps)(g => new LongCounts(edgesIn(g)))
    i = 0
    while (i < nE) {
      existing(st.grpOfBin(bin(i))).add(pairKey(src(i), dst(i)))
      i += 1
    }
    @inline def pre(q: Int): Boolean =
      pRs(q) >= 0 && pLs(q) != pRd(q) && pRs(q) != pLd(q) &&
        pairKey(pLs(q), pRd(q)) != pairKey(pRs(q), pLd(q))
    val mintsIn = new Array[Int](st.nGrps)
    var q = 0
    while (q < nPairs) {
      if (pre(q)) mintsIn(st.grpOfBin(pBin(q))) += 2
      q += 1
    }
    val minted = Array.tabulate(st.nGrps)(g => new LongCounts(mintsIn(g)))
    q = 0
    while (q < nPairs) {
      if (pre(q)) {
        val m = minted(st.grpOfBin(pBin(q)))
        m.add(pairKey(pLs(q), pRd(q))); m.add(pairKey(pRs(q), pLd(q)))
      }
      q += 1
    }
    val bad = new Array[Boolean](nPairs)
    q = 0
    while (q < nPairs) {
      if (pre(q)) {
        val g = st.grpOfBin(pBin(q))
        @inline def hit(k: Long) =
          existing(g).count(k) > 0 || minted(g).count(k) > 1
        bad(q) = hit(pairKey(pLs(q), pRd(q))) || hit(pairKey(pRs(q), pLd(q)))
      }
      q += 1
    }
    // 4. emit
    val oSrc = new Array[Int](nE)
    val oDst = new Array[Int](nE)
    val oBin = new Array[Int](nE)
    var o = 0
    q = 0
    while (q < nPairs) {
      if (pRs(q) < 0) {
        oSrc(o) = pLs(q); oDst(o) = pLd(q); oBin(o) = pBin(q); o += 1
      } else if (pre(q) && !bad(q)) {
        oSrc(o) = pLs(q); oDst(o) = pRd(q); oBin(o) = pBin(q); o += 1
        oSrc(o) = pRs(q); oDst(o) = pLd(q); oBin(o) = pBin(q); o += 1
      } else {
        oSrc(o) = pLs(q); oDst(o) = pLd(q); oBin(o) = pBin(q); o += 1
        oSrc(o) = pRs(q); oDst(o) = pRd(q); oBin(o) = pBin(q); o += 1
      }
      q += 1
    }
    (oSrc, oDst, oBin)
  }
}
