package graft.functions

import scala.util.hashing.MurmurHash3

/** Tight-loop signature kernels for the dedup operators, exposed as UDFs
  * by graft.dedup.Dedup. One pass over the token/shingle array per
  * document — replaces higher-order-function formulations whose per-
  * element interpreted lambdas dominated the dedup stage (measured 5-10×
  * on the sf0.1 corpus). The hashes are MurmurHash3 (deterministic across
  * JVMs/partitions; no runtime entropy anywhere). */
object Signatures extends Serializable {

  val P: Long = 2147483647L // 2^31-1

  /** Word n-gram shingle hashes in one pass (shingle strings are never
    * materialized — the hash of the joined window is computed directly). */
  def shingleHashes(toks: Seq[String], n: Int): Array[Long] = {
    val arr = toks.toArray
    if (arr.length < n) return Array.empty
    Array.tabulate(arr.length - n + 1) { i =>
      var h = 0x9747b28c
      var j = 0
      while (j < n) { h = MurmurHash3.mix(h, arr(i + j).hashCode); j += 1 }
      (MurmurHash3.finalizeHash(h, n) & 0x7fffffff).toLong
    }
  }

  /** MinHash band hashes straight from raw tokens: shingle + minhash in
    * one pass, no intermediate arrays through the expression layer.
    * Zero-shingle docs (shorter than the shingle width — common at web
    * scale) return NO bands: with the sentinel sigs they would all share
    * one identical band hash and collapse into a single quadratic
    * mega-bucket. */
  def minhashBandsFromTokens(toks: Seq[String], shingleN: Int,
                             numHashes: Int, bands: Int): Array[Int] = {
    val hs = shingleHashes(toks, shingleN)
    if (hs.isEmpty) return Array.empty
    val sigs = Array.fill(numHashes)(Long.MaxValue)
    var k = 0
    while (k < hs.length) {
      val h = hs(k)
      var j = 0
      while (j < numHashes) {
        val v = ((2L * j + 1) * h + (j * 40503L + 1) % P) % P
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
      k += 1
    }
    val rows = numHashes / bands
    Array.tabulate(bands) { b =>
      MurmurHash3.orderedHash(
        (b * rows until (b + 1) * rows).map(sigs), 0x85ebca6b)
    }
  }

  /** Whitespace tokens, empties dropped, first-occurrence distinct —
    * value-identical to array_distinct(filter(split(text,' '), _ != ''))
    * but a single tight pass (matters when a join broadcasts the token
    * side: broadcast builds run single-threaded, where interpreted
    * higher-order lambdas are 30×+ slower than this loop). */
  def distinctTokens(text: String): Array[String] = {
    val out = new java.util.LinkedHashSet[String]()
    splitTokens(text).foreach(out.add)
    out.toArray(new Array[String](out.size))
  }

  /** Distinct word n-gram STRINGS (space-joined, first-occurrence
    * order) in one pass — the portable join key for contamination
    * checks, where the oracle needs the literal n-gram. The SQL-lambda
    * formulation (transform(sequence…) with n element_at calls per
    * window) runs interpreted per element and dominated q56's stage
    * (profiled 13 s → sub-second at sf0.1). */
  def distinctNgrams(text: String, n: Int): Array[String] = {
    val toks = splitTokens(text)
    if (toks.length < n) return Array.empty
    val out = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    out.toArray(new Array[String](out.size))
  }

  /** Token separator set: ASCII whitespace {space, tab, LF, CR} — the
    * explicit class both regex engines (java.util.regex and DuckDB's
    * RE2) agree on byte for byte ([ \t\n\r]+; `\s` is avoided because
    * Java's includes \x0B and RE2's doesn't). Unicode spaces (NBSP
    * U+00A0, ideographic U+3000, …) deliberately ride INSIDE tokens in
    * both engines — tested behavior on the Unicode fixture, not an
    * accident. Shared by this kernel, [[graft.text.TextAnalysis.tokens]]
    * and every oracle twin via [[TokenSepRegex]]. */
  @inline def isTokenSep(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** The separator class as a regex, for Spark `split` and DuckDB
    * `string_split_regex` — identical semantics verified on the
    * Unicode fixture (UnicodeParity queries). */
  val TokenSepRegex = "[ \\t\\n\\r]+"

  /** Whitespace tokens, empties dropped, duplicates kept (split parity —
    * n-gram windows need the raw sequence, not the distinct set). The
    * ONE tokenization loop — distinctTokens and every n-gram kernel
    * derive from it, so split semantics can never drift apart. Null
    * text (legal in the parquet schema) tokenizes to nothing, matching
    * string_split(NULL)'s row-drop on the oracle side. Separators are
    * the [[isTokenSep]] class; scanning UTF-16 units is safe because no
    * separator is a surrogate half, so multi-unit codepoints can never
    * be split. */
  def splitTokens(text: String): Array[String] = {
    if (text == null) return Array.empty
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && isTokenSep(text.charAt(i))) i += 1
      val start = i
      while (i < n && !isTokenSep(text.charAt(i))) i += 1
      if (i > start) out += text.substring(start, i)
    }
    out.toArray
  }

  /** Sorted distinct shingle-hash set — the verification-side content
    * signature for MinHash candidates. */
  def sortedShingleHashSet(toks: Seq[String], n: Int): Array[Long] = {
    val hs = shingleHashes(toks, n)
    java.util.Arrays.sort(hs)
    // in-place dedup of the sorted array
    if (hs.isEmpty) hs
    else {
      var w = 1
      var i = 1
      while (i < hs.length) {
        if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(hs, w)
    }
  }

  /** Distinct tokens of a text as a sorted array of 64-bit hashes (two
    * murmur32 seeds combined — collision odds ~1e-15 per pair, far below
    * anything that could perturb an oracle-checked count). */
  def sortedTokenHashSet(text: String): Array[Long] = {
    val toks = distinctTokens(text)
    val hs = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      hs(i) = (MurmurHash3.stringHash(t, 0xe6546b64).toLong << 32) |
        (MurmurHash3.stringHash(t, 0xc2b2ae35).toLong & 0xffffffffL)
      i += 1
    }
    java.util.Arrays.sort(hs)
    hs // distinct input → distinct hashes (modulo ~1e-15 collisions)
  }

  /** Intersection size of two sorted distinct long arrays (two-pointer). */
  def intersectSorted(a: Seq[Long], b: Seq[Long]): Long = {
    val x = a.toArray
    val y = b.toArray
    var i = 0
    var j = 0
    var inter = 0L
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    inter
  }

  /** Exact Jaccard of two sorted distinct long arrays (two-pointer). */
  def jaccardSorted(a: Seq[Long], b: Seq[Long]): Double = {
    val x = a.toArray
    val y = b.toArray
    var i = 0
    var j = 0
    var inter = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    val union = x.length + y.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** All i<j member pairs of one SimHash piece bucket within
    * `maxHamming`, as a LAZY iterator — members arrive as packed
    * [doc_id, sig] arrays; Hamming computed once per pair here, not per
    * join row, and a hot bucket streams its pairs through flatMap
    * instead of materializing an O(n²) array. */
  def bucketPairsHammingIter(members: Seq[Seq[Long]],
                             maxHamming: Int): Iterator[(Long, Long, Int)] = {
    val m = members.toArray.sortBy(_.head)
    for {
      i <- Iterator.range(0, m.length)
      j <- Iterator.range(i + 1, m.length)
      if m(i).head != m(j).head
      h = java.lang.Long.bitCount(m(i)(1) ^ m(j)(1))
      if h <= maxHamming
    } yield (m(i).head, m(j).head, h)
  }

  /** All i<j pairs of a bucket's (sorted, distinct) member ids. Quadratic
    * within a bucket by design: LSH bucket members are candidate
    * duplicates of each other. */
  def bucketPairs(ids: Seq[Long]): Array[(Long, Long)] = {
    val s = ids.distinct.sorted.toArray
    val out = Array.newBuilder[(Long, Long)]
    var i = 0
    while (i < s.length) {
      var j = i + 1
      while (j < s.length) { out += ((s(i), s(j))); j += 1 }
      i += 1
    }
    out.result()
  }

  // ---------------- engine-portable kernels (exact SQL mirrors exist) —
  // unlike the Murmur-based kernels above, every operation here is
  // integer arithmetic a SQL engine reproduces bit-for-bit, so queries
  // built on these are DuckDB-oracle-checkable end to end. Constants are
  // shared with the SQL generator in graft.queries.Oracle3.

  val PolyMod = 1000000007L
  val PolyMul = 31L
  val MixMul = 1000003L

  /** Per-permutation multipliers/offsets for portable MinHash (fixed LCG
    * outputs — arbitrary but deterministic, embedded as literals in the
    * oracle SQL). */
  val PortableA: Array[Long] =
    Array.tabulate(16)(i => ((1103515245L * (i + 1) + 12345L) % 2147483647L) | 1L)
  val PortableB: Array[Long] =
    Array.tabulate(16)(i => (69069L * (i + 1) + 1234567L) % 2147483647L)

  /** Portable polynomial string hash: fold (h*31 + codepoint) mod 1e9+7
    * over Unicode CODE POINTS — equals DuckDB's ascii()-based fold on
    * any text (both engines' char split is codepoint-wise and ascii()
    * returns the full codepoint, verified incl. non-BMP on the Unicode
    * fixture). For ASCII input this is the historical UTF-16-unit fold
    * unchanged; for non-BMP input the UTF-16 version would have folded
    * surrogate halves and diverged. Same recurrence as the
    * text_fingerprint query. */
  def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * PolyMul + cp.toLong) % PolyMod
      i += Character.charCount(cp)
    }
    h
  }

  /** Portable word-n-gram shingle hashes (one polyHash per joined
    * shingle string, spaces included — mirrors toks[i]||' '||toks[i+1]...
    * in SQL). */
  def portableShingleHashes(toks: Seq[String], n: Int): Array[Long] = {
    val arr = toks.toArray
    if (arr.length < n) return Array.empty
    Array.tabulate(arr.length - n + 1) { i =>
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(arr(i + j))
        j += 1
      }
      polyHash(sb.toString)
    }
  }

  /** Sorted distinct portable shingle-hash set (verification-side
    * signature; mirrors list_distinct of the SQL h0 list — hash
    * collisions, if any, are the SAME collisions in both engines). */
  def portableShingleHashSet(toks: Seq[String], n: Int): Array[Long] = {
    val hs = portableShingleHashes(toks, n)
    java.util.Arrays.sort(hs)
    if (hs.isEmpty) hs
    else {
      var w = 1
      var i = 1
      while (i < hs.length) {
        if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(hs, w)
    }
  }

  /** Portable MinHash band hashes: 16 permutations h_j = (A(j)*h0 + B(j))
    * mod 1e9+7, min per permutation, 4 bands of 4 rows folded with
    * (acc*1000003 + m) mod 1e9+7. Zero-shingle docs return no bands (see
    * minhashBandsFromTokens). */
  def portableMinhashBands(toks: Seq[String], shingleN: Int): Array[Long] = {
    val hs = portableShingleHashes(toks, shingleN)
    if (hs.isEmpty) return Array.empty
    val k = PortableA.length
    val sigs = Array.fill(k)(Long.MaxValue)
    var x = 0
    while (x < hs.length) {
      val h = hs(x)
      var j = 0
      while (j < k) {
        val v = (PortableA(j) * h + PortableB(j)) % PolyMod
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
      x += 1
    }
    val bands = 4
    val rows = k / bands
    Array.tabulate(bands) { b =>
      var acc = 0L
      var r = 0
      while (r < rows) { acc = (acc * MixMul + sigs(b * rows + r)) % PolyMod; r += 1 }
      acc
    }
  }

  /** 64-bit SimHash: per-token 64-bit hash (two murmur seeds), ±1 votes
    * per bit, sign of the vote sum becomes the bit. */
  def simhash64(toks: Seq[String]): Long = {
    val votes = new Array[Int](64)
    val it = toks.iterator
    while (it.hasNext) {
      val t = it.next()
      val h = (MurmurHash3.stringHash(t, 0xe6546b64).toLong << 32) |
        (MurmurHash3.stringHash(t, 0xc2b2ae35).toLong & 0xffffffffL)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  // -------------------------------------------------- Portable SimHash
  /** Bit width of the portable SimHash signature. 60 (not 64) keeps the
    * packed signature — and every partial sum the SQL mirror's
    * bit-packing addition produces — strictly below 2^63, so both
    * engines run the identical arithmetic in plain nonnegative BIGINTs
    * with no sign-bit special case. */
  val SimPortBits = 60

  /** Per-bit multipliers/offsets (fixed LCG outputs — arbitrary but
    * deterministic, embedded as literals in the oracle SQL by
    * graft.queries.Oracle3). */
  val SimPortA: Array[Long] =
    Array.tabulate(SimPortBits)(i => ((214013L * (i + 11) + 2531011L) % 2147483647L) | 1L)
  val SimPortB: Array[Long] =
    Array.tabulate(SimPortBits)(i => (48271L * (i + 7) + 11L) % 2147483647L)

  /** 60-bit SimHash built ONLY from engine-portable integer arithmetic
    * (the simhash64 vote construction with the murmur token hash
    * replaced): bit b votes +1 when the b-th universal hash
    * (SimPortA(b)·polyHash(tok) + SimPortB(b)) mod 1e9+7 is ODD, −1
    * when even; the bit is set iff the vote sum is positive, i.e.
    * odd-count·2 > token count (ties → 0, deterministically). Every
    * step has an exact DuckDB mirror, so signatures — and therefore the
    * whole blocked near-dup query — hash-check across engines. */
  def portableSimhash60(toks: Seq[String]): Long = {
    val n = toks.length
    val odd = new Array[Int](SimPortBits)
    val it = toks.iterator
    while (it.hasNext) {
      val h0 = polyHash(it.next())
      var b = 0
      while (b < SimPortBits) {
        if ((((SimPortA(b) * h0 + SimPortB(b)) % PolyMod) & 1L) == 1L) odd(b) += 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < SimPortBits) { if (odd(b) * 2 > n) sig |= (1L << b); b += 1 }
    sig
  }

  /** DSIR hashed-unigram feature counts (Xie et al. 2023): each token
    * lands in bucket polyHash(tok) % nBuckets (the engine-portable
    * hash, so DuckDB reproduces the SAME buckets), counted WITH
    * multiplicity, emitted as nonzero (bucket << 32 | count) packed
    * longs sorted by bucket. A tight loop per doc — the per-token hot
    * path must not run through interpreted array lambdas (the q56
    * lesson) — and the packed form keeps the explode volume at
    * distinct-buckets-per-doc instead of tokens-per-doc. */
  def dsirBucketCounts(toks: Seq[String], nBuckets: Int): Array[Long] = {
    val counts = new Array[Int](nBuckets)
    var nz = 0
    val it = toks.iterator
    while (it.hasNext) {
      val t = it.next()
      if (t.nonEmpty) {
        val b = (polyHash(t) % nBuckets).toInt
        if (counts(b) == 0) nz += 1
        counts(b) += 1
      }
    }
    val out = new Array[Long](nz)
    var b = 0
    var w = 0
    while (b < nBuckets) {
      if (counts(b) > 0) { out(w) = (b.toLong << 32) | counts(b).toLong; w += 1 }
      b += 1
    }
    out
  }
}
