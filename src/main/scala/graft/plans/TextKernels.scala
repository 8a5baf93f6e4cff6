package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-row text/vector kernels behind the custom Catalyst expressions in
  * [[TextExpressions]] (SURVEY.md §2.10 `expr_custom`, §2.11 dedup family).
  *
  * Why this layer exists: the composable forms (HOFs, or explode +
  * hash-aggregate) are correct but pay per-element interpretation or a
  * full shuffle of exploded token rows. Each kernel below computes the
  * SAME bytes-in/bits-out result as its composable counterpart — the
  * specs assert bit-for-bit equality — in one tight JIT-compiled loop
  * per row: no shuffle, no per-element lambda dispatch, no boxing.
  * Generated code calls these as static methods (Scala objects emit
  * static forwarders), so the surrounding stage stays inside
  * WholeStageCodegen.
  *
  * Hash family is Spark's own `XXH64` with the `xxhash64` seed (42) and
  * the same per-type mixing (`hashUnsafeBytes` for strings, `hashInt`
  * for integer salts), which is what makes the equalities exact.
  */
object TextKernels {

  private final val Seed = 42L

  /** Java-regex `\s` on UTF-8 bytes: space, \t, \n, \x0B, \f, \r. All are
    * single-byte code points, and UTF-8 continuation bytes are >= 0x80,
    * so a byte scan can never split a multi-byte character. */
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Largest key count [[tableCapacity]] accepts: its 2^30-slot table is
    * the largest power-of-two size an `Int` holds. */
  private[graft] final val MaxTableKeys = 1 << 29

  /** Slots of an open-addressing table for `n` keys at load factor
    * <= 0.5: the smallest power of two >= max(4, 2n). */
  private[graft] def tableCapacity(n: Int): Int = {
    require(n >= 0 && n <= MaxTableKeys,
      s"open-addressing table for $n keys exceeds the $MaxTableKeys-key bound")
    if (n <= 2) 4 else Integer.highestOneBit(2 * n - 1) << 1
  }

  /** Token byte spans matching `split(str, "\\s+")` (limit -1) semantics:
    * maximal non-whitespace runs, plus an empty leading token when the
    * string starts with whitespace, an empty trailing token when it ends
    * with whitespace, and a single empty token for the empty string.
    * Returns flat pairs [start0, end0, start1, end1, ...]. */
  private[plans] def tokenSpans(b: Array[Byte]): Array[Int] = {
    val len = b.length
    if (len == 0) return Array(0, 0)
    var out = new Array[Int](16)
    var n = 0
    @inline def emit(s: Int, e: Int): Unit = {
      if (n + 2 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
      out(n) = s; out(n + 1) = e; n += 2
    }
    var pos = 0
    if (isWs(b(0))) emit(0, 0) // leading empty token
    while (pos < len) {
      while (pos < len && isWs(b(pos))) pos += 1
      if (pos == len) emit(len, len) // trailing empty token
      else {
        val start = pos
        while (pos < len && !isWs(b(pos))) pos += 1
        emit(start, pos)
      }
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** 64-bit SimHash over whitespace tokens of `lower(text)` — identical to
    * the explode + 64-vote-buffer aggregate form (`Dedup.simhashSketchesAgg`)
    * and the HOF fold (`TextOps.simhash64`), computed per row. */
  def simhash64(s: UTF8String): Long = {
    val b = s.toLowerCase.getBytes
    val spans = tokenSpans(b)
    val votes = new Array[Int](64)
    var t = 0
    while (t < spans.length) {
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + spans(t),
        spans(t + 1) - spans(t), Seed)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      t += 2
    }
    var sketch = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) sketch |= (1L << i); i += 1 }
    sketch
  }

  /** MinHash signature over `shingleSize`-word shingles: position p is
    * `min over shingles of xxhash64(shingle, p)` — identical to the
    * explode + min-buffer aggregate (`Dedup.minhashSignaturesAgg`),
    * including the all-`Long.MaxValue` sentinel for docs with fewer than
    * `shingleSize` tokens. One byte-hash per shingle, then `numPerm`
    * cheap integer mixes (the aggregate form re-hashes the whole shingle
    * string once per permutation). */
  def minhashSig(s: UTF8String, numPerm: Int, shingleSize: Int): ArrayData = {
    val sig = new Array[Long](numPerm)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val b = s.toLowerCase.getBytes
    val spans = tokenSpans(b)
    val nTok = spans.length / 2
    if (nTok >= shingleSize) {
      // normalize: tokens joined by single spaces, so every shingle is one
      // contiguous byte range (multi-whitespace separators collapse)
      var total = 0
      var t = 0
      while (t < spans.length) { total += spans(t + 1) - spans(t); t += 2 }
      val norm = new Array[Byte](total + nTok - 1)
      val tokStart = new Array[Int](nTok)
      var pos = 0
      var ti = 0
      t = 0
      while (t < spans.length) {
        tokStart(ti) = pos
        val l = spans(t + 1) - spans(t)
        System.arraycopy(b, spans(t), norm, pos, l)
        pos += l
        if (ti < nTok - 1) { norm(pos) = ' '; pos += 1 }
        ti += 1; t += 2
      }
      val nSh = nTok - shingleSize + 1
      var i = 0
      while (i < nSh) {
        val start = tokStart(i)
        val end = if (i + shingleSize < nTok) tokStart(i + shingleSize) - 1 else pos
        val h = XXH64.hashUnsafeBytes(norm, Platform.BYTE_ARRAY_OFFSET + start,
          end - start, Seed)
        var p = 0
        while (p < numPerm) {
          val hp = XXH64.hashInt(p, h)
          if (hp < sig(p)) sig(p) = hp
          p += 1
        }
        i += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): rolling
    * xxhash64 over character `k`-grams of `lower(text)`, minimum of each
    * `w`-window, distinct, sorted — identical to `TextOps.fingerprints`
    * (which slices via codepoint-based `substr`, replicated here with a
    * codepoint-offset table; windows clamp at the end the way `slice`
    * does). */
  def winnowFingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val lower = s.toLowerCase
    val b = lower.getBytes
    // codepoint start offsets (UTF-8: starts are bytes not in 0x80..0xBF)
    val nBytes = b.length
    val cpOff = new Array[Int](lower.numChars() + 1)
    var nCp = 0
    var i = 0
    while (i < nBytes) {
      if ((b(i) & 0xC0) != 0x80) { cpOff(nCp) = i; nCp += 1 }
      i += 1
    }
    cpOff(nCp) = nBytes
    val nHash = math.max(nCp - (k - 1), 1)
    val hashes = new Array[Long](nHash)
    i = 0
    while (i < nHash) {
      val bs = cpOff(math.min(i, nCp))
      val be = cpOff(math.min(i + k, nCp))
      hashes(i) = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + bs, be - bs, Seed)
      i += 1
    }
    val nWin = math.max(nHash - (w - 1), 1)
    val mins = new Array[Long](nWin)
    var j = 0
    while (j < nWin) {
      var m = hashes(j)
      var q = j + 1
      val end = math.min(j + w, nHash)
      while (q < end) { if (hashes(q) < m) m = hashes(q); q += 1 }
      mins(j) = m
      j += 1
    }
    java.util.Arrays.sort(mins)
    // distinct on the sorted array
    var out = 0
    i = 0
    while (i < nWin) {
      if (out == 0 || mins(i) != mins(out - 1)) { mins(out) = mins(i); out += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, out))
  }

  /** Sorted distinct xxhash64 values of the `shingleSize`-word shingles of
    * `lower(text)` — the per-row substitute for
    * `shingleRows(...).select(xxhash64(sh)).distinct()`: the distinct
    * shuffle and the per-doc set-size aggregate both collapse into this
    * one projection (set size = array length). Same normalization and
    * hashing as [[minhashSig]]. */
  def shingleHashSet(s: UTF8String, shingleSize: Int): ArrayData = {
    val b = s.toLowerCase.getBytes
    val spans = tokenSpans(b)
    val nTok = spans.length / 2
    if (nTok < shingleSize) return new GenericArrayData(Array.emptyLongArray)
    var total = 0
    var t = 0
    while (t < spans.length) { total += spans(t + 1) - spans(t); t += 2 }
    val norm = new Array[Byte](total + nTok - 1)
    val tokStart = new Array[Int](nTok)
    var pos = 0
    var ti = 0
    t = 0
    while (t < spans.length) {
      tokStart(ti) = pos
      val l = spans(t + 1) - spans(t)
      System.arraycopy(b, spans(t), norm, pos, l)
      pos += l
      if (ti < nTok - 1) { norm(pos) = ' '; pos += 1 }
      ti += 1; t += 2
    }
    val nSh = nTok - shingleSize + 1
    val hs = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      val start = tokStart(i)
      val end = if (i + shingleSize < nTok) tokStart(i + shingleSize) - 1 else pos
      hs(i) = XXH64.hashUnsafeBytes(norm, Platform.BYTE_ARRAY_OFFSET + start,
        end - start, Seed)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var out = 0
    i = 0
    while (i < nSh) {
      if (out == 0 || hs(i) != hs(out - 1)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, out))
  }

  /** Per-row word n-gram repetition statistics of `lower(text)`:
    * (n_grams, max_c, dup_c) where `n_grams` is the total n-gram count,
    * `max_c` the occurrences of the most frequent n-gram, and `dup_c`
    * the total occurrences of n-grams appearing more than once — the
    * Gopher/MassiveText repetition signals. Identical to exploding the
    * `concat_ws(" ", slice(tokens, i, n))` shingles and counting
    * (asserted in TextKernelsSpec): tokens contain no whitespace, so the
    * space-joined byte range in the normalized buffer is a bijective key
    * for the token tuple, and equality is checked on the actual BYTES
    * (open addressing, xxhash64 probe, byte-compare on collision) — no
    * hash-collision wobble, exact counts.
    *
    * This is the zero-shuffle substitute for a corpus-wide
    * `groupBy(doc_id, gram_n, gram)`: the statistic is per-document, so
    * the gram strings never need to leave the row. */
  def repetitionStats(s: UTF8String, n: Int): Any = {
    val b = s.toLowerCase.getBytes
    val spans = tokenSpans(b)
    val nTok = spans.length / 2
    if (nTok < n)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L, 0L))
    // normalize: tokens joined by single spaces (same buffer as minhashSig)
    var total = 0
    var t = 0
    while (t < spans.length) { total += spans(t + 1) - spans(t); t += 2 }
    val norm = new Array[Byte](total + nTok - 1)
    val tokStart = new Array[Int](nTok)
    var pos = 0
    var ti = 0
    t = 0
    while (t < spans.length) {
      tokStart(ti) = pos
      val l = spans(t + 1) - spans(t)
      System.arraycopy(b, spans(t), norm, pos, l)
      pos += l
      if (ti < nTok - 1) { norm(pos) = ' '; pos += 1 }
      ti += 1; t += 2
    }
    val nG = nTok - n + 1
    // cnt == 0 marks an empty slot
    val cap = tableCapacity(nG)
    val mask = cap - 1
    val hkey = new Array[Long](cap)
    val hoff = new Array[Int](cap)
    val hlen = new Array[Int](cap)
    val hcnt = new Array[Int](cap)
    var maxC = 0
    var i = 0
    while (i < nG) {
      val start = tokStart(i)
      val end = if (i + n < nTok) tokStart(i + n) - 1 else pos
      val len = end - start
      val h = XXH64.hashUnsafeBytes(norm, Platform.BYTE_ARRAY_OFFSET + start, len, Seed)
      var slot = (h & mask).toInt
      var done = false
      while (!done) {
        if (hcnt(slot) == 0) {
          hkey(slot) = h; hoff(slot) = start; hlen(slot) = len; hcnt(slot) = 1
          if (maxC < 1) maxC = 1
          done = true
        } else if (hkey(slot) == h && hlen(slot) == len &&
            java.util.Arrays.equals(norm, hoff(slot), hoff(slot) + len,
              norm, start, start + len)) {
          hcnt(slot) += 1
          if (hcnt(slot) > maxC) maxC = hcnt(slot)
          done = true
        } else slot = (slot + 1) & mask
      }
      i += 1
    }
    var dup = 0L
    var j = 0
    while (j < cap) { if (hcnt(j) > 1) dup += hcnt(j); j += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nG.toLong, maxC.toLong, dup))
  }

  /** Distinct character trigrams of `lower(text)` with occurrence counts,
    * as rows of (gram STRING, cnt INT). Dedup is by the trigram's BYTES
    * (open addressing, xxhash64 probe, byte-compare on collision — the
    * [[repetitionStats]] recipe): the pre-r16 form keyed its map on the
    * 64-bit hash alone, so two distinct grams colliding within one
    * document would have merged their counts under the first gram's
    * bytes — a probabilistic wrinkle in an 'exact' contract (ADVICE
    * r15). Output order (first occurrence) keeps results deterministic
    * across runs. */
  def trigramCounts(s: UTF8String): ArrayData = {
    val b = s.toLowerCase.getBytes
    val nBytes = b.length
    // codepoint count bounds the trigram count (and thus table size)
    var nCp = 0
    var i = 0
    while (i < nBytes) { if ((b(i) & 0xC0) != 0x80) nCp += 1; i += 1 }
    val maxG = math.max(1, nCp - 2)
    // cnt == 0 marks an empty slot
    val cap = tableCapacity(maxG)
    val mask = cap - 1
    val hkey = new Array[Long](cap)
    val hoff = new Array[Int](cap)
    val hlen = new Array[Int](cap)
    val hcnt = new Array[Int](cap)
    val order = new Array[Int](maxG) // slots in first-occurrence order
    var nDistinct = 0
    var c0 = -1
    var c1 = -1
    var c2 = -1
    var c3 = -1
    i = 0
    while (i <= nBytes) {
      if (i == nBytes || (b(i) & 0xC0) != 0x80) { // codepoint boundary
        c0 = c1; c1 = c2; c2 = c3; c3 = i
        if (c0 >= 0) {
          val len = c3 - c0
          val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + c0, len, Seed)
          var slot = (h & mask).toInt
          var done = false
          while (!done) {
            if (hcnt(slot) == 0) {
              hkey(slot) = h; hoff(slot) = c0; hlen(slot) = len; hcnt(slot) = 1
              order(nDistinct) = slot; nDistinct += 1
              done = true
            } else if (hkey(slot) == h && hlen(slot) == len &&
                java.util.Arrays.equals(b, hoff(slot), hoff(slot) + len,
                  b, c0, c0 + len)) {
              hcnt(slot) += 1
              done = true
            } else slot = (slot + 1) & mask
          }
        }
      }
      i += 1
    }
    val out = new Array[Any](nDistinct)
    var j = 0
    while (j < nDistinct) {
      val slot = order(j)
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromBytes(b, hoff(slot), hlen(slot)), hcnt(slot)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Sign-random-projection sketch over an ARRAY<FLOAT>: bit i is the sign
    * of the dot product with a deterministic pseudo-random hyperplane
    * whose component j is `pmod(xxhash64(seed, i, j), 2000001)/1e6 - 1`
    * — identical (same hash chain, same left-to-right double summation)
    * to the HOF form in `Similarity.srpBucketHof`. A null element makes
    * every plane dot NULL there, which zeroes every bit; mirrored here. */
  // Hyperplane components are ROW-INDEPENDENT (hash of (seed, bit,
  // component) only), so they are computed once per (bits, seed, dim)
  // and cached — the hot loop is then pure multiply-add instead of
  // bits×dim xxhash64 calls per row (the dominant cost of wide
  // auto-sized sketches: ~90 bands × 16 bits × 64 dims ≈ 92k hashes per
  // row before this cache). Same formula, bit-identical results
  // (TextKernelsSpec pins kernel == HOF). Executor-side static; one
  // entry per distinct config, bits·dim doubles each.
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  private def planes(bits: Int, seed: Int, n: Int): Array[Double] =
    planeCache.computeIfAbsent((bits, seed, n), { _ =>
      val p = new Array[Double](bits * n)
      var i = 0
      while (i < bits) {
        val hs = XXH64.hashInt(i, XXH64.hashInt(seed, Seed))
        var j = 0
        while (j < n) {
          val h = XXH64.hashInt(j, hs)
          var r = h % 2000001L
          if (r < 0) r += 2000001L
          p(i * n + j) = r.toDouble / 1000000.0 - 1.0
          j += 1
        }
        i += 1
      }
      p
    })

  /** Shannon entropy (bits per character) of the text's CODE-POINT
    * distribution — the "is this natural text or repetitive filler"
    * quality signal (low entropy ⇒ boilerplate/padding, very high ⇒
    * random noise). Computed as `(ln n − Σ c·ln c / n) / ln 2` over the
    * per-code-point counts; the Σ runs in ASCENDING code-point order so
    * the float accumulation is deterministic across runs and partitions.
    * Empty text yields 0.0; NULL propagates at the expression layer.
    * Character identity is the Unicode code point (UTF-8 decoded), the
    * same unit DuckDB's `string_split(text, '')` produces — one cell of
    * a multi-byte script is one symbol, not 2-4 byte symbols. */
  def charEntropyBits(s: UTF8String): Double = {
    val str = s.toString
    val len = str.length
    if (len == 0) return 0.0
    val counts = new java.util.TreeMap[Integer, Array[Int]]()
    var i = 0
    var n = 0L
    while (i < len) {
      val cp = str.codePointAt(i)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1)) else slot(0) += 1
      n += 1
      i += Character.charCount(cp)
    }
    var slc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0).toDouble
      slc += c * math.log(c)
    }
    (math.log(n.toDouble) - slc / n) / math.log(2.0)
  }

  /** Thresholded Levenshtein distance over Unicode code points: returns
    * the edit distance when it is ≤ k, else −1 — the same contract as
    * Spark's builtin `levenshtein(a, b, k)` (LevenshteinSpec asserts
    * value equality on real corpus pairs plus the edge lattice). The
    * builtin walks the DP over raw UTF-8 with per-cell multi-byte
    * character comparison and measures ~0.5 ms on a close ~330-char pair;
    * this kernel decodes each side ONCE to an int[] of code points
    * (equality of code points ≡ equality of the UTF-8 byte runs the
    * builtin compares) and runs the classic 2-row banded DP (band width
    * 2k+1, cells outside the band pinned at INF) in a primitive-int
    * loop — 43 µs on the same pair, an ~11× measured win, which is what
    * turned dedup_editdist's ×10-probe step from 91 s into pair-join
    * cost (tools/EdProf3). */
  def levenshteinWithin(a: UTF8String, b: UTF8String, k: Int): Int = {
    if (k < 0) return -1
    val s = a.toString.codePoints().toArray
    val t = b.toString.codePoints().toArray
    // DP over the shorter side's axis keeps the row arrays minimal.
    val (x, y) = if (s.length <= t.length) (t, s) else (s, t)
    val n = x.length; val m = y.length
    if (n - m > k) return -1
    if (m == 0) return n // n ≤ k guaranteed by the band check above
    val INF = Int.MaxValue / 2
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, INF)
    var j = 0
    val jmax = math.min(m, k)
    while (j <= jmax) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, INF)
      val lo = math.max(1, i - k); val hi = math.min(m, i + k)
      if (i <= k) cur(0) = i
      val xi = x(i - 1)
      var jj = lo
      while (jj <= hi) {
        var v = prev(jj - 1) + (if (xi == y(jj - 1)) 0 else 1)
        if (prev(jj) + 1 < v) v = prev(jj) + 1
        if (cur(jj - 1) + 1 < v) v = cur(jj - 1) + 1
        cur(jj) = v
        jj += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(m) > k) -1 else prev(m)
  }

  def srpSketch(vec: ArrayData, bits: Int, seed: Int): Long = {
    val n = vec.numElements()
    var j = 0
    while (j < n) { if (vec.isNullAt(j)) return 0L; j += 1 }
    val p = planes(bits, seed, n)
    var sketch = 0L
    var i = 0
    while (i < bits) {
      var d = 0.0
      val off = i * n
      j = 0
      while (j < n) {
        d += vec.getFloat(j).toDouble * p(off + j)
        j += 1
      }
      if (d > 0) sketch |= (1L << i)
      i += 1
    }
    sketch
  }
}
