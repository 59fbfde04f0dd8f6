package graft.expr

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Text-hashing kernels for the training-data dedup/fingerprint operators:
  * MinHash signatures, SimHash, and a rolling document fingerprint. All are
  * pure functions of the input string — deterministic across JVMs and
  * partitions, which is what makes LSH bucket joins reproducible.
  *
  * Hash primitives: FNV-1a 64 over UTF-8 bytes + a splitmix64-style finalizer
  * (both public-domain algorithms).
  */
object TextHashOps {
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  def fnv1a64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = FnvOffset
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  def fnv1a64(s: String): Long = {
    val b = s.getBytes("UTF-8")
    fnv1a64(b, 0, b.length)
  }

  /** Unicode NFC normalization (canonical composition) — the first step of
    * a text-normalization pipeline for dedup: visually identical strings
    * with different codepoint sequences ("e"+U+0301 vs "é") must hash
    * identically. Mirrors DuckDB's `nfc_normalize`. */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  /** splitmix64 finalizer — avalanches a 64-bit value. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def tokenize(text: UTF8String): Array[String] =
    text.toString.split(' ').filter(_.nonEmpty)

  /** One BPE merge step: replace every non-overlapping adjacent
    * occurrence of (a, b) in the token array with the concatenated symbol
    * a+b, scanning left to right (greedy, the standard BPE application
    * order — deterministic, so every executor applies a learned merge
    * identically). */
  def bpeMergeStep(toks: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = toks.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      val cur = toks.getUTF8String(i)
      if (i + 1 < n && cur == a && toks.getUTF8String(i + 1) == b) {
        out.add(UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** Distinct word `n`-gram shingles as strings (insertion order) — the
    * single-pass kernel behind the Jaccard operator; the naive
    * transform+element_at formulation re-splits the text per position
    * (O(tokens²) allocation), this is O(tokens). */
  def shingleStrings(text: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(text)
    val out = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + n <= toks.length) {
      val sb = new StringBuilder
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      out.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** Hashes of the word `n`-gram shingles of `text` (distinct). */
  def shingleHashes(text: UTF8String, n: Int): Array[Long] = {
    val toks = tokenize(text)
    if (toks.length < n) return Array.empty
    val out = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i + n <= toks.length) {
      val sb = new StringBuilder
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      out.add(fnv1a64(sb.toString))
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator(); var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    arr
  }

  /** MinHash signature: for seed i in [0,k), min over shingles of
    * mix64(shingleHash ^ seedMix(i)). Empty shingle set → all Long.MaxValue
    * (never collides with a real signature band). */
  /** All `runL`-char sliding-window xxhash64 values of `text` in one pass
    * over its UTF-8 bytes: element p equals Spark's
    * `xxhash64(substr(text, p+1, runL))` bit-for-bit (same XXH64 kernel,
    * same seed 42, same char-counted window — one UTF-8 walk builds the
    * char→byte offset table, so multibyte text windows the exact byte
    * ranges `UTF8String.substring` would). The point is the allocation
    * profile, not the hash: the per-position `substr` materializes a
    * fresh RunL-char UTF8String copy for EVERY position of EVERY document
    * — O(runL·chars) bytes of garbage on the corpus-sized hot path of
    * `dedup_substring` — while this kernel hashes in place over the
    * document's own buffer. Empty array when the text is shorter than
    * `runL` (the caller's `when(length >= runL, ...)` guard, folded in). */
  def winHashes(text: UTF8String, runL: Int): ArrayData = {
    val n = text.numChars()
    if (n < runL) return new GenericArrayData(Array.emptyLongArray)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nb = text.numBytes()
    val offs = new Array[Int](n + 1) // char index -> byte offset
    var b = 0
    var c = 0
    while (b < nb) {
      offs(c) = b
      b += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + b))
      c += 1
    }
    offs(n) = nb
    val out = new Array[Long](n - runL + 1)
    var p = 0
    while (p <= n - runL) {
      out(p) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        base, off + offs(p), offs(p + runL) - offs(p), 42L)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Word-pair key for [[gramStats]]: binary equality on both tokens, so
    * the pair multiset matches the `concat_ws(' ', a, b)` string multiset
    * exactly (tokens come from a split on ' ', so they are space-free and
    * the joined form is injective) without materializing the string. */
  private final class Gram2(val a: UTF8String, val b: UTF8String) {
    override def hashCode: Int = a.hashCode * 31 + b.hashCode
    override def equals(o: Any): Boolean = o match {
      case g: Gram2 => a.equals(g.a) && b.equals(g.b)
      case _ => false
    }
  }

  /** `[distinct n-gram count, max n-gram multiplicity]` of a token array
    * in ONE hash pass (n = 1 or 2). Exact integers — counts are by binary
    * string equality, the same equality `groupBy(gram)` and
    * `array_distinct` use — so `text_repetition`'s fractions are unchanged
    * vs either prior formulation (the explode → (doc, gram) agg → join
    * chain, or the per-row array_sort + run fold). The point is the work
    * profile: O(tokens) with no sort, no per-element struct allocation,
    * no bigram string materialization, and no distinct-array copy for a
    * count that only needed the map's size. Fewer than n tokens → [0, 0]
    * (matches the old empty-array fold / left-join miss). */
  def gramStats(toks: ArrayData, n: Int): ArrayData = {
    require(n == 1 || n == 2, s"gramStats supports n=1|2, got $n")
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array[Long](0L, 0L))
    // clamp BEFORE doubling: len * 2 overflows int for >2^30 elements (ADVICE r12)
    val m = new java.util.HashMap[AnyRef, java.lang.Long](
      Math.min(len, 1 << 15) * 2)
    var best = 0L
    var i = 0
    val last = len - n
    while (i <= last) {
      val key: AnyRef =
        if (n == 1) toks.getUTF8String(i)
        else new Gram2(toks.getUTF8String(i), toks.getUTF8String(i + 1))
      val prev = m.get(key)
      val c = if (prev == null) 1L else prev.longValue + 1L
      m.put(key, java.lang.Long.valueOf(c))
      if (c > best) best = c
      i += 1
    }
    new GenericArrayData(Array[Long](m.size.toLong, best))
  }

  /** `[n_tokens, distinct tokens, entropy_fp]` of a token array in one
    * hash pass — the per-row form of `text_entropy`'s
    * explode → (doc, tok) count → doc window → doc re-agg chain, exact
    * to the bit: per distinct token, lp = round(ln(c/n)·scale) via
    * `BigDecimal.valueOf(...).setScale(0, HALF_UP)` — the same rounding
    * Spark's `round` applies to a double (at scale 0 the valueOf vs
    * exact-binary constructor distinction cannot change the result: the
    * shortest round-trip decimal and the exact expansion sit on the same
    * side of every half-integer, and ties at exact .5 are representable
    * either way) — and entropy_fp = (−Σ c·lp) / n in truncating long
    * division, matching `DIV` on a nonnegative dividend. The caller
    * filters empty token arrays (the explode formulation emitted no row
    * for them). */
  def entropyStats(toks: ArrayData, scale: Long): ArrayData = {
    val len = toks.numElements()
    if (len == 0) return new GenericArrayData(Array[Long](0L, 0L, 0L))
    // clamp BEFORE doubling: len * 2 overflows int for >2^30 elements (ADVICE r12)
    val m = new java.util.HashMap[UTF8String, java.lang.Long](
      Math.min(len, 1 << 15) * 2)
    var i = 0
    while (i < len) {
      val t = toks.getUTF8String(i)
      val prev = m.get(t)
      m.put(t, java.lang.Long.valueOf(if (prev == null) 1L else prev.longValue + 1L))
      i += 1
    }
    val n = len.toLong
    val nd = n.toDouble
    var acc = 0L
    val it = m.values().iterator()
    while (it.hasNext) {
      val c = it.next().longValue
      val lp = java.math.BigDecimal
        .valueOf(Math.log(c.toDouble / nd) * scale)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      acc += c * lp
    }
    new GenericArrayData(Array[Long](n, m.size.toLong, -acc / n))
  }

  /** Per-doc DISTINCT bigram counts in one hash pass over a token array:
    * one `(w1, w2, cnt)` row per distinct adjacent pair, exact integer
    * counts by binary string equality — the same equality
    * `groupBy(w1, w2)` applies, so exploding this and re-aggregating
    * reproduces the explode→groupBy bigram chain bit-for-bit while the
    * probe stream ships per-doc-DISTINCT rows instead of per-occurrence
    * rows. Deliberately bigram-ONLY, no nullable-w2 unigram rows: a
    * combined stream needs isNull/isNotNull filters at the consumers,
    * which the optimizer pushes BELOW a shared repartition, splitting
    * the canonical subtree so ReusedExchange never fires and the kernel
    * re-runs per consumer (measured 1.17× on text_lm_score before this
    * split). Emission order is deterministic (insertion order), so task
    * retries repartition identically. Fewer than 2 tokens → empty array,
    * matching `explode(transform(slice(ts, 1, size(ts) - 1), ...))`. */
  def gramCounts2(toks: ArrayData): ArrayData = {
    val len = toks.numElements()
    if (len < 2) return new GenericArrayData(Array.empty[Any])
    val bi = new java.util.LinkedHashMap[AnyRef, Array[Long]](
      Math.min(len, 1 << 15) * 2)
    var i = 0
    while (i + 1 < len) {
      val key: AnyRef = new Gram2(toks.getUTF8String(i), toks.getUTF8String(i + 1))
      val b = bi.get(key)
      if (b == null) bi.put(key, Array(1L)) else b(0) += 1L
      i += 1
    }
    val out = new Array[Any](bi.size)
    var k = 0
    val bit = bi.entrySet().iterator()
    while (bit.hasNext) {
      val e = bit.next()
      val g = e.getKey.asInstanceOf[Gram2]
      out(k) = org.apache.spark.sql.catalyst.InternalRow(g.a, g.b, e.getValue()(0))
      k += 1
    }
    new GenericArrayData(out)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Per-doc DSIR feature-bucket counts in one pass: for each adjacent
    * token pair, the bucket is the FIRST BYTE of md5(utf8("w1 w2")) —
    * numerically identical to `substring(md5(concat_ws(' ', w1, w2)), 1, 2)`
    * read as hex (a bijection hex-pair ↔ byte value, so grouping/joining
    * on the int bucket partitions rows exactly as the hex string did).
    * Emits ≤256 `(bucket, cnt)` rows per doc (occurrence counts, not
    * distinct grams), so `importance_weights`' two consumers aggregate
    * 256-bounded rows instead of per-occurrence gram strings, and the
    * md5 is computed without materializing the gram, the 32-char hex
    * string, or its 2-char substring. Fewer than 2 tokens → empty array
    * (the `when(size >= 2, ...)` guard, folded in). */
  def md5BucketCounts(toks: ArrayData): ArrayData = {
    val len = toks.numElements()
    if (len < 2) return new GenericArrayData(Array.empty[Any])
    val counts = new Array[Long](256)
    val md = md5Local.get()
    var i = 0
    while (i + 1 < len) {
      md.reset()
      md.update(toks.getUTF8String(i).getBytes)
      md.update(' '.toByte)
      md.update(toks.getUTF8String(i + 1).getBytes)
      counts(md.digest()(0) & 0xff) += 1L
      i += 1
    }
    val n = { var c = 0; var b = 0; while (b < 256) { if (counts(b) > 0) c += 1; b += 1 }; c }
    val out = new Array[Any](n)
    var k = 0
    var b = 0
    while (b < 256) {
      if (counts(b) > 0) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(b, counts(b))
        k += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  def minhash(text: UTF8String, k: Int, shingle: Int): ArrayData = {
    val hs = shingleHashes(text, shingle)
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      val seed = mix64(i.toLong * 0x9e3779b97f4a7c15L + 0x85ebca6bL)
      var mn = Long.MaxValue
      var j = 0
      while (j < hs.length) {
        val h = mix64(hs(j) ^ seed)
        if (h < mn) mn = h
        j += 1
      }
      sig(i) = mn
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash over word 2-gram shingles (bit-majority of hashes). */
  def simhash64(text: UTF8String, shingle: Int): Long = {
    val hs = shingleHashes(text, shingle)
    if (hs.isEmpty) return 0L
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Winnowing selection (Schleimer et al. 2003) in ONE per-row pass:
    * tokenize (split on ' ', drop empties), hash every word `k`-gram with
    * the rolling [[fingerprint]] fold (the space separators folded in —
    * bit-identical to `fingerprint(concat_ws(' ', t_i, …, t_{i+k-1}))`),
    * then for every valid window start spos ∈ [0, max(0, m-w)] take the
    * window minimum over gram positions [spos, min(spos+w-1, m-1)] (the
    * clamped frame, so a short doc's single window yields its global
    * min). Returns `(n_grams, prints, occ)` where `prints` is the
    * DISTINCT selected window-minimum hashes and `occ` the distinct
    * `(pos, print)` gram occurrences realizing some window's minimum
    * (ALL ties in a window, exactly like the h = wm ∧ pos ∈ window
    * equi-join this replaces). The relational chain shuffled every gram
    * by doc_id for the sliding window, distinct-ed the selection, and
    * re-joined grams×starts for the occurrences — three corpus-sized
    * exchanges and three corpus scans; this kernel is O(m·w) per row
    * with zero exchanges before the consumers' own joins. */
  def winnowSel(text: UTF8String, k: Int, w: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = tokenize(text)
    val m = toks.length - k + 1
    if (m <= 0)
      return org.apache.spark.sql.catalyst.InternalRow(0L,
        new GenericArrayData(Array.emptyLongArray),
        new GenericArrayData(Array.empty[Any]))
    val h = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < k) {
        if (j > 0) acc = (acc * 31 + ' ') % 1000000007L
        val s = toks(i + j)
        var p = 0
        while (p < s.length) {
          val cp = s.codePointAt(p)
          acc = (acc * 31 + cp) % 1000000007L
          p += Character.charCount(cp)
        }
        j += 1
      }
      h(i) = acc
      i += 1
    }
    val sel = new Array[Boolean](m)
    val maxStart = Math.max(0, m - w)
    var spos = 0
    while (spos <= maxStart) {
      val end = Math.min(spos + w - 1, m - 1)
      var mn = Long.MaxValue
      var p = spos
      while (p <= end) { if (h(p) < mn) mn = h(p); p += 1 }
      p = spos
      while (p <= end) { if (h(p) == mn) sel(p) = true; p += 1 }
      spos += 1
    }
    var nOcc = 0
    i = 0
    while (i < m) { if (sel(i)) nOcc += 1; i += 1 }
    val occ = new Array[Any](nOcc)
    val printSet = new java.util.LinkedHashSet[java.lang.Long]()
    var o = 0
    i = 0
    while (i < m) {
      if (sel(i)) {
        occ(o) = org.apache.spark.sql.catalyst.InternalRow(i, h(i))
        printSet.add(java.lang.Long.valueOf(h(i)))
        o += 1
      }
      i += 1
    }
    val prints = new Array[Long](printSet.size)
    val pit = printSet.iterator(); var q = 0
    while (pit.hasNext) { prints(q) = pit.next().longValue; q += 1 }
    org.apache.spark.sql.catalyst.InternalRow(m.toLong,
      new GenericArrayData(prints), new GenericArrayData(occ))
  }

  /** Rolling polynomial fingerprint over Unicode CODE POINTS:
    * acc = (acc * 31 + codePoint) mod 1_000_000_007. Code points, not UTF-8
    * bytes, because the DuckDB oracle mirror folds `ascii(c)` per character
    * (the code point) — a byte fold would silently desync the two engines
    * on the first non-ASCII document. */
  def fingerprint(text: UTF8String): Long = {
    val s = text.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }
}
