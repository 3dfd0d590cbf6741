package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for document fingerprinting / near-duplicate detection.
 *
 * All hashing is xxHash64 via Spark's own `XXH64` (the same primitive behind
 * `functions.xxhash64`), operating directly on `UTF8String` bytes — no per-row object churn.
 * Each expression does its whole per-document computation in ONE pass over the token array;
 * the composable alternative (k× `transform` + `array_min`) re-walks the array k times through
 * interpreted higher-order functions.
 */
object TextExpressions {

  private val Seed1 = 0x9747b28cL
  private val Seed2 = 0x85ebca6bL

  @inline private def hash(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  /**
   * `minhash(shingles, k)` → `array<long>` of k MinHash signature values.
   * Standard double-hashing construction g_i(x) = h1(x) + i*h2(x) (Kirsch–Mitzenmacher):
   * two real hashes per shingle, k derived permutations.
   */
  case class MinHashSignature(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    require(k > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val mins = Array.fill(k)(Long.MaxValue)
      var j = 0
      while (j < arr.numElements()) {
        val s = arr.getUTF8String(j)
        if (s != null) {
          val h1 = hash(s, Seed1); val h2 = hash(s, Seed2)
          var i = 0
          while (i < k) { val g = h1 + i * h2; if (g < mins(i)) mins(i) = g; i += 1 }
        }
        j += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `shingle_hashes(tokens, n)` → `array<long>`: xxh64 hash of every word n-gram, computed in
   * one pass (per-token hash once, then an O(n) combine per window). Replaces the
   * string-building HOF route (`transform(sequence…, slice+array_join)`) whose interpreted
   * lambdas get RE-EVALUATED per exploded output row by downstream `Generate`s — the hashed
   * shingle array is what every dedup operator actually consumes.
   */
  case class ShingleHashes(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    require(n > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val m = arr.numElements()
      if (m < n) return new GenericArrayData(Array.emptyLongArray)
      val th = new Array[Long](m)
      var i = 0
      while (i < m) {
        val s = arr.getUTF8String(i)
        th(i) = if (s == null) 0L else hash(s, Seed1)
        i += 1
      }
      val out = new Array[Long](m - n + 1)
      var j = 0
      while (j <= m - n) {
        var h = Seed2
        var t = j
        while (t < j + n) { h = XXH64.hashLong(th(t), h); t += 1 }
        out(j) = h
        j += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `winnowing_fingerprints(tokens, n, w)` → `array<long>`: MOSS winnowing (Schleimer,
   * Wilkerson & Aiken, SIGMOD 2003) in ONE allocation-lean pass — xxh64 word n-gram
   * shingle hashes (same Seed1/Seed2 chain as [[ShingleHashes]], so the two kernels
   * agree bit-for-bit on the hash sequence), then the minimum of every w-window of
   * consecutive shingle hashes via a monotone deque (amortized O(1) per window; the HOF
   * route copies a w-slice and rescans it per window, O(n·w) with per-element interpreted
   * lambdas). Output is the DISTINCT selected fingerprints in first-occurrence order —
   * exactly `array_distinct(transform(sequence…, i -> array_min(slice(hs, i, w))))` —
   * with the winnowing guarantee: any shared token run of length >= w+n-1 between two
   * documents yields at least one shared fingerprint. Degenerate shapes match the gated
   * md5-60 oracle query (`SparkEntry` `doc_winnowing`): fewer than n tokens → empty
   * array; fewer than w shingles → the single global minimum.
   */
  case class WinnowingFingerprints(child: Expression, n: Int, w: Int)
      extends UnaryExpression with CodegenFallback {
    require(n > 0 && w > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val m = arr.numElements()
      if (m < n) return new GenericArrayData(Array.emptyLongArray)
      // pass 1: per-token hashes (identical construction to ShingleHashes)
      val th = new Array[Long](m)
      var i = 0
      while (i < m) {
        val s = arr.getUTF8String(i)
        th(i) = if (s == null) 0L else hash(s, Seed1)
        i += 1
      }
      val nh = m - n + 1
      val hs = new Array[Long](nh)
      var j = 0
      while (j < nh) {
        var h = Seed2
        var t = j
        while (t < j + n) { h = XXH64.hashLong(th(t), h); t += 1 }
        hs(j) = h
        j += 1
      }
      if (nh < w) { // single short window: the global min
        var mn = hs(0); var q = 1
        while (q < nh) { if (hs(q) < mn) mn = hs(q); q += 1 }
        return new GenericArrayData(Array(mn))
      }
      // pass 2: sliding-window min, monotone deque of indices (front = current min);
      // equal values are KEPT so the min survives when an equal earlier index expires
      val out = new java.util.ArrayList[Long](math.min(nh, 64))
      val seen = new java.util.HashSet[java.lang.Long]()
      val deque = new Array[Int](nh)
      var head = 0; var tail = 0
      var q = 0
      while (q < nh) {
        while (tail > head && hs(deque(tail - 1)) > hs(q)) tail -= 1
        deque(tail) = q; tail += 1
        if (deque(head) <= q - w) head += 1
        if (q >= w - 1) {
          val v: java.lang.Long = hs(deque(head))
          if (seen.add(v)) out.add(v)
        }
        q += 1
      }
      val res = new Array[Long](out.size)
      var r = 0
      while (r < res.length) { res(r) = out.get(r); r += 1 }
      new GenericArrayData(res)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `text_signals(tokens)` → struct(n_tokens, n_distinct, n_stop, top_bigram_n): every
   * per-document token statistic the quality/repetition filters need, in ONE pass over
   * the token array. The composable route evaluated the interpreted tokenizer + HOF
   * chain once per derived signal (quality, repetition and token counting each re-walked
   * the array), and repetition's top-bigram count paid an explode + two keyed exchanges —
   * here the bigram frequency map is per-document local state, so the whole signal set is
   * a narrow map over the corpus scan.
   *
   * Semantics are EXACTLY the algebraic forms they replace (the oracle queries pin this):
   * `n_distinct` is bytewise string distinctness (= `array_distinct`), `n_stop` counts
   * occurrences contained in `stopwords` (= `filter(isin)`), and `top_bigram_n` is the max
   * multiplicity of [[ShingleHashes]]-hashed bigrams (same Seed1 token hash + Seed2 chain,
   * so counts agree bit-for-bit with the exploded variant). Docs with < 2 tokens report 0.
   */
  /**
   * `longest_repeat(tokens)` — the longest token n-gram occurring ≥2 times within the
   * document (occurrences may overlap), with a deterministic representative: among the
   * maximal-length repeated n-grams, the lexicographically smallest. The per-document
   * memorization/looping risk signal (a long verbatim internal repeat is what loopy
   * generations and boilerplate-stuffed pages look like).
   *
   * One expression call per document, zero shuffle. The maximal repeat length comes
   * from a token-level suffix automaton (Blumer et al. 1985 construction, O(n) states
   * and transitions): after propagating endpos sizes up the suffix-link tree, the
   * answer is the largest `len(v)` over states with count >= 2 — one linear build
   * instead of the previous O(n·L·log n) binary search of hashing passes. A single
   * exact counting pass at that length then picks the representative (exact string
   * keys — no collision caveat). Returns NULL when no token repeats at all
   * (all-distinct docs).
   */
  case class LongestRepeat(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("rep_len", IntegerType, nullable = false),
      StructField("rep_text", StringType, nullable = false),
      StructField("n_occ", LongType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true

    /** Joined L-gram starting at `s` (single-space separator, matching the oracle's
      * array_to_string). */
    private def gram(toks: Array[UTF8String], s: Int, L: Int): String = {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < L) {
        if (i > 0) sb.append(' ')
        sb.append(toks(s + i).toString)
        i += 1
      }
      sb.toString
    }

    /** Maximal L such that some token L-gram occurs >= 2 times (overlaps allowed),
      * 0 when every token is distinct. Suffix automaton over interned token ids:
      * each non-clone state is born with endpos count 1, counts propagate to suffix
      * links in decreasing-len order (counting sort — len <= n), and a state reached
      * by >= 2 end positions witnesses every length up to its `len`. */
    private def maxRepeatLen(ids: Array[Int]): Int = {
      val n = ids.length
      val cap = 2 * n + 4
      val len = new Array[Int](cap)
      val link = new Array[Int](cap)
      val cnt = new Array[Long](cap)
      val trans = new Array[java.util.HashMap[Integer, Integer]](cap)
      trans(0) = new java.util.HashMap[Integer, Integer](4)
      link(0) = -1
      var size = 1
      var last = 0
      var i = 0
      while (i < n) {
        val c: Integer = ids(i)
        val cur = size; size += 1
        len(cur) = len(last) + 1
        cnt(cur) = 1L
        trans(cur) = new java.util.HashMap[Integer, Integer](4)
        var p = last
        while (p != -1 && !trans(p).containsKey(c)) { trans(p).put(c, cur); p = link(p) }
        if (p == -1) link(cur) = 0
        else {
          val q = trans(p).get(c).intValue
          if (len(p) + 1 == len(q)) link(cur) = q
          else {
            val clone = size; size += 1
            len(clone) = len(p) + 1
            link(clone) = link(q)
            cnt(clone) = 0L
            trans(clone) = new java.util.HashMap[Integer, Integer](trans(q))
            while (p != -1 && trans(p).get(c) != null && trans(p).get(c).intValue == q) {
              trans(p).put(c, clone); p = link(p)
            }
            link(q) = clone
            link(cur) = clone
          }
        }
        last = cur
        i += 1
      }
      // endpos counts: bucket states by len, sweep decreasing
      val byLen = new Array[Int](n + 2)
      var v = 1
      while (v < size) { byLen(len(v)) += 1; v += 1 }
      var l = 1
      while (l <= n) { byLen(l) += byLen(l - 1); l += 1 }
      val order = new Array[Int](size - 1)
      v = 1
      while (v < size) { byLen(len(v)) -= 1; order(byLen(len(v))) = v; v += 1 }
      var best = 0
      var k = order.length - 1
      while (k >= 0) {
        val s = order(k)
        if (cnt(s) >= 2L && len(s) > best) best = len(s)
        if (link(s) > 0) cnt(link(s)) += cnt(s)
        else if (link(s) == 0) () // root absorbs the rest
        k -= 1
      }
      best
    }

    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val toks = new Array[UTF8String](n)
      var i = 0
      while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
      if (n < 2 || toks.exists(_ == null)) return null
      val idOf = new java.util.HashMap[UTF8String, Integer](n * 2)
      val ids = new Array[Int](n)
      i = 0
      while (i < n) {
        var id = idOf.get(toks(i))
        if (id == null) { id = idOf.size; idOf.put(toks(i), id) }
        ids(i) = id.intValue
        i += 1
      }
      val lo = maxRepeatLen(ids)
      if (lo == 0) return null
      val counts = new java.util.HashMap[String, Long]()
      var s = 0
      while (s + lo <= n) {
        counts.merge(gram(toks, s, lo), 1L, (x, y) => x + y)
        s += 1
      }
      // tie-break in UTF-8 BYTE order (UTF8String.compareTo = memcmp), matching the
      // oracle's VARCHAR MIN — Java String.compareTo is UTF-16 order, which differs
      // beyond the BMP
      var best: UTF8String = null
      var bestCnt = 0L
      counts.forEach { (g, c) =>
        val u = UTF8String.fromString(g)
        if (c >= 2 && (best == null || u.compareTo(best) < 0)) { best = u; bestCnt = c }
      }
      new GenericInternalRow(Array[Any](lo, best, bestCnt))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class TextSignals(child: Expression, stopwords: Seq[String])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("n_stop", LongType, nullable = false),
      StructField("top_bigram_n", LongType, nullable = false)))
    override def nullIntolerant: Boolean = true
    @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String](stopwords.size * 2)
      stopwords.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val m = arr.numElements()
      val distinct = new java.util.HashSet[UTF8String](m * 2)
      var nStop = 0L
      var sawNull = false // array_distinct counts NULL as one distinct element — the
      // library tokenizer never emits it, but the SQL surface admits arbitrary arrays
      val th = new Array[Long](m)
      var i = 0
      while (i < m) {
        val s = arr.getUTF8String(i)
        if (s != null) {
          distinct.add(s)
          if (stopSet.contains(s)) nStop += 1
          th(i) = hash(s, Seed1)
        } else sawNull = true
        i += 1
      }
      var top = 0L
      if (m >= 2) {
        val counts = new java.util.HashMap[java.lang.Long, java.lang.Long](m * 2)
        var j = 0
        while (j <= m - 2) {
          var h = Seed2
          h = XXH64.hashLong(th(j), h)
          h = XXH64.hashLong(th(j + 1), h)
          val c = counts.merge(h, 1L, (x, y) => x + y)
          if (c > top) top = c
          j += 1
        }
      }
      new GenericInternalRow(Array[Any](m.toLong,
        distinct.size.toLong + (if (sawNull) 1L else 0L), nStop, top))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `token_entropy_signals(tokens)` → struct(n_tokens, s): the per-document state the
   * Shannon-entropy quality signal needs, computed WITHOUT the explode → groupBy(doc,
   * token) → groupBy(doc) double exchange (entropy of a document depends only on that
   * document — shipping corpus-sized (doc_id, token) count rows through two shuffles for
   * a map-shaped quantity is pure waste at 100 TB). `s` = Σ over distinct tokens of
   * `CAST(c·log10(c) AS DECIMAL(18,8))`, summed EXACTLY as decimals — the cross-engine
   * discipline: each per-term double quantizes through Spark's own double→decimal cast
   * semantics (`Double.toString`-canonical BigDecimal, setScale HALF_UP — what
   * `Cast(DoubleType → DecimalType)` does) before an order-independent exact sum, so the
   * result is bit-identical to the grouped aggregation the DuckDB oracle still runs.
   * Declared DECIMAL(28,8) like Spark's `sum(decimal(18,8))` output. NULL for an empty
   * token array (the grouped form emits no row for token-less docs).
   */
  case class TokenEntropySignals(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("s", DecimalType(28, 8), nullable = false)))
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val m = arr.numElements()
      if (m == 0) return null
      val counts = new java.util.HashMap[UTF8String, Long](m * 2)
      var nTok = 0L
      var i = 0
      while (i < m) {
        val s = arr.getUTF8String(i)
        if (s != null) { counts.merge(s, 1L, (x, y) => x + y); nTok += 1 }
        i += 1
      }
      if (nTok == 0L) return null
      var sum = java.math.BigDecimal.ZERO
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next().toDouble
        val term = c * java.lang.Math.log10(c)
        // Spark's double→decimal cast: canonical-string BigDecimal, then HALF_UP to scale
        sum = sum.add(java.math.BigDecimal.valueOf(term)
          .setScale(8, java.math.RoundingMode.HALF_UP))
      }
      new GenericInternalRow(Array[Any](nTok,
        org.apache.spark.sql.types.Decimal(sum, 28, 8)))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `deflate_ratio(text)` → compressed_bytes / raw_bytes under DEFLATE (JDK Deflater,
   * fastest setting) — the compressibility quality signal: highly repetitive/templated
   * text compresses far below natural prose, and near-random noise compresses above it.
   * One pass over the UTF-8 bytes with a per-thread reusable Deflater; empty text → 1.0.
   * Deterministic for a given input (fixed level, no dictionary), so thresholds are
   * reproducible — but engine-specific (zlib output is not pinned cross-engine), which is
   * why the query gate is rows-only + property-pinned rather than a DuckDB oracle.
   */
  case class DeflateRatio(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val bytes = a.asInstanceOf[UTF8String].getBytes
      if (bytes.isEmpty) return 1.0
      val d = DeflateRatio.deflater.get()
      d.reset()
      d.setInput(bytes); d.finish()
      val buf = DeflateRatio.buffer.get()
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  object DeflateRatio {
    // per-thread reuse: a fresh Deflater is ~256KB of native zlib state per row otherwise
    private val deflater = ThreadLocal.withInitial[java.util.zip.Deflater](() =>
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED, true))
    private val buffer = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](8192))
  }

  /** `minhash_long(hashes, k)` — MinHash signature over pre-hashed elements (see
    * [[MinHashSignature]]; same double-hashing construction, longs in). */
  case class MinHashSignatureLong(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    require(k > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val mins = Array.fill(k)(Long.MaxValue)
      var j = 0
      while (j < arr.numElements()) {
        val x = arr.getLong(j)
        val h1 = XXH64.hashLong(x, Seed1); val h2 = XXH64.hashLong(x, Seed2)
        var i = 0
        while (i < k) { val g = h1 + i * h2; if (g < mins(i)) mins(i) = g; i += 1 }
        j += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** `band_hashes(sig, bands)` — one xxh64 per band over `k/bands` consecutive signature
    * values, in a single pass (vs. bands× interpreted slice+join+hash). */
  case class BandHashesExpr(child: Expression, bands: Int)
      extends UnaryExpression with CodegenFallback {
    require(bands > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val k = arr.numElements()
      // Degenerate banding must fail loudly: bands > k would hash empty slices to a
      // constant for every document, collapsing the LSH join into a full cross product;
      // k % bands != 0 would silently drop trailing signature values.
      if (bands > k) throw new IllegalArgumentException(
        s"band_hashes: bands=$bands exceeds signature length $k")
      if (k % bands != 0) throw new IllegalArgumentException(
        s"band_hashes: signature length $k is not divisible by bands=$bands")
      val rows = k / bands
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = b.toLong // band index seeds the hash so identical slices in different bands differ
        var i = b * rows
        val end = math.min(k, i + rows)
        while (i < end) { h = XXH64.hashLong(arr.getLong(i), h); i += 1 }
        out(b) = h
        b += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** `min_k_hashes_long(hashes, k)` — bottom-k sketch over pre-hashed elements. */
  case class MinKHashesLong(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    require(k > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val heap = new java.util.PriorityQueue[java.lang.Long](k, java.util.Collections.reverseOrder())
      val seen = new java.util.HashSet[java.lang.Long]()
      var j = 0
      while (j < arr.numElements()) {
        val h: java.lang.Long = XXH64.hashLong(arr.getLong(j), Seed1)
        if (!seen.contains(h)) {
          if (heap.size < k) { heap.add(h); seen.add(h) }
          else if (h < heap.peek()) { seen.remove(heap.poll()); heap.add(h); seen.add(h) }
        }
        j += 1
      }
      val out = new Array[Long](heap.size)
      var i = out.length - 1
      while (i >= 0) { out(i) = heap.poll(); i -= 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `simhash64(tokens)` → 64-bit SimHash fingerprint (Charikar). Near-duplicates have small
   * Hamming distance — compare with `bit_count(a ^ b)` (codegen'd built-ins).
   */
  case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      var j = 0
      while (j < arr.numElements()) {
        val s = arr.getUTF8String(j)
        if (s != null) {
          val h = hash(s, Seed1)
          var b = 0
          while (b < 64) { if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1; b += 1 }
        }
        j += 1
      }
      var sig = 0L; var b = 0
      while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /**
   * `min_k_hashes(tokens, k)` → sorted k smallest distinct xxhash64 values — a bottom-k sketch
   * usable both as a compact document fingerprint and as a Jaccard estimator
   * (|A∩B|/|A∪B| ≈ overlap of bottom-k sketches).
   */
  /**
   * `nfc(text)` — Unicode NFC normalization (combining sequences composed to their
   * canonical precomposed forms), the first step of text canonicalization before hashing/
   * dedup. Spark has no built-in for this; `java.text.Normalizer` behind a native
   * expression (null-intolerant unary, CodegenFallback like the other per-document text
   * kernels whose inner loop dwarfs the call overhead).
   */
  /** Thread-local MD5 (MessageDigest is stateful); the JDK implementation is intrinsified. */
  private val md5Digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(s) as a long — bit-identical to the oracle twin
    * `CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)` (15 hex nibbles = top 60 bits of
    * the first 8 digest bytes, big-endian). */
  private def md5Hash60(bytes: Array[Byte]): Long = {
    val d = md5Digest.get()
    d.reset()
    val dig = d.digest(bytes)
    var v = 0L; var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /**
   * `md5_shingle_bottom_k(tokens)` — the ORACLE-parity document fingerprint in one pass:
   * word `n`-gram shingles (tokens joined by single spaces), md5-60-bit hash each,
   * distinct, k smallest ascending. Semantically identical to the HOF pipeline
   * `slice(array_sort(array_distinct(transform(shingles(toks, n), md5Hash60))), 1, k)`
   * but ~20× cheaper: the interpreted HOF chain allocates shingle strings and evaluates a
   * 4-deep lambda tree per element (the bench's top hotspot once map pruning was fixed).
   */
  case class Md5ShingleBottomK(child: Expression, n: Int, k: Int)
      extends UnaryExpression with CodegenFallback {
    require(n > 0 && k > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val m = arr.numElements()
      val out =
        if (m < n) Array.emptyLongArray
        else {
          val hs = new Array[Long](m - n + 1)
          val sb = new java.lang.StringBuilder()
          var i = 0
          while (i <= m - n) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              val t = arr.getUTF8String(i + j)
              if (t != null) sb.append(t.toString)
              j += 1
            }
            hs(i) = md5Hash60(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            i += 1
          }
          java.util.Arrays.sort(hs)
          // distinct bottom-k off the sorted array
          val keep = new Array[Long](math.min(k, hs.length))
          var w = 0; var r = 0
          while (r < hs.length && w < keep.length) {
            if (w == 0 || hs(r) != keep(w - 1)) { keep(w) = hs(r); w += 1 }
            r += 1
          }
          if (w == keep.length) keep else java.util.Arrays.copyOf(keep, w)
        }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `simhash60_md5(tokens)` — the oracle-parity 60-bit SimHash in one pass: per-token
   * md5-60-bit hashes, bit b of the result set iff MORE than half of the token
   * occurrences (multiset) have bit b set. Identical to the nested-HOF formulation
   * (60 filtered scans of the hash array per document) at a fraction of the cost.
   */
  case class SimHash60Md5(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val counts = new Array[Int](60)
      var total = 0
      var j = 0
      while (j < arr.numElements()) {
        val s = arr.getUTF8String(j)
        if (s != null) {
          val h = md5Hash60(s.getBytes)
          total += 1
          var b = 0
          while (b < 60) { if (((h >>> b) & 1L) == 1L) counts(b) += 1; b += 1 }
        }
        j += 1
      }
      var sig = 0L; var b = 0
      while (b < 60) { if (counts(b) * 2 > total) sig |= (1L << b); b += 1 }
      sig
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class NfcNormalize(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      UTF8String.fromString(java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `jaro_winkler(a, b)` → DOUBLE in [0, 1]: Jaro similarity (Jaro 1989 — matches within
   * a window of ⌊max(|a|,|b|)/2⌋−1, half-counted transpositions) plus the Winkler prefix
   * bonus (Winkler 1990 — +ℓ·0.1·(1−jaro) for the common prefix ℓ ≤ 4, applied only when
   * jaro > 0.7). Operates on the UTF8String's raw UTF-8 BYTES, not UTF-16 chars —
   * exactly the semantics DuckDB 1.0's `jaro_winkler_similarity` ships (DuckDB treats
   * strings as byte sequences: 'éb' vs 'eb' is 0.0, ADVICE r7; probed on 20k random
   * ASCII cases, 0 mismatches at 1e-12; either side empty ⇒ 0.0), so entity-resolution
   * queries gate cross-engine on the rounded score for arbitrary input. Byte
   * iteration means a multi-byte codepoint matches per-byte — identical to char
   * semantics on ASCII, and identical to the oracle everywhere. One pass over the two
   * byte arrays with two boolean scratch arrays; the O(|a|·window) inner loop is the
   * canonical algorithm — no regex, no allocation beyond scratch.
   */
  case class JaroWinklerSim(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[UTF8String].getBytes
      val b = r.asInstanceOf[UTF8String].getBytes
      val la = a.length; val lb = b.length
      if (la == 0 || lb == 0) return 0.0d
      val window = math.max(math.max(la, lb) / 2 - 1, 0)
      val ma = new Array[Boolean](la); val mb = new Array[Boolean](lb)
      var m = 0
      var i = 0
      while (i < la) {
        val lo = math.max(0, i - window); val hi = math.min(lb - 1, i + window)
        var j = lo
        var found = false
        while (j <= hi && !found) {
          if (!mb(j) && a(i) == b(j)) { ma(i) = true; mb(j) = true; m += 1; found = true }
          j += 1
        }
        i += 1
      }
      if (m == 0) return 0.0d
      var t = 0; var j = 0; i = 0
      while (i < la) {
        if (ma(i)) {
          while (!mb(j)) j += 1
          if (a(i) != b(j)) t += 1
          j += 1
        }
        i += 1
      }
      t /= 2
      val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
      if (jaro > 0.7) {
        var p = 0
        val maxP = math.min(4, math.min(la, lb))
        while (p < maxP && a(p) == b(p)) p += 1
        jaro + p * 0.1 * (1.0 - jaro)
      } else jaro
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /**
   * `byte_entropy_signals(text)` → struct(n_bytes, n_distinct_bytes, slgc): the byte-level
   * entropy ingredients of a document in ONE pass over its UTF-8 bytes — a 256-cell
   * histogram on the UTF8String's own bytes (no hex render, no per-byte explode, no
   * shuffle; the grouped formulation this replaces exchanged |corpus bytes| rows). The
   * `slgc` term replicates the oracle-shared quantization EXACTLY: per distinct byte,
   * c·log10(c) computed as c·(ln c / ln 10) (Spark's `log(10, x)` form), quantized to
   * DECIMAL(18,8) via the same shortest-double-repr HALF_UP rounding as Spark's
   * double→decimal Cast, then summed exactly. Caller derives
   * entropy_bits = (log10(n) − slgc/n)·log2(10), identical to the grouped plan.
   */
  case class ByteEntropySignals(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_bytes", LongType, nullable = false),
      StructField("n_distinct_bytes", LongType, nullable = false),
      StructField("slgc", DecimalType(18, 8), nullable = false)))
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val s = a.asInstanceOf[UTF8String]
      val bytes = s.getBytes
      val counts = new Array[Int](256)
      var i = 0
      while (i < bytes.length) { counts(bytes(i) & 0xff) += 1; i += 1 }
      val ln10 = Math.log(10.0)
      var nd = 0L
      var sum = java.math.BigDecimal.ZERO
      var v = 0
      while (v < 256) {
        val c = counts(v)
        if (c > 0) {
          nd += 1
          if (c > 1) {
            val term = c.toDouble * (Math.log(c.toDouble) / ln10)
            sum = sum.add(java.math.BigDecimal.valueOf(term)
              .setScale(8, java.math.RoundingMode.HALF_UP))
          }
        }
        v += 1
      }
      new GenericInternalRow(Array[Any](bytes.length.toLong, nd, Decimal(sum, 18, 8)))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * Content-defined chunking of a BINARY payload with the Gear rolling hash —
   * `gear_chunks(blob, minLen, maskBits, maxLen)` → `array<struct<off,len,hash>>`.
   *
   * The Gear hash (Xia et al. 2014 "Ddelta"; the core of FastCDC, Xia et al. 2016,
   * USENIX ATC) is `h = (h << 1) + GEAR[byte]`: bit k of `h` depends only on the
   * trailing k+1 bytes, so testing the low `maskBits` bits makes every boundary a
   * pure function of its trailing `maskBits`-byte window — which is the whole point
   * of CDC: after an insertion/deletion, boundaries RE-SYNCHRONIZE at the first
   * content-defined cut past the edit, so shifted copies still share almost all
   * chunks (a fixed-size chunker shares none). Cut when `len ≥ minLen` and
   * `(h & (2^maskBits − 1)) == 0` (expected chunk ≈ minLen + 2^maskBits), forced cut
   * at `maxLen`; the final partial chunk is emitted as-is. Chunk identity is the
   * xxHash64 of the chunk's bytes — grouping by it IS the dedup store key.
   *
   * The GEAR table derives from SplitMix64 (Steele, Lea & Flood 2014) of the byte
   * value — fixed, engine-independent, and white enough for the low-bit mask test.
   * One pass, zero allocation beyond the output; per-row compute, so CodegenFallback
   * costs nothing measurable against the hashing itself.
   */
  case class GearChunks(child: Expression, minLen: Int, maskBits: Int, maxLen: Int)
      extends UnaryExpression with CodegenFallback {
    require(minLen >= 1 && maxLen >= minLen && maskBits >= 1 && maskBits < 63)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("off", IntegerType, nullable = false),
      StructField("len", IntegerType, nullable = false),
      StructField("hash", LongType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true
    private lazy val gear: Array[Long] = Array.tabulate(256) { i =>
      var z = i.toLong + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    override protected def nullSafeEval(a: Any): Any = {
      val bytes = a.asInstanceOf[Array[Byte]]
      val mask = (1L << maskBits) - 1
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var h = 0L
      var start = 0
      var i = 0
      def emit(end: Int): Unit = {
        out += new GenericInternalRow(Array[Any](start, end - start,
          XXH64.hashUnsafeBytes(bytes,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, end - start, Seed1)))
        start = end
        h = 0L
      }
      while (i < bytes.length) {
        h = (h << 1) + gear(bytes(i) & 0xff)
        i += 1
        val len = i - start
        if ((len >= minLen && (h & mask) == 0L) || len >= maxLen) emit(i)
      }
      if (start < bytes.length) emit(bytes.length)
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }
}

/** Column-level text API: tokenization, shingling, fingerprints, LSH banding. */
object TextFunctions {
  import TextExpressions._

  /** Lowercased word tokens (codegen'd built-ins only). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  /** Word n-gram shingles from a token array (built-in HOFs; stays declarative). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast(ArrayType(StringType)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))

  def nfc(text: Column): Column = column(NfcNormalize(expression(text)))

  /** Oracle-parity md5-60-bit kernels (one-pass natives; DuckDB twins reproduce them). */
  def md5ShingleBottomK(toks: Column, n: Int, k: Int): Column =
    column(Md5ShingleBottomK(expression(toks), n, k))
  def simhash60Md5(toks: Column): Column = column(SimHash60Md5(expression(toks)))

  def minhash(shingles: Column, k: Int): Column = column(MinHashSignature(expression(shingles), k))
  def simhash(toks: Column): Column             = column(SimHash64(expression(toks)))

  /** One-pass hashed shingles + consumers over pre-hashed arrays (the fast path). */
  def shingleHashes(toks: Column, n: Int): Column   = column(ShingleHashes(expression(toks), n))
  def winnowing(toks: Column, n: Int, w: Int): Column =
    column(WinnowingFingerprints(expression(toks), n, w))
  def tokenEntropySignals(toks: Column): Column =
    column(TokenEntropySignals(expression(toks)))
  def longestRepeat(toks: Column): Column =
    column(LongestRepeat(expression(toks)))

  def textSignals(toks: Column, stopwords: Seq[String]): Column =
    column(TextSignals(expression(toks), stopwords))
  def deflateRatio(text: Column): Column = column(DeflateRatio(expression(text)))
  def minhashLong(hashes: Column, k: Int): Column   = column(MinHashSignatureLong(expression(hashes), k))
  def bandHashesFast(sig: Column, bands: Int): Column = column(BandHashesExpr(expression(sig), bands))
  def minKHashesLong(hashes: Column, k: Int): Column = column(MinKHashesLong(expression(hashes), k))
  def jaroWinkler(a: Column, b: Column): Column = column(JaroWinklerSim(expression(a), expression(b)))
  def byteEntropySignals(text: Column): Column = column(ByteEntropySignals(expression(text)))
  def gearChunks(blob: Column, minLen: Int, maskBits: Int, maxLen: Int): Column =
    column(GearChunks(expression(blob), minLen, maskBits, maxLen))

  /** Hamming distance between two 64-bit fingerprints (codegen'd built-ins). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
