package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** MD5-anchored hash sketches (SimHash / MinHash signatures), evaluated
  * as single scalar expressions over a document's token/shingle array.
  *
  * Two design constraints meet here:
  *
  *  1. **Scale**: the naive Spark formulation of both sketches explodes
  *     the corpus (per token × per bit for SimHash: 63× row blowup into
  *     a wide groupBy; per shingle × per permutation for MinHash) and
  *     pays a shuffle to reassemble per-doc signatures. Evaluated as a
  *     scalar expression, the signature is computed map-side in one
  *     pass over the array — zero shuffle, one row per document, which
  *     is the only shape that survives 100 TB.
  *  2. **Verifiability**: the per-element hash is the leading 32-bit
  *     words of the standard MD5 digest — exactly reproducible in any
  *     engine with an `md5()` hex function (the DuckDB oracles parse
  *     `substr(md5(x), 1, 8)` as hex), unlike xxhash64/murmur seeds.
  *     MD5 costs ~2× xxhash64 per element but the sketches hash each
  *     distinct element exactly once, so it stays noise against scan
  *     cost.
  *
  * Expression evaluation is CodegenFallback: one virtual call per
  * document row (not per element) with the whole inner loop in plain
  * JVM code — the per-row overhead codegen would remove is amortized
  * over the array walk, unlike the per-element HOF case that motivated
  * [[DotProduct]].
  */
object Md5Words {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** (first, second) 32-bit big-endian words of md5(bytes), as
    * non-negative longs — the values DuckDB sees via
    * `('0x' || substr(md5(s), 1, 8))::BIGINT` and `substr(..., 9, 8)`.
    */
  def firstTwoWords(bytes: Array[Byte]): (Long, Long) = {
    val d = digest.get()
    d.reset()
    val h = d.digest(bytes)
    def word(off: Int): Long =
      ((h(off) & 0xffL) << 24) | ((h(off + 1) & 0xffL) << 16) |
        ((h(off + 2) & 0xffL) << 8) | (h(off + 3) & 0xffL)
    (word(0), word(4))
  }
}

/** 63-bit SimHash of a (distinct) token array.
  *
  * Per token: 63 hash bits = bits 0..31 of md5 word 2 and bits 0..30 of
  * md5 word 1; each bit votes ±1; signature bit b is set iff the vote
  * sum is positive. 63 bits keep the signature positive in a signed
  * BIGINT on every engine. Near-dup detection then pairs signatures by
  * 16-bit chunk collision (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 chunks
  * equal) — see `Dedup.dedupSimHash`.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](63)
    var i = 0
    while (i < n) {
      val tok = arr.getUTF8String(i)
      val (h1, h2) = Md5Words.firstTwoWords(tok.getBytes)
      var b = 0
      while (b < 32) {
        if (((h2 >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      while (b < 63) {
        if (((h1 >>> (b - 32)) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 63) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** Register `graft_simhash(tokens)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_simhash")
}

/** Sorted xxhash64 fingerprints of a string array — the cheap set
  * representation for exact set-similarity verification. Hashing the
  * shingle strings once per document turns every downstream pair
  * intersection from O(n) string hashing+equality into an 8-byte
  * merge walk ([[SortedIntersectCount]]), and sorting here means the
  * PPJoin prefix index can slice this array directly (the prefix
  * lemma needs only *some* global total order over set elements —
  * hash order serves as well as lexicographic). 64-bit collisions are
  * negligible at corpus scale (birthday bound ≪ 10⁻⁸) and
  * deterministic.
  */
case class SortedHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    java.util.Arrays.sort(out)
    // primitive-backed result: this runs once per document in the
    // corpus-wide dedup scan — boxing n Longs per row was pure GC
    // pressure (review finding, round 15)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedHashes {
  /** Register `graft_sorted_hashes(strings)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_sorted_hashes")
}

/** Intersection size of two SORTED long arrays (one merge walk, no
  * per-call hash table — the inner loop of candidate-pair
  * verification, executed once per candidate).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toLongArray()
    val ys = b.asInstanceOf[ArrayData].toLongArray()
    var i = 0; var j = 0; var c = 0
    while (i < xs.length && j < ys.length) {
      if (xs(i) < ys(j)) i += 1
      else if (xs(i) > ys(j)) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Register `graft_sorted_intersect(a, b)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_sorted_intersect")
}

/** Sign-random-projection (SimHash-for-vectors) LSH sketch with
  * Rademacher (±1) hyperplanes over micro-unit quantized embeddings:
  * per hash table t, bucket = packed sign bits of the plane·q integer
  * dot products, q = ⌊v·10⁶⌋. Two properties motivate the integer
  * form:
  *   - sign(Σ ±q_d) is exact integer arithmetic — no float-sum
  *     association noise — so bucket assignment is bit-reproducible in
  *     the DuckDB oracle (which re-derives the same ±1 matrix from
  *     md5 parity and the same quantization);
  *   - ±1 planes need no stored matrix: w(t,p,d) = parity of the
  *     first hex digit of md5("t_p_d"), derived identically in-code
  *     and in SQL.
  * Evaluated map-side, one array of NumTables buckets per vector.
  */
case class RademacherSketch(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  // resolved once: accept float or double element vectors; anything
  // else fails immediately with a typed message instead of silently
  // misreading the array buffer
  private lazy val readElem: (ArrayData, Int) => Double = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      (a, i) => a.getFloat(i).toDouble
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
      (a, i) => a.getDouble(i)
    case other => throw new IllegalArgumentException(
      s"graft_rademacher expects array<float> or array<double>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    import RademacherSketch._
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val q = new Array[Long](n)
    var d = 0
    while (d < n) {
      q(d) = math.floor(readElem(arr, d) * 1e6).toLong
      d += 1
    }
    val out = new Array[Any](NumTables)
    var t = 0
    while (t < NumTables) {
      var b = 0
      var p = 0
      while (p < PlanesPerTable) {
        val w = weights(t)(p)
        var s = 0L
        var dd = 0
        val lim = math.min(n, w.length)
        while (dd < lim) { s += w(dd) * q(dd); dd += 1 }
        if (s > 0) b |= (1 << p)
        p += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RademacherSketch {
  val NumTables = 8
  val PlanesPerTable = 4
  val Dim = 64

  /** ±1 plane matrix: w(t,p,d) = +1 iff the first hex digit of
    * md5("t_p_d") is odd — the same derivation the oracle SQL runs as
    * `('0x'||substr(md5(t||'_'||p||'_'||d),1,1))::BIGINT & 1`.
    */
  lazy val weights: Array[Array[Array[Int]]] =
    Array.tabulate(NumTables, PlanesPerTable, Dim) { (t, p, d) =>
      val (h1, _) = Md5Words.firstTwoWords(
        s"${t}_${p}_${d}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((h1 >>> 28) & 1L) == 1L) 1 else -1
    }

  /** Register `graft_rademacher(embedding)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_rademacher")
}

/** 126-bit signed-random-projection signature of an embedding — the
  * CHEAP similarity screen behind the two-level quantizer's boundary
  * ring (round 17, VERDICT r16 #2). Same construction discipline as
  * [[RademacherSketch]] (micro-unit quantize, ±1 planes from md5
  * parity, exact integer sign sums ⇒ bit-reproducible in the DuckDB
  * oracle), but 126 planes packed into TWO longs, sized for per-PAIR
  * screening rather than bucketing: at cos τ = 0.4 (θ ≈ 66.4°) the
  * expected hamming distance is 126·θ/π ≈ 46.5 with σ ≈ 5.4, so a
  * hamming cap in the low 50s passes ~90% of τ-band pairs while
  * rejecting the bulk of orthogonal ones — an 8-byte-per-side pair
  * test where the exact cosine needs both full vectors.
  *
  * 63 planes per word (the [[SimHash64]] convention): both words stay
  * positive in a signed BIGINT, so the oracle can build them as exact
  * sums of distinct powers of two on every engine.
  *
  * Output: array<long> of 2 — word w holds planes 63w..63w+62, plane
  * j sets bit (j mod 63) iff Σ_d ±q_d > 0 with the ± from the parity
  * of the first hex digit of md5("srp_j_d") (key space disjoint from
  * the rademacher grid's "t_p_d").
  */
case class Srp126(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val readElem: (ArrayData, Int) => Double = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      (a, i) => a.getFloat(i).toDouble
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
      (a, i) => a.getDouble(i)
    case other => throw new IllegalArgumentException(
      s"graft_srp126 expects array<float> or array<double>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    import Srp126._
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val q = new Array[Long](n)
    var d = 0
    while (d < n) {
      q(d) = math.floor(readElem(arr, d) * 1e6).toLong
      d += 1
    }
    val out = new Array[Any](Words)
    var w = 0
    while (w < Words) {
      var bits = 0L
      var j = 0
      while (j < 63) {
        val plane = weights(w * 63 + j)
        var s = 0L
        var dd = 0
        val lim = math.min(n, plane.length)
        while (dd < lim) { s += plane(dd) * q(dd); dd += 1 }
        if (s > 0) bits |= (1L << j)
        j += 1
      }
      out(w) = bits
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Srp126 {
  val Bits = 126
  val Words = 2
  val Dim = 64

  /** ±1 plane matrix: w(j,d) = +1 iff the first hex digit of
    * md5("srp_j_d") is odd — replayed in SQL as
    * `('0x'||substr(md5('srp_'||j||'_'||d),1,1))::BIGINT & 1`.
    */
  lazy val weights: Array[Array[Int]] =
    Array.tabulate(Bits, Dim) { (j, d) =>
      val (h1, _) = Md5Words.firstTwoWords(
        s"srp_${j}_${d}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((h1 >>> 28) & 1L) == 1L) 1 else -1
    }

  /** Register `graft_srp126(embedding)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_srp126")
}

/** True rolling-hash (Rabin–Karp) document fingerprints: polynomial
  * hashes of every K-byte window, computed in ONE O(n) pass (each
  * slide removes the outgoing byte via the precomputed B^(K−1) term —
  * the property that makes this viable over 100 TB of text, vs the
  * O(n·K) naive per-window hash), then mod-p sampled (keep h ≡ 0
  * mod 64 — Broder-style content-defined selection, so the same
  * content yields the same fingerprints regardless of where it moves
  * in the document). Output = the sorted distinct sampled hashes.
  *
  * All arithmetic is mod the Mersenne prime 2^31−1 with operands
  * < 2^40 — exact in a long, and exactly reproducible in the DuckDB
  * oracle (which re-derives each window's polynomial via
  * `list_reduce`; same values, different asymptotics).
  */
case class RollingHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import RollingHashes._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    val out = new java.util.TreeSet[java.lang.Long]()
    if (n >= K) {
      // hash of the first window
      var h = 0L
      var j = 0
      while (j < K) { h = (h * B + (bytes(j) & 0xffL)) % P; j += 1 }
      if (h % SampleMod == 0) out.add(h)
      // slide: drop the outgoing byte's B^(K-1) term, shift, add incoming
      var i = K
      while (i < n) {
        val outByte = bytes(i - K) & 0xffL
        h = (((h - outByte * BK1 % P) % P + P) % P * B + (bytes(i) & 0xffL)) % P
        if (h % SampleMod == 0) out.add(h)
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashes {
  val K = 8 // window bytes
  val B = 256L // polynomial base
  val P: Long = 2147483647L // Mersenne prime 2^31 − 1 (same family as MinHashSig)
  val SampleMod = 64L // keep ~1/64 of windows (content-defined)
  /** B^(K−1) mod P — the outgoing byte's positional weight. */
  val BK1: Long = {
    var v = 1L
    for (_ <- 1 until K) v = v * B % P
    v
  }

  /** Register `graft_rolling_hashes(text)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_rolling_hashes")
}

/** Robust-winnowing document fingerprints (the MOSS selection rule):
  * per K-byte window position the same Rabin–Karp rolling hash as
  * [[RollingHashes]], then over every run of W consecutive position
  * hashes select the minimum — rightmost occurrence on ties — and
  * emit the distinct selected (position, hash) pairs. Winnowing
  * guarantees ≥1 shared fingerprint for any match of length
  * ≥ K + W − 1 (mod-sampling offers no such guarantee), at expected
  * density 2/(W+1) — the standard local-fingerprinting scheme for
  * plagiarism / verbatim-overlap detection.
  *
  * One O(n·W) pass per document, map-side, no shuffle (W = 4, so the
  * per-window rescan beats a deque's bookkeeping). Each pair is
  * encoded as `pos · 2^31 + hash` (hash < P = 2^31 − 1), a single
  * long the consumer splits back with shift/mask arithmetic — exact
  * in both engines, so the whole fingerprint set is DuckDB-oracled.
  *
  * Documents with fewer than W hashes get ONE window over all of
  * them (any doc of ≥ K bytes yields ≥1 fingerprint).
  */
case class WinnowedHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import RollingHashes.{B, BK1, K, P}
  import WinnowedHashes.W

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    val m = n - K + 1 // number of window positions
    val out = new java.util.TreeSet[java.lang.Long]()
    if (m > 0) {
      val h = new Array[Long](m)
      var acc = 0L
      var j = 0
      while (j < K) { acc = (acc * B + (bytes(j) & 0xffL)) % P; j += 1 }
      h(0) = acc
      var i = K
      while (i < n) {
        val outByte = bytes(i - K) & 0xffL
        acc = (((acc - outByte * BK1 % P) % P + P) % P * B + (bytes(i) & 0xffL)) % P
        h(i - K + 1) = acc
        i += 1
      }
      val len = if (m < W) m else W
      var t = 0
      val last = m - len
      while (t <= last) {
        var minIdx = t
        var k = t + 1
        while (k < t + len) {
          if (h(k) <= h(minIdx)) minIdx = k // <= keeps the RIGHTMOST min
          k += 1
        }
        // 1-based position in the encoding, matching the oracle's range()
        out.add((minIdx + 1).toLong * 2147483648L + h(minIdx))
        t += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowedHashes {
  val W = 4 // winnowing window (hash positions per selection window)

  /** Register `graft_winnowed_hashes(text)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_winnowed_hashes")
}

/** 64-permutation MinHash signature of a shingle array.
  *
  * Base hash = md5 word 1 mod the Mersenne prime P = 2^31−1; each
  * permutation is a universal-family affine map (a·x + b) mod P with
  * fixed seeded constants ([[MinHashSig.permConsts]] — baked into the
  * DuckDB oracle SQL verbatim). Operands stay < 2^62 so the JVM
  * arithmetic is exact (and the equivalent Catalyst/SQL arithmetic
  * would not overflow ANSI checks either).
  */
case class MinHashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(MinHashSig.NumPerms)(MinHashSig.P)
    val as = MinHashSig.permA
    val bs = MinHashSig.permB
    var i = 0
    while (i < n) {
      val (h1, _) = Md5Words.firstTwoWords(arr.getUTF8String(i).getBytes)
      val base = h1 % MinHashSig.P
      var p = 0
      while (p < MinHashSig.NumPerms) {
        val v = (as(p) * base + bs(p)) % MinHashSig.P
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    // primitive-backed 64-slot signature (see SortedHashes — no boxing
    // in the per-document sketch path)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  val NumPerms = 64
  val P: Long = 2147483647L // Mersenne prime 2^31 − 1

  /** Seeded affine permutation constants, a ∈ [1, P−1], b ∈ [0, P−1].
    * Shared verbatim with the generated oracle SQL — change the seed
    * and the oracle regenerates consistently.
    */
  val permConsts: IndexedSeq[(Long, Long)] = {
    val rng = new scala.util.Random(7)
    IndexedSeq.fill(NumPerms)((1L + math.abs(rng.nextLong() % (P - 1)),
      math.abs(rng.nextLong() % P)))
  }
  private[functions] val permA: Array[Long] = permConsts.map(_._1).toArray
  private[functions] val permB: Array[Long] = permConsts.map(_._2).toArray

  /** Register `graft_minhash(shingles)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_minhash")
}
