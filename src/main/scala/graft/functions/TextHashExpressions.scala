package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd text-hashing kernels for the near-duplicate family
  * (SURVEY.md §2.B9). The relational formulation of shingling + MinHash +
  * SimHash — `transform(... md5 ... conv ...)` HOF chains — is
  * CodegenFallback: every shingle round-trips through boxed values, a hex
  * string, and a base-conversion Decimal, and the 64-permutation MinHash
  * re-walks the shingle array 64 times interpreted (measured: the three
  * near-dup queries spent 370+ s of a 490 s bench in exactly these
  * expressions). These expressions do the same math in one tight compiled
  * pass per document and stay inside whole-stage codegen, the same remedy
  * already proven by [[DotProduct]].
  *
  * Hash semantics are pinned to the engine-portable definition the DuckDB
  * oracle uses: a shingle's hash is the top 60 bits of the MD5 of its UTF-8
  * bytes — exactly `conv(substring(md5(s),1,15),16,10)` — so
  * [[SimHash60]] fingerprints stay bit-identical to the SQL oracle.
  *
  * Reference provenance: /root/reference is an empty checkout (SURVEY.md
  * §0); the algorithms follow Broder (SEQUENCES'97), Charikar (STOC'02) and
  * the band construction of Mining of Massive Datasets ch. 3.
  */
object TextHash {

  /** MinHash modulus: 2^31-1, Mersenne prime. Affine coefficients a,x < P
    * keep a*x + b < 2^62 — the whole family stays in exact Long arithmetic.
    */
  val P = 2147483647L
  val NumHashes = 64
  val BandRows = 4 // 16 bands x 4 rows: P(catch | j=0.9) ~ 1-3e-8
  val NumBands: Int = NumHashes / BandRows

  /** Deterministic LCG-derived hash-family coefficients (fixed seeds — run-
    * to-run and engine-to-oracle stability is required, SURVEY.md §7).
    */
  private def lcg(seed: Long, i: Int): Long =
    (((seed + i) * 6364136223846793005L + 1442695040888963407L) >>> 11) % (P - 1) + 1
  private val A: Array[Long] = Array.tabulate(NumHashes)(lcg(0x5DEECE66DL, _))
  private val B: Array[Long] = Array.tabulate(NumHashes)(lcg(0x2545F4914F6CDD1DL, _))

  /** Test access to the permutation coefficients (TextHashSpec). */
  private[graft] def coefA(i: Int): Long = A(i)
  private[graft] def coefB(i: Int): Long = B(i)

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Top 60 bits of MD5(bytes) == `conv(substring(md5(s),1,15),16,10)`:
    * 15 hex chars = bytes 0..6 plus the high nibble of byte 7.
    */
  def md5Top60(bytes: Array[Byte]): Long = {
    val d = md5Local.get()
    d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    (v << 4) | ((h(7) & 0xffL) >>> 4)
  }

  /** Distinct 3-gram word shingles of `text` (documents shorter than 3
    * tokens fall back to their token set — same CASE as the SQL oracle),
    * each hashed with [[md5Top60]]; returned sorted ascending so set
    * intersection downstream is a two-pointer merge. Tokenization matches
    * `split(text, ' ')` / DuckDB `string_split`: single-space separator,
    * empty tokens preserved.
    */
  def shingleHashes(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val out = new java.util.ArrayList[String]()
    if (words.length >= 3) {
      var i = 0
      val sb = new java.lang.StringBuilder()
      while (i + 2 < words.length) {
        sb.setLength(0)
        sb.append(words(i)).append(' ').append(words(i + 1)).append(' ').append(words(i + 2))
        val s = sb.toString
        if (seen.add(s)) out.add(s)
        i += 1
      }
    } else {
      var i = 0
      while (i < words.length) { if (seen.add(words(i))) out.add(words(i)); i += 1 }
    }
    val n = out.size()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = md5Top60(out.get(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    java.util.Arrays.sort(hs)
    UnsafeArrayData.fromPrimitiveArray(hs)
  }

  /** The 64 MinHash signature values: per permutation i, min over shingles
    * of (A(i)*(h%P) + B(i)) % P — identical values to the relational
    * `array_min(transform(hs, ...))` form (and to the DuckDB oracle's
    * list_min over the same affine family).
    */
  def minHashSigArray(hs: ArrayData): Array[Long] = {
    val n = hs.numElements()
    val mins = new Array[Long](NumHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = hs.getLong(i) % P
      var j = 0
      while (j < NumHashes) {
        val v = (A(j) * x + B(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  def minHashSig(hs: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(minHashSigArray(hs))

  /** 16 MinHash band keys over the shingle-hash array: each band's 4
    * signature values are mixed into one Long key. Key equality is implied
    * by signature equality, so the band-bucket join loses no true
    * candidate; mixing collisions only add false candidates, which the
    * exact verify removes.
    */
  def minHashBands(hs: ArrayData): ArrayData = {
    val mins = minHashSigArray(hs)
    val bands = new Array[Long](NumBands)
    var b = 0
    while (b < NumBands) {
      var k = 1125899906842597L
      var r = 0
      while (r < BandRows) { k = k * 1000003L + mins(b * BandRows + r); r += 1 }
      bands(b) = k
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bands)
  }

  /** 60-bit SimHash (Charikar STOC'02) over the shingle-hash array: bit b is
    * set iff sum over shingles of (+1 if bit b of hash else -1) > 0.
    * Bit-identical to the SQL-oracle formulation over the same hashes.
    */
  def simHash60(hs: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val x = hs.getLong(i)
      var b = 0
      while (b < 60) {
        if (((x >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var f = 0L
    var b = 0
    while (b < 60) { if (counts(b) > 0) f |= (1L << b); b += 1 }
    f
  }

  /** All positional word bigrams of `text` (duplicates kept — these feed a
    * count aggregation), one compiled pass. Tokenization matches
    * `split(text, ' ')`: single-space separator, empty tokens preserved.
    */
  def bigrams(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](words.length - 1)
    var i = 0
    val sb = new java.lang.StringBuilder()
    while (i + 1 < words.length) {
      sb.setLength(0)
      sb.append(words(i)).append(' ').append(words(i + 1))
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Skip-gram window width — [[graft.operators.TextAnalysis.SkipWindow]]
    * reads this value so the kernel, the operator docs and the oracle
    * generator can never drift. */
  val SkipWindow = 2

  /** All skip-gram (center, context) pairs of `text` within ±[[SkipWindow]]
    * positions, BOTH directions emitted (r17) — the flat multiset the
    * (center, context) count aggregation consumes. Replaces the positional
    * self-join (tokens × offsets equi-joined back to tokens on
    * (doc_id, pos+d)) plus the union that re-planned the join subtree per
    * direction: one compiled pass per document, no join, no corpus-position
    * broadcast. Tokenization matches `split(text, ' ')` (empty tokens
    * preserved), pair multiplicity matches the join exactly: one forward +
    * one reversed entry per (i, d) with i+d < n, d ∈ 1..[[SkipWindow]].
    */
  def skipgramPairs(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val n = words.length
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val u = new Array[UTF8String](n)
    var i = 0
    while (i < n) { u(i) = UTF8String.fromString(words(i)); i += 1 }
    var np = 0
    var d = 1
    while (d <= SkipWindow) { if (n > d) np += (n - d) * 2; d += 1 }
    val out = new Array[Any](np)
    var k = 0
    i = 0
    while (i < n) {
      var dd = 1
      while (dd <= SkipWindow && i + dd < n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](u(i), u(i + dd)))
        out(k + 1) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](u(i + dd), u(i)))
        k += 2
        dd += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[md5Top60]] over a string's UTF-8 bytes — the codegen entry point
    * for [[Md5Top60]] (r16): value-identical to the relational
    * `cast(conv(substring(md5(s),1,15),16,10) as bigint)` but without the
    * 32-char hex render, the substring, and the base-conversion Decimal
    * parse that form allocates per value. */
  def md5Top60Str(s: UTF8String): Long = md5Top60(s.getBytes)

  /** Winnowing window width — [[graft.operators.TextAnalysis.WinnowW]]
    * reads this value so the kernel, the relational formulation's docs and
    * the oracle generator can never drift. */
  val WinnowW = 4

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03), one compiled pass per document (r16 — the HOF
    * formulation built every positional 3-gram hash and every window
    * minimum through interpreted lambdas and was the whole cost of
    * q_winnow): positional 3-gram [[md5Top60]] hashes, [[WinnowW]]-wide
    * window minima, distinct + sorted ascending. Documents with ≥ 1 but
    * < [[WinnowW]] 3-grams keep their global minimum; documents under 3
    * tokens return an empty array (the caller's explode drops them —
    * same exclusion as the relational filter and the oracle). Values are
    * bit-identical to `conv(substring(md5(gram),1,15),16,10)` window
    * minima. */
  def winnowHashes(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val nG = words.length - 2
    if (nG <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val hp = new Array[Long](nG)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < nG) {
      sb.setLength(0)
      sb.append(words(i)).append(' ').append(words(i + 1)).append(' ').append(words(i + 2))
      hp(i) = md5Top60(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    val sel = new java.util.TreeSet[java.lang.Long]()
    if (nG >= WinnowW) {
      var j = 0
      while (j + WinnowW <= nG) {
        var m = hp(j)
        var k = j + 1
        while (k < j + WinnowW) { if (hp(k) < m) m = hp(k); k += 1 }
        sel.add(m)
        j += 1
      }
    } else {
      var m = hp(0)
      var k = 1
      while (k < nG) { if (hp(k) < m) m = hp(k); k += 1 }
      sel.add(m)
    }
    val out = new Array[Long](sel.size())
    var p = 0
    val it = sel.iterator()
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Exact Jaccard of two sorted distinct Long arrays (two-pointer merge):
    * |A∩B| / (|A|+|B|-|A∩B|), one double division at the end — bit-identical
    * to the oracle's list_intersect/len formulation.
    */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    // Empty-vs-empty is defined as 0.0 (not NaN): NaN >= tau evaluates TRUE
    // in Spark's ordering, so an undefined quotient would leak empty pairs
    // through threshold filters (reachable via the registered SQL function
    // graft_jaccard_sorted even though shingleHashes never emits empties).
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** `shingle_hashes(text)` → sorted distinct array<bigint> of md5-60 3-gram
  * shingle hashes. One compiled pass per document, inside codegen.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    TextHash.shingleHashes(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.shingleHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_sig(hs)` → array<bigint> of the 64 raw MinHash signature
  * values (oracle-checkable — see q_minhash_sig).
  */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    TextHash.minHashSig(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.minHashSig($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_bands(hs)` → array<bigint> of 16 LSH band keys (64 permutations
  * x 4 rows/band) computed in one compiled pass over the shingle hashes.
  */
case class MinHashBands(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  override def nullSafeEval(input: Any): Any =
    TextHash.minHashBands(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.minHashBands($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `simhash60(hs)` → 60-bit SimHash fingerprint as bigint. */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def nullSafeEval(input: Any): Any =
    TextHash.simHash60(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simHash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bigrams(text)` → array<string> of all positional word bigrams. */
case class Bigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bigrams"

  override def nullSafeEval(input: Any): Any =
    TextHash.bigrams(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.bigrams($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `jaccard_sorted(a, b)` → exact Jaccard similarity of two sorted distinct
  * bigint arrays (two-pointer, no per-call hash-set allocation — the
  * interpreted `array_intersect` this replaces measured ~115µs/call).
  */
case class JaccardSorted(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHash.jaccardSorted($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `md5_top60(s)` → bigint: the house engine-portable 60-bit hash
  * (top 60 bits of MD5) as one codegen call — see [[TextHash.md5Top60Str]].
  */
case class Md5Top60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_top60"

  override def nullSafeEval(input: Any): Any =
    TextHash.md5Top60Str(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.md5Top60Str($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `skipgram_pairs(text)` → array<struct<center,context>> of all
  * ±[[TextHash.SkipWindow]] skip-gram pairs, both directions
  * ([[TextHash.skipgramPairs]]), one compiled pass per doc.
  */
case class SkipgramPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("center", StringType, nullable = false),
      StructField("context", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_skipgram_pairs"

  override def nullSafeEval(input: Any): Any =
    TextHash.skipgramPairs(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.skipgramPairs($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `winnow_hashes(text)` → sorted distinct array<bigint> of winnowing
  * fingerprints ([[TextHash.winnowHashes]]), one compiled pass per doc.
  */
case class WinnowHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_hashes"

  override def nullSafeEval(input: Any): Any =
    TextHash.winnowHashes(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.winnowHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextHashFunctions {
  def shingleHashes(text: Column): Column =
    ColumnShim.column(ShingleHashes(ColumnShim.expression(text)))
  def winnowHashes(text: Column): Column =
    ColumnShim.column(WinnowHashes(ColumnShim.expression(text)))
  def md5Top60(s: Column): Column =
    ColumnShim.column(Md5Top60(ColumnShim.expression(s)))
  def minHashBands(hs: Column): Column =
    ColumnShim.column(MinHashBands(ColumnShim.expression(hs)))
  def minHashSig(hs: Column): Column =
    ColumnShim.column(MinHashSig(ColumnShim.expression(hs)))
  def simHash60(hs: Column): Column =
    ColumnShim.column(SimHash60(ColumnShim.expression(hs)))
  def jaccardSorted(a: Column, b: Column): Column =
    ColumnShim.column(JaccardSorted(ColumnShim.expression(a), ColumnShim.expression(b)))
  def bigrams(text: Column): Column =
    ColumnShim.column(Bigrams(ColumnShim.expression(text)))
  def skipgramPairs(text: Column): Column =
    ColumnShim.column(SkipgramPairs(ColumnShim.expression(text)))
}
