package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Codegen'd dot product over two double arrays (SURVEY.md §2.B10 — the one
  * place a custom Catalyst Expression is genuinely warranted here).
  *
  * The HOF formulation `aggregate(zip_with(a, b, (x,y) -> x*y), ...)` is
  * CodegenFallback: every element round-trips through boxed Doubles and
  * megamorphic lambda dispatch, and a 2M-pair similarity join allocates
  * enough garbage to degrade the whole session (measured: 40s vs 4s for the
  * same query). This expression reads primitive doubles straight out of
  * UnsafeArrayData in a tight loop, in both codegen and interpreted mode,
  * summing in ascending index order — the exact evaluation order the DuckDB
  * oracle's list_reduce mirror uses, so results stay bit-identical.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // call sites guarantee array<double> inputs (built via transform-cast)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd squared L2 distance over two long arrays: Σ (a_i − b_i)²,
  * summed in ascending index order in plain long arithmetic — bit-identical
  * (including any overflow wrap) to the interpreted HOF
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0L, (s,x) -> s+x)` it
  * replaces (r16 optimization, guide §4: the HOF form is CodegenFallback —
  * boxed Longs and megamorphic lambda dispatch on every element — and sits
  * on the hot path of every ANN probe/assign/re-rank and k-means round).
  *
  * DIVERGENCE FROM THE HOF ON MALFORMED INPUT (ADVICE r16): on a LENGTH
  * MISMATCH the HOF's zip_with null-pads and the aggregate then returns
  * NULL, while this kernel silently truncates to min(length); a null
  * ELEMENT likewise nulls the HOF result but is read as 0 here. Every
  * call site feeds fixed-width non-null embedding arrays (one schema, one
  * writer), where the two are bit-identical — the spec pins exactly that
  * domain. A future caller with ragged or nullable arrays must pre-guard
  * (size filter / array_compact) or extend the kernel, not assume the
  * HOF's null semantics.
  */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sqdist_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { val d = x.getLong(i) - y.getLong(i); s += d * d; i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $x.getLong($i) - $y.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd dot product over two long arrays: Σ a_i·b_i in ascending index
  * order, plain long arithmetic — bit-identical to the interpreted
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (s,x) -> s+x)` it replaces
  * (PCA projections, JL sums, trace terms). `dotLong(v, v)` is the exact
  * squared norm. Same malformed-input divergence as [[SqDistLong]]:
  * truncates to min(length) and reads null elements as 0 where the HOF
  * returns NULL — callers must feed fixed-width non-null arrays. */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getLong($i) * $y.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd upper-triangle self-products of one long array: for a length-d
  * input, the d·(d+1)/2 products a_i·a_j for i ≤ j in row-major order
  * (i ascending, then j from i to d−1) — exactly the element order of the
  * nested-HOF expansion
  * `flatten(transform(a, (x,i) -> transform(slice(a, i+1, d-i), (y,k) -> x*y)))`
  * it replaces in the exact-covariance / raw-moment family (r16: the HOF
  * form allocated interpreted structs per cell — 2,080 per row — and was the
  * whole cost of q_pca_cov). Pair (i,j) lives at position
  * i·d − i·(i−1)/2 + (j − i); consumers recover (i,j) from the exploded
  * position via literal lookup arrays built with [[VectorFunctions.triIdx]].
  */
case class UpperTriProducts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_tri_products"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long](n * (n + 1) / 2)
    var p = 0
    var i = 0
    while (i < n) {
      val xi = x.getLong(i)
      var j = i
      while (j < n) { out(p) = xi * x.getLong(j); p += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val xi = ctx.freshName("xi")
      val out = ctx.freshName("out")
      s"""
         |int $n = $x.numElements();
         |long[] $out = new long[$n * ($n + 1) / 2];
         |int $p = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xi = $x.getLong($i);
         |  for (int $j = $i; $j < $n; $j++) {
         |    $out[$p++] = $xi * $x.getLong($j);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd elementwise difference over two long arrays: out_i = a_i − b_i
  * over min(length), ascending order — bit-identical on fixed-width
  * non-null arrays to the interpreted `zip_with(a, b, (x, y) -> x - y)` it
  * replaces (r17: the IVFADC residual and the PCA delta are computed per
  * CORPUS row per rep). Same malformed-input divergence as [[SqDistLong]]:
  * truncates instead of null-padding, reads null elements as 0. */
case class SubLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sub_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = x.getLong(i) - y.getLong(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.subLong($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static entry points for generated code that needs a method call. */
object VectorOps {
  def subLong(a: ArrayData, b: ArrayData): ArrayData = {
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = a.getLong(i) - b.getLong(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Product-quantization hot-path loops (r17), shared by the interpreted
  * and generated code of [[PqEncode]] / [[PqLut]] / [[PqAdist]]. The HOF
  * formulations they replace (`transform(sequence(0, M-1), s -> ...)`
  * chains with [[SqDistLong]] inside, and an interpreted `aggregate` per
  * candidate for the ADC sum) are CodegenFallback at the lambda layer:
  * every subspace step pays boxed-index lambda dispatch and a `slice`
  * allocation, on every corpus row (encode) and every candidate pair
  * (adist). Dimensions are DERIVED from the inputs (subdim = first
  * codebook entry's width, M = |v| / subdim, Ks = |cb| / M), so these
  * kernels carry no copy of the PQ constants. Distance semantics are
  * [[SqDistLong]]'s exactly (ascending-index long fold over min(length);
  * same malformed-input divergence from the HOFs — fixed-width non-null
  * arrays only). Argmin tie-break: FIRST index of the minimum, matching
  * `array_position(d, array_min(d)) - 1`.
  */
object PqOps {
  /** Per-subspace argmin codes of `v` against the flattened s-major
    * codebook — `transform(sequence(0, M-1), s -> array_position(d_s,
    * array_min(d_s)) - 1)` in one compiled pass. */
  def encode(cb: ArrayData, v: ArrayData): ArrayData = {
    val subdim = cb.getArray(0).numElements()
    val m = v.numElements() / subdim
    val ks = cb.numElements() / m
    val codes = new Array[Long](m)
    var s = 0
    while (s < m) {
      var best = Long.MaxValue
      var arg = 0
      var j = 0
      while (j < ks) {
        val c = cb.getArray(s * ks + j)
        val n = math.min(subdim, c.numElements())
        var d = 0L
        var i = 0
        while (i < n) {
          val t = v.getLong(s * subdim + i) - c.getLong(i); d += t * t; i += 1
        }
        if (d < best) { best = d; arg = j }
        j += 1
      }
      codes(s) = arg.toLong
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** The flattened s-major M×Ks ADC lookup table of `v` against the
    * codebook — `flatten(transform(..., s -> pqDists(...)))` in one pass. */
  def lut(cb: ArrayData, v: ArrayData): ArrayData = {
    val subdim = cb.getArray(0).numElements()
    val m = v.numElements() / subdim
    val ks = cb.numElements() / m
    val out = new Array[Long](m * ks)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ks) {
        val c = cb.getArray(s * ks + j)
        val n = math.min(subdim, c.numElements())
        var d = 0L
        var i = 0
        while (i < n) {
          val t = v.getLong(s * subdim + i) - c.getLong(i); d += t * t; i += 1
        }
        out(s * ks + j) = d
        j += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ADC score: Σ_s lut[s·Ks + codes[s]] in ascending-s long arithmetic —
    * the interpreted `aggregate(sequence(...), 0L, (acc, s) -> acc +
    * element_at(...))` per candidate pair, compiled. */
  def adist(lut: ArrayData, codes: ArrayData): Long = {
    val m = codes.numElements()
    val ks = lut.numElements() / m
    var acc = 0L
    var s = 0
    while (s < m) {
      acc += lut.getLong(s * ks + codes.getLong(s).toInt)
      s += 1
    }
    acc
  }
}

/** `graft_pq_encode(cb, v)` → array<bigint> of per-subspace argmin codes
  * ([[PqOps.encode]]). */
case class PqEncode(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override def nullSafeEval(a: Any, b: Any): Any =
    PqOps.encode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqOps.encode($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_pq_lut(cb, v)` → array<bigint>, the flattened M×Ks ADC lookup
  * table ([[PqOps.lut]]). */
case class PqLut(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_lut"
  override def nullSafeEval(a: Any, b: Any): Any =
    PqOps.lut(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqOps.lut($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_pq_adist(lut, codes)` → bigint ADC score ([[PqOps.adist]]). */
case class PqAdist(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_adist"
  override def nullSafeEval(a: Any, b: Any): Any =
    PqOps.adist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqOps.adist($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Column API for [[DotProduct]]; `dot(v, v)` is the squared L2 norm. */
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Column API for [[SqDistLong]]. */
  def sqDistLong(a: Column, b: Column): Column =
    ColumnShim.column(SqDistLong(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Column API for [[DotLong]]. */
  def dotLong(a: Column, b: Column): Column =
    ColumnShim.column(DotLong(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Column API for [[UpperTriProducts]]. */
  def triProducts(a: Column): Column =
    ColumnShim.column(UpperTriProducts(ColumnShim.expression(a)))

  /** Column API for [[SubLong]]. */
  def subLong(a: Column, b: Column): Column =
    ColumnShim.column(SubLong(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Column API for [[PqEncode]]. */
  def pqEncode(cb: Column, v: Column): Column =
    ColumnShim.column(PqEncode(ColumnShim.expression(cb), ColumnShim.expression(v)))

  /** Column API for [[PqLut]]. */
  def pqLut(cb: Column, v: Column): Column =
    ColumnShim.column(PqLut(ColumnShim.expression(cb), ColumnShim.expression(v)))

  /** Column API for [[PqAdist]]. */
  def pqAdist(lut: Column, codes: Column): Column =
    ColumnShim.column(PqAdist(ColumnShim.expression(lut), ColumnShim.expression(codes)))

  /** (i, j) index vectors for a length-d [[UpperTriProducts]] output, in
    * its row-major position order — the literal lookup consumers attach to
    * the exploded position. */
  def triIdx(d: Int): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val pairs = for { i <- 0 until d; j <- i until d } yield (i.toLong, j.toLong)
    (pairs.map(_._1), pairs.map(_._2))
  }
}
