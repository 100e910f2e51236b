package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the dense-vector hot loop.
  *
  * `zip_with`/`aggregate` lambda composition is evaluated interpreted —
  * fine at the edges, but the inner loop of a k-NN or all-pairs join runs
  * per candidate pair. Each expression here keeps its primitive loop in
  * one [[VectorKernels]] method, called by `nullSafeEval` and by the
  * generated code inside whole-stage codegen (`doGenCode`) alike — the
  * preference order the build calls for: native Expression > composition
  * > UDF.
  *
  * Inputs are `ARRAY<DOUBLE>` (cast floats once at the scan edge —
  * [[graft.functions.VectorFunctions.toDouble]]); elements are assumed
  * non-null (embedding vectors). Summation order matches the sequential
  * `aggregate(zip_with(...))` composition, so swapping implementations does
  * not move results even at the last ulp.
  */
object VectorKernels {

  /** Σ aᵢ·bᵢ over the common prefix of the two arrays. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }

  /** Single-pass cosine similarity; null when either vector has zero norm. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  /** Σ aᵢ·bᵢ over the common prefix, exact long arithmetic. */
  def longDot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var i = 0
    while (i < n) { dot += a.getLong(i) * b.getLong(i); i += 1 }
    dot
  }

  /** Σ (aᵢ−bᵢ)² over the common prefix, exact long arithmetic. */
  def longSqDist(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i); acc += d * d; i += 1
    }
    acc
  }

  /** [[HyperplaneSig]]'s signature of `arr` against the `nbits × dim`
    * precomputed plane weights `w`. */
  def hyperplaneSig(arr: ArrayData, w: Array[Double], dim: Int, nbits: Int): Long = {
    // composition parity: wrong length OR any null element nulls the
    // zip_with products → every proj null → all bits 0
    if (arr.numElements() != dim) return 0L
    var d = 0
    while (d < dim) {
      if (arr.isNullAt(d)) return 0L
      d += 1
    }
    var out = 0L
    var p = 0
    while (p < nbits) {
      var acc = 0.0
      var i = 0
      while (i < dim) {
        acc += arr.getDouble(i) * w(p * dim + i)
        i += 1
      }
      // Spark SQL comparison: NaN > 0 is TRUE (NaN sorts greatest)
      if (acc > 0 || java.lang.Double.isNaN(acc)) out |= 1L << p
      p += 1
    }
    out
  }

  /** [[DoubleSortKey]]'s order-preserving key. */
  def doubleSortKey(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    bits ^ ((bits >> 63) & 0x7fffffffffffffffL)
  }
}

/** A fold of two `ARRAY<elem>` vectors into one `elem`. Serializable
  * itself: Java deserialization needs the first non-serializable
  * superclass to have a no-arg constructor, which this one lacks. */
abstract class VectorFold(elem: DataType)
    extends BinaryExpression with KernelExpression with Serializable {
  override def dataType: DataType = elem
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(elem), ArrayType(elem))
}

/** Σ aᵢ·bᵢ over the common prefix of the two arrays. */
case class DotProduct(left: Expression, right: Expression) extends VectorFold(DoubleType) {
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${kernelRef(VectorKernels)}.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Single-pass cosine similarity; NULL when either vector has zero norm. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorFold(DoubleType) {
  override def prettyName: String = "cosine_sim"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      boxedKernelCall(ctx, ev, s"${kernelRef(VectorKernels)}.cosine($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Long-typed folds for the fixed-point (integer-exact) vector paths —
  * [[graft.operators.Similarity.semanticDedup]]'s cell assignment and
  * intra-cell cosine test run per candidate pair, and the interpreted
  * `aggregate(zip_with(...))` lambdas measured ~4× the kernel cost there.
  * Long addition is associative and exact, so swapping the composition
  * for the kernel cannot move a single bit of any result. */
case class LongDotProduct(left: Expression, right: Expression)
    extends VectorFold(LongType) {
  override def prettyName: String = "long_dot"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.longDot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${kernelRef(VectorKernels)}.longDot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ (aᵢ−bᵢ)² over the common prefix, exact long arithmetic. */
case class LongSquaredDistance(left: Expression, right: Expression)
    extends VectorFold(LongType) {
  override def prettyName: String = "long_sq_dist"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.longSqDist(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${kernelRef(VectorKernels)}.longSqDist($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd random-hyperplane LSH signature with the hash-derived plane
  * weights PRECOMPUTED once at plan construction (nbits×dim doubles in a
  * reference object) — the lambda composition in
  * [[graft.functions.VectorFunctions.hyperplaneSignatureComposed]]
  * re-derived every weight with two xxhash calls per (plane, element) per
  * ROW on the interpreted HOF path, measured ~1.9 s over the sf0.1
  * embeddings and the dominant cost of the LSH ANN query. Weight recipe and
  * summation order match the composition exactly (xxhash64(p, d) =
  * hashInt(d, hashInt(p, 42)); % 1000003 → /1000003.0; sequential
  * multiply-add); a vector whose length differs from `dim` or carries a
  * null element yields signature 0 exactly as the composition's null-padded
  * zip_with does, and a NaN projection sets the bit (Spark's NaN > 0 is
  * true). One DELIBERATE divergence: a NULL input vector yields NULL (the
  * composition produced 0, silently landing null-embedding rows in bucket
  * 0 of every LSH table as candidates — NULL drops them from the band
  * equi-join instead). Parity + divergences pinned in
  * VectorExpressionsSpec. */
case class HyperplaneSig(child: Expression, dim: Int, nbits: Int,
                         portable: Boolean = false)
    extends UnaryExpression with KernelExpression {

  require(dim >= 1, s"dim $dim < 1")
  require(nbits >= 1 && nbits <= 64, s"nbits $nbits outside [1, 64]")

  override def prettyName: String =
    if (portable) "hyperplane_sig_portable" else "hyperplane_sig"
  override def dataType: DataType = LongType
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  // default: identical derivation to (xxhash64(lit(p), d) % 1000003L)
  //          / 1000003.0 (the composed spec reference).
  // portable: md5-derived, signed-recentered ([[PortableHashKernel]]) so a
  //          DuckDB oracle can regenerate the SAME plane grid from
  //          md5('hp:p:d') — weights in (-1, 1) either way. Only the plane
  //          grid changes; projection loop and bit rule are shared.
  private lazy val weights: Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val w = new Array[Double](nbits * dim)
    var p = 0
    while (p < nbits) {
      val hp = if (portable) 0L else XXH64.hashInt(p, 42L)
      var d = 0
      while (d < dim) {
        w(p * dim + d) =
          if (portable)
            PortableHashKernel.md5Signed(s"hp:$p:$d").toDouble / 1000003.0
          else (XXH64.hashInt(d, hp) % 1000003L).toDouble / 1000003.0
        d += 1
      }
      p += 1
    }
    w
  }

  override def nullSafeEval(input: Any): Any =
    VectorKernels.hyperplaneSig(input.asInstanceOf[ArrayData], weights, dim, nbits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("hyperplaneWeights", weights, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"${kernelRef(VectorKernels)}.hyperplaneSig($a, $w, $dim, $nbits)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Order-preserving 64-bit key for a DOUBLE: `key(a) < key(b) ⟺ a
  * orders before b` under Spark's double ordering (NaN greatest). The
  * IEEE-754 bit trick — `bits ^ ((bits >> 63) & 0x7fff…fL)` on
  * `doubleToLongBits` (Lucene's doubleToSortableLong) — flips everything
  * BUT the sign bit for negatives and leaves non-negatives alone, making
  * the numeric order a SIGNED-long order (the `| Long.MinValue` variant
  * of the trick maps to the unsigned-comparison domain instead — wrong
  * under the decimal packing below, which compares signed; caught by the
  * q39 hash gate on first presentation). The canonical NaN encoding
  * lands above +Infinity, matching Spark's NaN-greatest comparator.
  *
  * Purpose: float orderings (a cosine similarity) can't ride the
  * decimal-packed argmin/argmax HashAggregate directly — this key makes
  * them packable, so `min/max(key·M + tiebreak)` replaces a
  * `min_by/max_by(payload, struct(...))` whose immutable struct buffer
  * silently plans SortAggregateExec (the q95/q79/q88 lesson; q39's
  * N·K assignment with vectors riding the sort was the last one).
  * Divergence from Spark struct ordering: −0.0 keys below 0.0 where
  * Spark compares them equal — an argmin tie between −0.0 and 0.0 of the
  * same quantity is the only observable case, unreachable for the cosine
  * inputs this serves (pinned in VectorExpressionsSpec). */
case class DoubleSortKey(child: Expression) extends UnaryExpression with KernelExpression {
  override def prettyName: String = "double_sort_key"
  override def dataType: DataType = LongType
  override protected def inputTypes: Seq[DataType] = Seq(DoubleType)

  override def nullSafeEval(input: Any): Any =
    VectorKernels.doubleSortKey(input.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, d => s"${kernelRef(VectorKernels)}.doubleSortKey($d)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
