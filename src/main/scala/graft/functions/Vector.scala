package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Vector kernels shared by interpreted eval and generated code. The
  * loop runs in array order (index ascending) so results are bit-equal
  * to the HOF (`zip_with`+`aggregate`) formulation AND to the DuckDB
  * oracle's sequential list functions. */
object VectorKernels {
  /** Dot product in index order (bit-equal to zip_with+aggregate).
    * EQUAL-LENGTH precondition (also [[sqDist]] and the offset
    * variants): on mismatched lengths these kernels truncate to the
    * shorter side where the zip_with HOF form returned NULL. The PQ
    * paths go through `graft.ext.Pq`, which rejects a book that does
    * not fit its space when the Column is built; any other call site
    * must check lengths itself or it gets a silently truncated sum
    * where NULL was the old signal. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Squared L2 distance in index order: acc starts at 0.0 and adds
    * (a_i−b_i)² ascending — bit-equal to the HOF
    * `aggregate(zip_with(a,b,(x,y)=>(x−y)*(x−y)), 0.0, _+_)` fold
    * (squares are non-negative, so the 0.0 seed can never flip a −0.0
    * sign). */
  def sqDist(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Cosine against a plain-array (literal) side — the identical loop
    * as the two-ArrayData kernel, for literal-codebook argmaxes that
    * would otherwise wrap each centroid per row. */
  def cosineLit(a: ArrayData, b: Array[Double]): Double =
    cosineLitOff(a, 0, b)

  /** Cosine of a's [off, off+|b|) window against a literal array —
    * the fold of `cosineLit(slice(a, off+1, |b|), b)`, same element
    * order, no slice allocation (q111's per-subspace argmax). */
  def cosineLitOff(a: ArrayData, off: Int, b: Array[Double]): Double = {
    val n = math.min(a.numElements() - off, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(off + i)
      val y = b(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Dot product of a's suffix starting at `off` with all of b, index
    * ascending — bit-equal to `dot(slice(a, off+1, |b|), b)` (same
    * elements, same fold order) without materializing the slice.
    * Equal-length precondition as [[dot]]: when fewer than |b|
    * elements remain past `off`, the sum silently truncates where the
    * zip_with HOF form would have returned NULL (`graft.ext.Pq`
    * checks its books' widths before building this). */
  def dotOff(a: ArrayData, off: Int, b: ArrayData): Double = {
    val n = math.min(a.numElements() - off, b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(off + i) * b.getDouble(i); i += 1 }
    s
  }

  /** Squared L2 distance of a's suffix at `off` against a plain-array
    * codeword — the fold of `sqDist(slice(a, off+1, |b|), b)`, same
    * order, no slice allocation. Same equal-length caveat as
    * [[dotOff]]. */
  def sqDistOffLit(a: ArrayData, off: Int, b: Array[Double]): Double = {
    val n = math.min(a.numElements() - off, b.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(off + i) - b(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Squared L2 distance of the RESIDUAL (x−c)'s suffix at `off`
    * against a codeword: d_i = (x[off+i] − c[off+i]) − b_i, summed
    * ascending — the identical two subtractions, in the identical
    * order, as materializing rv = zip_with(x, c, _−_) first and then
    * `sqDist(slice(rv, off+1, |b|), b)`; bit-equal without the
    * intermediate array. */
  def sqDistResidualLit(x: ArrayData, c: ArrayData, off: Int,
      b: Array[Double]): Double = {
    val n = math.min(math.min(x.numElements(), c.numElements()) - off, b.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = (x.getDouble(off + i) - c.getDouble(off + i)) - b(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Position-weighted e6 digest (see [[PosE6Digest]]). */
  def posE6Digest(a: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      s += (i + 1L) * Math.round(a.getDouble(i) * 1e6)
      i += 1
    }
    s
  }

  /** The same single-pass kernel over plain arrays — for group-local
    * consumers (q270's greedy rerank) whose pairwise scores must match
    * the expression and the DuckDB oracle bit-for-bit. */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i)
      val y = b(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine similarity over two double arrays in one pass. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Native cosine similarity: one whole-stage-codegen'd pass over both
  * arrays. The `zip_with`/`aggregate` HOF version allocates an
  * intermediate array and interprets a lambda per element — measured
  * hot in the ANN queries; this is preference-ladder (b): a custom
  * Expression beats a UDF beats interpreted HOFs.
  *
  * NOTE: unlike the HOF formulation (3 passes: dot, |a|, |b|), the
  * kernel is single-pass; per-term double math is identical and
  * summation order per accumulator is identical, so values are
  * bit-equal.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim needs array<double> inputs, got " +
        s"${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  def cosine_sim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Native dot product — same kernel family as CosineSimilarity; used by
  * the SRP sign-bit computation (24 dots per row against literal
  * hyperplanes). */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product needs array<double> inputs, got " +
        s"${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def dot_product(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Native squared-L2 distance — the PQ nearest-codeword metric. The
  * HOF form (`aggregate(zip_with(...))`) interprets two lambdas per
  * element; with 16 codewords × M subspaces per row the encode pass
  * paid ~2M interpreted evals per 2k-row job (measured ~1s/job in the
  * q276 profile). Same ascending fold, bit-equal values. */
case class SqL2Distance(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq_l2_dist needs array<double> inputs, got " +
        s"${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.sqDist($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SqL2Distance {
  def sq_l2_dist(a: Column, b: Column): Column =
    GraftBridge.column(SqL2Distance(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Position-weighted e6 content digest: Σ (i+1)·round(x_i·1e6) as one
  * codegen'd pass — the index-artifact staleness fingerprint's
  * per-row term. A DIGEST, not an oracle-compared value: only its
  * sensitivity contract matters (value edits and component
  * permutations flip it; IndexArtifactSpec pins the rebuild), so the
  * kernel is free to use Math.round — whose VALUE DIFFERS from the
  * replaced Spark `round(x·1e6, 0)` (BigDecimal HALF_UP, away from
  * zero) at exact negative .5 grid points: Math.round is
  * floor(x+0.5), so e.g. −2.5 rounds to −2 here and −3 there. Safe
  * because the digest is never oracle-compared and never persisted
  * across engine versions inside one artifact generation — at worst a
  * pre-kernel artifact fingerprint mismatches ONCE and triggers one
  * spurious (self-healing) rebuild. Do not "fix" a future twin to
  * compare it. The interpreted transform+aggregate form this replaces
  * cost ~240µs/row on the fingerprint scan every serve query pays. */
case class PosE6Digest(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pos_e6_digest needs array<double> input, got $t")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.posE6Digest(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorKernels.posE6Digest($a)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PosE6Digest {
  def pos_e6_digest(a: Column): Column =
    GraftBridge.column(PosE6Digest(GraftBridge.expression(a)))
}

/** Native nearest-centroid argmax over a LITERAL codebook: the cid of
  * the highest-cosine centroid, ties to the SMALLEST cid — exactly the
  * `-sort_array(array(struct(cos, -cid)...), desc)(0)("ncid")` idiom
  * it replaces, but one fused pass instead of K struct allocations +
  * an interpreted struct sort per row (the dominant per-row cost of
  * every assignment/Lloyd/encode stage at K=16).
  *
  * Ordering parity: doubles compare by Spark's SQL total order
  * (NaN greatest, NaN = NaN, -0.0 < 0.0 — `java.lang.Double.compare`
  * with the NaN-first tweak, i.e. `nanSafeCompareDoubles`), and a
  * STRICTLY-greater cosine replaces the incumbent while the scan runs
  * in ascending-cid codebook order — so ties keep the smallest cid,
  * bit-identical to the struct-sort form for every input including
  * NaN cosines (zero vectors) and ±0.0 knife-edges. */
case class NearestCosineCentroid(child: Expression,
    cids: Seq[Long], cents: Seq[Seq[Double]], offset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_cos_centroid needs array<double> input, got $t")
  }

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  /** NaN greatest, NaN == NaN, else Double.compare (Spark's
    * nanSafeCompareDoubles). */
  private def nanSafeGt(x: Double, y: Double): Boolean = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if (xn && yn) false
    else if (xn) true
    else if (yn) false
    else java.lang.Double.compare(x, y) > 0
  }

  def evalOne(v: ArrayData): Long = {
    var bestCid = cidArr(0)
    var bestCos = VectorKernels.cosineLitOff(v, offset, centArr(0))
    var k = 1
    while (k < centArr.length) {
      val c = VectorKernels.cosineLitOff(v, offset, centArr(k))
      if (nanSafeGt(c, bestCos)) { bestCos = c; bestCid = cidArr(k) }
      k += 1
    }
    bestCid
  }

  override def nullSafeEval(a: Any): Any = evalOne(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearest", this,
      classOf[NearestCosineCentroid].getName)
    defineCodeGen(ctx, ev, a => s"$ref.evalOne($a)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NearestCosineCentroid {
  def nearest_cos_centroid(v: Column, code: Seq[(Long, Seq[Double])]): Column = {
    require(code.nonEmpty, "nearest_cos_centroid: empty codebook " +
      "(the struct-sort idiom this replaces yielded NULL; the kernel " +
      "indexes cid(0) — refuse at build time instead)")
    GraftBridge.column(NearestCosineCentroid(GraftBridge.expression(v),
      code.map(_._1), code.map(_._2)))
  }

  /** Argmax over v's [offset, offset+|centroid|) window — the
    * per-subspace form (q111's sliced-vector Lloyd/encode argmax),
    * bit-equal to nearest_cos_centroid ∘ slice without the per-row
    * slice allocation. */
  def nearest_cos_centroid_off(v: Column, offset: Int,
      code: Seq[(Long, Seq[Double])]): Column = {
    require(code.nonEmpty, "nearest_cos_centroid_off: empty codebook")
    GraftBridge.column(NearestCosineCentroid(GraftBridge.expression(v),
      code.map(_._1), code.map(_._2), offset))
  }
}

/** Offset dot product against a second array column: the ADC residual
  * term dot(slice(qx, off+1, |b|), b) as ONE codegen'd pass with no
  * per-row slice allocation (the slice form allocated an array per
  * (pair × subspace) on the IVF-PQ scoring scans — measured the
  * dominant per-pair cost in the q273/q276/q283 audits). Fold order
  * identical to dot ∘ slice, so values are bit-equal. */
case class DotProductOffset(left: Expression, right: Expression, offset: Int)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok && offset >= 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product_off needs array<double> inputs and offset >= 0, got " +
        s"${left.dataType} / ${right.dataType} / $offset")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotOff(a.asInstanceOf[ArrayData], offset,
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.dotOff($a, $offset, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductOffset {
  def dot_product_off(a: Column, offset: Int, b: Column): Column =
    GraftBridge.column(DotProductOffset(
      GraftBridge.expression(a), GraftBridge.expression(b), offset))
}

/** Nearest PQ sub-codeword by squared L2 over the input's [offset,
  * offset+|codeword|) window against a LITERAL book: the cid of the
  * smallest distance, ties to the SMALLEST cid — exactly the
  * `sort_array(array(struct(sqDist(slice(v,off+1,sub), cw), cid)),
  * asc)(0)("cid")` idiom it replaces (Spark's NaN-greatest double
  * order: a finite distance always beats NaN, all-NaN keeps the
  * smallest cid), fused into one pass with no slice, struct or sort
  * allocations. `base` (optional second child) subtracts a residual
  * base inline: with base, distances are ((v−base)[off+i] − cw_i)²,
  * bit-equal to materializing rv = zip_with(v, base, _−_) first. */
case class NearestL2Code(children: Seq[Expression], offset: Int,
    cids: Seq[Long], cents: Seq[Seq[Double]])
  extends Expression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok && offset >= 0 && children.size >= 1 && children.size <= 2)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_l2_code needs 1-2 array<double> inputs and offset >= 0")
  }

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  /** finite < NaN, NaN never < NaN — Spark's nanSafeCompareDoubles
    * ascending. */
  private def nanSafeLt(x: Double, y: Double): Boolean = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if (xn) false
    else if (yn) true
    else java.lang.Double.compare(x, y) < 0
  }

  def evalOne(v: ArrayData): Long = {
    var bestCid = cidArr(0)
    var bestD = VectorKernels.sqDistOffLit(v, offset, centArr(0))
    var k = 1
    while (k < centArr.length) {
      val d = VectorKernels.sqDistOffLit(v, offset, centArr(k))
      if (nanSafeLt(d, bestD)) { bestD = d; bestCid = cidArr(k) }
      k += 1
    }
    bestCid
  }

  def evalResidual(x: ArrayData, c: ArrayData): Long = {
    var bestCid = cidArr(0)
    var bestD = VectorKernels.sqDistResidualLit(x, c, offset, centArr(0))
    var k = 1
    while (k < centArr.length) {
      val d = VectorKernels.sqDistResidualLit(x, c, offset, centArr(k))
      if (nanSafeLt(d, bestD)) { bestD = d; bestCid = cidArr(k) }
      k += 1
    }
    bestCid
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = children.head.eval(input)
    if (v == null) return null
    if (children.size == 1) evalOne(v.asInstanceOf[ArrayData])
    else {
      val c = children(1).eval(input)
      if (c == null) null
      else evalResidual(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestL2", this,
      classOf[NearestL2Code].getName)
    if (children.size == 1)
      nullSafeCodeGen1(ctx, ev, a => s"${ev.value} = $ref.evalOne($a);")
    else {
      val a = children(0).genCode(ctx)
      val b = children(1).genCode(ctx)
      val code =
        code"""
          ${a.code}
          ${b.code}
          boolean ${ev.isNull} = ${a.isNull} || ${b.isNull};
          long ${ev.value} = -1L;
          if (!${ev.isNull}) {
            ${ev.value} = $ref.evalResidual(${a.value}, ${b.value});
          }"""
      ev.copy(code = code)
    }
  }

  private def nullSafeCodeGen1(ctx: CodegenContext, ev: ExprCode,
      f: String => String): ExprCode = {
    val a = children.head.genCode(ctx)
    val code =
      code"""
        ${a.code}
        boolean ${ev.isNull} = ${a.isNull};
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          ${f(a.value.toString)}
        }"""
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object NearestL2Code {
  /** Argmin over v's [offset, offset+sub) window. */
  def nearest_l2_code(v: Column, offset: Int,
      code: Seq[(Long, Seq[Double])]): Column = {
    require(code.nonEmpty, "nearest_l2_code: empty codebook")
    GraftBridge.column(NearestL2Code(Seq(GraftBridge.expression(v)),
      offset, code.map(_._1), code.map(_._2)))
  }

  /** Argmin over the residual (v−base)'s [offset, offset+sub) window —
    * fuses the zip_with residual materialization into the scan. */
  def nearest_l2_code_residual(v: Column, base: Column, offset: Int,
      code: Seq[(Long, Seq[Double])]): Column = {
    require(code.nonEmpty, "nearest_l2_code_residual: empty codebook")
    GraftBridge.column(NearestL2Code(
      Seq(GraftBridge.expression(v), GraftBridge.expression(base)),
      offset, code.map(_._1), code.map(_._2)))
  }
}
