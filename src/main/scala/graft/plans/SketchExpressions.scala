package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** MinHash signature as one codegen'd pass.
  *
  * The declarative form (`array_min(transform(hashes, h → (aᵢh+bᵢ) mod p))`
  * × k) evaluates k interpreted lambdas over the shingle array — ~20k
  * lambda dispatches per document for k=64. This expression computes all k
  * minima in a single fused loop over the input (shingle-hash array →
  * array<long> of k minima); coefficients ride along as reference objects
  * in the generated class.
  */
case class MinHashSignature(
    child: Expression,
    coefA: Seq[Long],
    coefB: Seq[Long],
    prime: Long) extends UnaryExpression {

  // Seq (not Array) coefficients are load-bearing for plan identity:
  // case-class equality over Array fields is REFERENCE equality, so two
  // builds of the same MinHash plan would never compare equal — which
  // broke every canonicalized-plan memo keyed on an LSH subtree
  // (Components re-persisted its edges and re-ran the whole LSH pipeline
  // on every rebuild) and Spark's own CacheManager/ReuseExchange
  // matching through this expression.
  require(coefA.length == coefB.length && coefA.nonEmpty)

  @transient private lazy val caArr = coefA.toArray
  @transient private lazy val cbArr = coefB.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expects array<long>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val k = caArr.length
    val ca = caArr
    val cb = cbArr
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = arr.getLong(i)
        var j = 0
        while (j < k) {
          var v = (ca(j) * x + cb(j)) % prime
          if (v < 0) v += prime
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val ca = ctx.addReferenceObj("minhashCoefA", caArr, "long[]")
      val cb = ctx.addReferenceObj("minhashCoefB", cbArr, "long[]")
      val k = coefA.length
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $arr.numElements();
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $x = $arr.getLong($i);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $v = ($ca[$j] * $x + $cb[$j]) % ${prime}L;
         |      if ($v < 0) $v += ${prime}L;
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** HyperLogLog estimate of a stored register array
  * ([[graft.functions.HllSketch]] binary sketch → approximate distinct
  * count, as a scalar column so stored sketches can be queried
  * relationally). One fused loop; same deterministic arithmetic as the
  * driver-side [[graft.functions.HllSketch.estimate]] (they share it). */
case class HllEstimate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expects a binary sketch, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.HllSketch.estimate(input.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HllSketch.estimate($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Quantile estimate of a stored KLL sketch ([[graft.functions.KllSketch]]
  * binary → value at quantile q), as a scalar column so stored sketches
  * can be queried relationally — [[HllEstimate]]'s shape. q is a plan-time
  * constant (one quantile column per probe point, like percentile_approx
  * with a literal). */
case class KllQuantile(child: Expression, q: Double) extends UnaryExpression {

  // constructor-time: a NaN/Infinity q would otherwise be interpolated
  // into generated Java as a non-compiling literal and only fail per-row
  require(q >= 0.0 && q <= 1.0, s"quantile $q out of [0,1]")

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expects a binary sketch, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.KllSketch.quantile(input.asInstanceOf[Array[Byte]], q)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.KllSketch.quantile($c, $q);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact stored-value count of a KLL sketch (n is exact and additive
  * under merge — the one fully deterministic scalar of the sketch). */
case class KllCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expects a binary sketch, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.KllSketch.count(input.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.KllSketch.count($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchExpressions {
  def minhashSignature(
      hashes: Column, coefA: Array[Long], coefB: Array[Long], prime: Long): Column =
    GraftColumnBridge.column(
      MinHashSignature(GraftColumnBridge.expression(hashes),
        coefA.toSeq, coefB.toSeq, prime))

  def hllEstimate(sketch: Column): Column =
    GraftColumnBridge.column(HllEstimate(GraftColumnBridge.expression(sketch)))

  def kllQuantile(sketch: Column, q: Double): Column =
    GraftColumnBridge.column(KllQuantile(GraftColumnBridge.expression(sketch), q))

  def kllCount(sketch: Column): Column =
    GraftColumnBridge.column(KllCount(GraftColumnBridge.expression(sketch)))
}
