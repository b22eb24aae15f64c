package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for vector math over `array<float>` columns.
 *
 * Spark-first replacement for the reference engine's scalar similarity
 * kernel (`TensorPrimitives.Dot` in
 * /root/reference/ChatAIze.SemanticIndex/SemanticDatabase.cs:263): instead
 * of a single-threaded loop over an in-memory list, these participate in
 * whole-stage codegen so a similarity scan is a tight fused loop over
 * columnar parquet batches on every executor.
 *
 * All accumulation is in double for DuckDB-oracle bit-parity; inputs are
 * `array<float>` (the storage type of embeddings).
 */
object VectorKernels {
  /** Equal-length guard shared by eval and codegen: silently truncating
    * to the shorter vector would hide data bugs AND make rewrites like
    * [[graft.plans.NormalizedCosineRule]] unsound (cosine over a common
    * prefix uses prefix norms; dot does not). */
  def checkLen(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements()) {
      throw new IllegalArgumentException(
        s"vector length mismatch: $n vs ${b.numElements()}")
    }
    n
  }

  /** Element `i` of a float vector, a null element read as 0. An
    * `UnsafeArrayData` zeroes a null slot, but the `ColumnarArray` a
    * vectorized parquet scan hands over does not: its null slot holds
    * whatever the decoder left there (the slot's dictionary entry), so
    * every kernel reads through this check. */
  def at(a: ArrayData, i: Int): Float = if (a.isNullAt(i)) 0f else a.getFloat(i)

  /** Element-wise a − b (float), one pass. */
  def sub(a: ArrayData, b: ArrayData): GenericArrayData = {
    val n = checkLen(a, b)
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = at(a, i) - at(b, i); i += 1 }
    new GenericArrayData(out)
  }
}

trait VectorBinaryArray extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
  }
}

/** Dot product: sum_i a[i]*b[i], double accumulation. */
case class VectorDot(left: Expression, right: Expression) extends VectorBinaryArray {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = VectorKernels.checkLen(a, b)
    var s = 0.0
    var i = 0
    while (i < n) {
      s += VectorKernels.at(a, i).toDouble * VectorKernels.at(b, i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName everything: fixed local names collide when several
      // vector kernels share one codegen scope (or shadow the generated
      // method's row parameter, which Spark names `i`) — Janino then
      // fails and Spark silently falls back to interpreted eval
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc"); val j = ctx.freshName("j")
      s"""
         |int $n = graft.functions.VectorKernels.checkLen($a, $b);
         |double $acc = 0.0;
         |for (int $j = 0; $j < $n; $j++) {
         |  $acc += (double) graft.functions.VectorKernels.at($a, $j) *
         |    (double) graft.functions.VectorKernels.at($b, $j);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDot =
    copy(left = l, right = r)
}

/** Element-wise difference a − b → array<float> (e.g. IVF-PQ residuals). */
case class VectorSub(left: Expression, right: Expression) extends VectorBinaryArray {
  override def prettyName: String = "vec_sub"
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.sub(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.sub($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorSub =
    copy(left = l, right = r)
}

/** Cosine similarity: dot(a,b) / (||a|| * ||b||); 0.0 when either norm is 0. */
case class VectorCosine(left: Expression, right: Expression) extends VectorBinaryArray {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = VectorKernels.checkLen(a, b)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = VectorKernels.at(a, i).toDouble; val y = VectorKernels.at(b, i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val j = ctx.freshName("j")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
         |int $n = graft.functions.VectorKernels.checkLen($a, $b);
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $j = 0; $j < $n; $j++) {
         |  double $x = (double) graft.functions.VectorKernels.at($a, $j);
         |  double $y = (double) graft.functions.VectorKernels.at($b, $j);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = $denom == 0.0 ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorCosine =
    copy(left = l, right = r)
}

/** Squared L2 distance: sum_i (a[i]-b[i])^2. */
case class VectorL2Sq(left: Expression, right: Expression) extends VectorBinaryArray {
  override def prettyName: String = "vec_l2sq"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = VectorKernels.checkLen(a, b)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = VectorKernels.at(a, i).toDouble - VectorKernels.at(b, i).toDouble
      s += d * d; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val j = ctx.freshName("j"); val d = ctx.freshName("d")
      s"""
         |int $n = graft.functions.VectorKernels.checkLen($a, $b);
         |double $acc = 0.0;
         |for (int $j = 0; $j < $n; $j++) {
         |  double $d = (double) graft.functions.VectorKernels.at($a, $j) -
         |    (double) graft.functions.VectorKernels.at($b, $j);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorL2Sq =
    copy(left = l, right = r)
}

/** L2 norm of a single vector. */
case class VectorNorm(child: Expression) extends UnaryExpression {
  override def prettyName: String = "vec_norm"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_norm requires array<float>, got ${dt.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val x = VectorKernels.at(a, i).toDouble; s += x * x; i += 1 }
    java.lang.Math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val j = ctx.freshName("j"); val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $j = 0; $j < $n; $j++) {
         |  double $x = (double) graft.functions.VectorKernels.at($a, $j);
         |  $acc += $x * $x;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): VectorNorm = copy(child = c)
}

/**
 * L2-normalize a vector: v / ||v|| (returns v unchanged if norm is 0).
 * Output stays array<float> so normalized embeddings keep the storage type.
 */
case class VectorNormalize(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "vec_normalize"
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_normalize requires array<float>, got ${dt.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = VectorKernels.at(a, i).toDouble; s += x * x; i += 1 }
    val norm = java.lang.Math.sqrt(s)
    val out = new Array[Float](n)
    i = 0
    while (i < n) {
      out(i) = if (norm == 0.0) VectorKernels.at(a, i) else (VectorKernels.at(a, i) / norm).toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): VectorNormalize = copy(child = c)
}
