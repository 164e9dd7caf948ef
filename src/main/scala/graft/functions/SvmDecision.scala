package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types._
import graft.ml.Kernel

/** A kernel-SVM model's support vectors, row-major: `x(i)` is the i-th
  * support vector and `coef(i)` its αᵢyᵢ. */
final class SvBlock(val x: Array[Array[Double]], val coef: Array[Double]) extends Serializable

object SvmExpressions {

  /** f(x) = Σᵢ coefᵢ·k(svᵢ, x) + bias over an array<double> column, one
    * row at a time against a broadcast SV block. */
  def svmDecision(vec: Column, kernel: Kernel, bias: Double,
                  svs: Broadcast[SvBlock]): Column =
    GraftShim.column(SvmDecision(GraftShim.expression(vec), kernel, bias, svs))
}

/** Exact-kernel SVM decision f(x) = Σᵢ coefᵢ·k(svᵢ, x) + b, scored map-side
  * against a broadcast SV block — the per-row loop of psvm's
  * `svm_predict`. The kernel, bias and block are one reference object, so
  * the generated code holds no model literal and a newly fitted model
  * reuses the compiled class.
  *
  * Arithmetic is exactly the Column form `sum(sv_coef * kernel(sv_x, x))`
  * followed by `+ bias`: the fold starts at 0.0 and adds coefᵢ·k in SV
  * order (the `sum` buffer over a broadcast side), each kernel runs the
  * [[SqDistance]]/[[L1Distance]]/[[DotProduct]] loop over min(len), and
  * `exp`/`pow` are `StrictMath`'s, as Catalyst's `Exp`/`Pow` are.
  *
  * A null vector scores the bias alone, never null: the fold over its
  * kernel terms is empty, as the `sum` over null kernel values is, and
  * a zero-SV model likewise scores every row at the bias. */
case class SvmDecision(child: Expression, kernel: Kernel, bias: Double,
                       svs: Broadcast[SvBlock])
  extends UnaryExpression with VecArrayInput {

  override def prettyName: String = "svm_decision"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  @transient private lazy val block: SvBlock = svs.value

  // stable, bounded explain rendering: the kernel and the block's shape,
  // never the broadcast id or its contents
  override def stringArgs: Iterator[Any] = {
    val dim = if (block.x.isEmpty) 0 else block.x(0).length
    Iterator(child, kernel, s"svs[${block.x.length}x$dim]")
  }

  def decision(v: ArrayData): Double = if (v == null) bias else {
    import SvmDecision._
    val x = v.toDoubleArray()
    val sv = block.x; val coef = block.coef
    var acc = 0.0; var i = 0
    kernel match {
      case Kernel.Linear =>
        while (i < sv.length) { acc += coef(i) * dot(sv(i), x); i += 1 }
      case Kernel.Polynomial(gamma, coef0, degree) =>
        val d = degree.toDouble
        while (i < sv.length) {
          acc += coef(i) * StrictMath.pow(gamma * dot(sv(i), x) + coef0, d); i += 1
        }
      case Kernel.Rbf(gamma) =>
        val g = -gamma
        while (i < sv.length) { acc += coef(i) * StrictMath.exp(g * sqDist(sv(i), x)); i += 1 }
      case Kernel.Laplacian(gamma) =>
        val g = -gamma
        while (i < sv.length) { acc += coef(i) * StrictMath.exp(g * l1Dist(sv(i), x)); i += 1 }
    }
    acc + bias
  }

  override def eval(input: InternalRow): Any =
    decision(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("svmDecision", this, classOf[SvmDecision].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      double ${ev.value} = $ref.decision(${c.isNull} ? null : ${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): SvmDecision =
    copy(child = c)
}

object SvmDecision {
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def l1Dist(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += math.abs(a(i) - b(i)); i += 1 }
    s
  }
}
