package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** One fused walk over two ARRAY<FLOAT>/ARRAY<DOUBLE> columns, keeping a
  * few double accumulators: the per-element `update` and the `finish` are
  * the only code an op owns. Each accumulator sums left to right exactly
  * as its HOF formulation `aggregate(zip_with(a, b, f), 0d, +)` would, so
  * every op is bit-equal to its HOF (oracle-safe); unequal lengths
  * (zip_with pads with null) or any null element yield NULL. */
sealed abstract class PairOp(val sqlName: String, val nAcc: Int) {
  def update(acc: Array[Double], x: Double, y: Double): Unit
  def finish(acc: Array[Double]): Double
  /** The same two steps as Java source over accumulator variables. */
  def updateCode(acc: Seq[String], x: String, y: String): String
  def finishCode(acc: Seq[String]): String
}

object PairOp {
  /** Dot product — the hot kernel of similarity search and dedup. */
  case object Dot extends PairOp("graft_dot", 1) {
    def update(acc: Array[Double], x: Double, y: Double): Unit =
      acc(0) += x * y
    def finish(acc: Array[Double]): Double = acc(0)
    def updateCode(acc: Seq[String], x: String, y: String): String =
      s"${acc(0)} += $x * $y;"
    def finishCode(acc: Seq[String]): String = acc(0)
  }

  /** Squared L2 distance in one walk. Deliberately NOT bit-equal to the
    * three-dot expansion `a·a − 2a·b + b·b` (different rounding); callers
    * pick one formulation per query and stay with it. */
  case object L2Sq extends PairOp("graft_l2sq", 1) {
    def update(acc: Array[Double], x: Double, y: Double): Unit = {
      val d = x - y; acc(0) += d * d
    }
    def finish(acc: Array[Double]): Double = acc(0)
    def updateCode(acc: Seq[String], x: String, y: String): String =
      s"${acc(0)} += ($x - $y) * ($x - $y);"
    def finishCode(acc: Seq[String]): String = acc(0)
  }

  /** Cosine: three dots in one walk, combined with the composed form's
    * `(dot / sqrt(na)) / sqrt(nb)` association — bit-equal to it. */
  case object Cosine extends PairOp("graft_cosine", 3) {
    def update(acc: Array[Double], x: Double, y: Double): Unit = {
      acc(0) += x * y; acc(1) += x * x; acc(2) += y * y
    }
    def finish(acc: Array[Double]): Double =
      acc(0) / math.sqrt(acc(1)) / math.sqrt(acc(2))
    def updateCode(acc: Seq[String], x: String, y: String): String =
      s"${acc(0)} += $x * $y; ${acc(1)} += $x * $x; ${acc(2)} += $y * $y;"
    def finishCode(acc: Seq[String]): String =
      s"${acc(0)} / java.lang.Math.sqrt(${acc(1)}) / " +
        s"java.lang.Math.sqrt(${acc(2)})"
  }

  val all: Seq[PairOp] = Seq(Dot, Cosine, L2Sq)
}

/** The codegen'd array-pair expression behind `graft_dot`, `graft_cosine`
  * and `graft_l2sq`: one type check, one null/length rule, one loop. */
case class ArrayPair(op: PairOp, left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = op.sqlName
  // print as `graft_dot(a, b)`: the op is the name, not an argument
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  private def mayContainNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e =>
        elemType(e) == FloatType || elemType(e) == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${op.sqlName} expects float/double arrays, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")

  private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left), elemType(right))
    if (a.numElements() != b.numElements()) return null
    val acc = new Array[Double](op.nAcc)
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      op.update(acc, get(a, ta, i), get(b, tb, i))
      i += 1
    }
    op.finish(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(t: DataType, arr: String, i: String): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val Seq(n, i, x, y) = Seq("n", "i", "x", "y").map(ctx.freshName)
      val acc = Seq.fill(op.nAcc)(ctx.freshName("acc"))
      // per-element null guard only when the schema admits null elements
      val nullGuard =
        if (mayContainNull(left) || mayContainNull(right))
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  ${acc.map(s => s"double $s = 0.0;").mkString(" ")}
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    double $x = ${getter(elemType(left), a, i)};
         |    double $y = ${getter(elemType(right), b, i)};
         |    ${op.updateCode(acc, x, y)}
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = ${op.finishCode(acc)}; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayPair =
    copy(left = newLeft, right = newRight)
}
