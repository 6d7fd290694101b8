package graft

import graft.functions.{ArrayPair, BloomMightContain, PairOp}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension installing graft's native functions; activate with
  * `spark.sql.extensions=graft.GraftExtensions`. The functions are
  * required, not a fast path: the vector kernels and Bloom pruning call
  * them by name and have no HOF or UDF fallback, so every session that
  * runs graft operators must install this extension. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private val natives: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    PairOp.all.map(op => (op.sqlName, classOf[ArrayPair],
      (c: Seq[Expression]) => ArrayPair(op, c(0), c(1)): Expression)) :+
    (("graft_might_contain", classOf[BloomMightContain],
      (c: Seq[Expression]) => BloomMightContain(c(0), c(1))))

  override def apply(ext: SparkSessionExtensions): Unit =
    natives.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}
