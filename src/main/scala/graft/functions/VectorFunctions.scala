package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Vector kernels as Columns: each calls its native [[ArrayPair]] op,
  * which `graft.GraftExtensions` registers (every session must install
  * it; there is no fallback). */
object VectorFunctions {

  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Fused one-pass cosine, bit-equal to dot(a,b)/sqrt(a·a)/sqrt(b·b). */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Squared L2 distance in one walk. NOT interchangeable with the
    * three-dot expansion used where a `list_inner_product` oracle
    * requires it — different rounding. */
  def l2sq(a: Column, b: Column): Column = call_function("graft_l2sq", a, b)
}
