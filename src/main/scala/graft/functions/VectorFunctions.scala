package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, round}

/** Vector kernels as Columns: each calls its native [[ArrayPair]] op,
  * which `graft.GraftExtensions` registers (every session must install
  * it; there is no fallback). */
object VectorFunctions {

  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Fused one-pass cosine, bit-equal to dot(a,b)/sqrt(a·a)/sqrt(b·b). */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** DuckDB twin of [[cosine]] for the oracle SQL, in the same
    * dot / sqrt(a·a) / sqrt(b·b) association; `a` and `b` are SQL. */
  def cosineSql(a: String, b: String): String =
    s"list_inner_product($a, $b) / sqrt(list_inner_product($a, $a))" +
      s" / sqrt(list_inner_product($b, $b))"

  /** Cosine rounded to 4 dp: the score the similarity queries rank and
    * threshold on. */
  def cosine4(a: Column, b: Column): Column = round(cosine(a, b), 4)

  /** DuckDB twin of [[cosine4]]. */
  def cosine4Sql(a: String, b: String): String =
    s"ROUND(${cosineSql(a, b)}, 4)"

  /** Squared L2 distance in one walk. NOT interchangeable with the
    * three-dot expansion used where a `list_inner_product` oracle
    * requires it — different rounding. */
  def l2sq(a: Column, b: Column): Column = call_function("graft_l2sq", a, b)
}
