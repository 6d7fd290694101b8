package graft.ml

import graft.Tables
import graft.Dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The derived ratings view (FIXTURES.md "Derived view"): the MF-family
  * input standing in for the reference's MovieLens triples.
  *
  * `rating = avg over duplicate (user,item) pairs of
  *    least(5.00, 1 + l_quantity * 0.08)`
  * — the per-row value is computed in exact decimal (l_quantity is
  * integral, 0.08 is DECIMAL(3,2)), so the SUM is reduction-order-
  * independent; only the final division is floating point, rounded to
  * 6 dp on both engines.
  */
object Ratings {

  /** DuckDB CTE defining the identical view — prepended to every MF-family
    * oracle query. */
  val cte: String =
    """ratings AS (
      |  SELECT o_custkey AS user_id, l_partkey AS item_id,
      |    ROUND(CAST(SUM(least(CAST(5.00 AS DECIMAL(3,2)),
      |            1 + CAST(l_quantity AS DECIMAL(18,2)) *
      |                CAST(0.08 AS DECIMAL(3,2)))) AS DOUBLE) / count(*), 6)
      |      AS rating
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2)""".stripMargin

  /** Memoized, Spark-cached ratings view. Every MF/antidote-family query
    * needs the identical orders⋈lineitem aggregate; deriving it once per
    * (session, sfDir) and sharing a single cache entry removes both the
    * repeated derivation and the per-query `.cache()` storage leak from a
    * bench run.
    *
    * ASSUMPTIONS the memo bakes in: (1) the parquet under `sfDir` is
    * immutable for the session's lifetime (true for the fixture layout;
    * clear the memo if data is rewritten in place); (2) the first
    * materialization's configuration wins — a suite that mutates e.g.
    * `spark.sql.shuffle.partitions` on a SHARED session and re-derives
    * (DeterminismSpec's sweep) gets the cached frame from the first conf,
    * so conf-sensitivity probes must either use `view` directly or clear
    * the memos between conf flips. The memo owns the cache's blocks, so
    * clearing it unpersists the view. Bench bills the first
    * materialization as its own `warm:` line (see Bench.scala). */
  private val views = graft.SharedBuild[(SparkSession, String), DataFrame]()(
    graft.SharedBuild.frames(_))

  def viewCached(spark: SparkSession, sfDir: String): DataFrame =
    views((spark, sfDir)) {
      val df = view(spark, sfDir).cache()
      df.count() // materialize eagerly so first consumer gets a warm cache
      df
    }

  def view(spark: SparkSession, sfDir: String): DataFrame = {
    val perRow = least(
      lit(5.0).cast(DecimalType(3, 2)),
      lit(1) + dec2(col("l_quantity")) * lit(0.08).cast(DecimalType(3, 2)))
    Tables.load(spark, sfDir, "orders")
      .join(Tables.load(spark, sfDir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .agg(round(sum(perRow).cast(DoubleType) / count(lit(1)), 6).as("rating"))
  }

  /** MovieLens-style delimited ingestion (the reference's native input:
    * `ratings.dat` with `user::movie::rating::timestamp` lines). Explicit
    * schema — no inference pass over the data — and a configurable
    * multi-character separator (Spark's CSV reader accepts multi-char
    * `sep` natively). Malformed lines become nulls (PERMISSIVE), the
    * ingestion-hardening default; pair with try_cast-style filters when
    * the corpus is dirty. */
  def loadDelimited(spark: SparkSession, path: String,
      sep: String = "::"): DataFrame =
    spark.read
      .option("sep", sep)
      .schema(StructType(Seq(
        StructField("user_id", LongType),
        StructField("item_id", LongType),
        StructField("rating", DoubleType),
        StructField("ts", LongType))))
      .csv(path)
}
