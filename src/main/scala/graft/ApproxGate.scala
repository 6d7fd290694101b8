package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scale gate for exact-percentile aggregates (sf1-ladder fix, VERDICT
  * r10 task 1b).
  *
  * Spark's exact `percentile` buffers every distinct value per group in
  * one reducer's value map — fine for the DuckDB-checked oracle scales,
  * a single-node scale-killer on a data-sized group (q_quantile_buckets
  * measured 51x at the 10x sf0.1→sf1 step). `approx_percentile` is the
  * 100 TB form: a mergeable t-digest-style sketch that combines
  * map-side, so the aggregation stays one shuffle of constant-size
  * state per group.
  *
  * The gate picks the path from the BASE table's row count (a
  * metadata-cheap parquet count — deciding from a derived frame would
  * run real work just to choose a plan) so the oracle scales
  * (≤ ~1.5 M rows at sf0.1) keep the exact branch the DuckDB comparison
  * requires, and the ladder scales (sf1+) get the sketch.
  */
object ApproxGate {
  /** Base-table rows above which exact percentile switches to the
    * sketch: comfortably above every oracle-checked scale (the largest
    * gated base is events at the driver's sf0.1 = 100 k rows; Verify
    * runs at sf0.01 and below) and at-or-below the first ladder scale
    * where exact measurably hurts (orders at sf1 is 1.5 M → 56 s exact;
    * events at sf1 is 1.0 M → q_dwell_time measured 14× with the
    * original 2 M threshold, the r11 ladder's one actionable find). */
  val pctRowThreshold: Long = 500000L

  /** Sketch accuracy: 1/accuracy relative-rank error bound. 10 000 keeps
    * the cut values within ~0.01 % rank of exact while the per-group
    * state stays a few KB — the broadcast-the-cuts consumers are
    * insensitive at that resolution. */
  val pctAccuracy: Int = 10000

  /** Decide ONCE per query from the BASE TABLE's row count; callers
    * thread the result through every percentile column so one query
    * never mixes paths. The count is [[Tables.countCached]]'s, so a
    * bench run pays it once per (session, dir, table) — at 100 TB
    * list-scale a per-query count would be a real job each time. */
  def useApprox(s: org.apache.spark.sql.SparkSession, sfDir: String,
      table: String): Boolean =
    Tables.countCached(s, sfDir, table) > pctRowThreshold

  /** `percentile(c, p)` on the exact branch, `approx_percentile(c, p,
    * accuracy)` on the scaled branch. Exact `percentile` always yields
    * DOUBLE while the sketch yields the input type — the approx branch
    * casts to double so the query's schema is identical either way. */
  def pct(c: Column, p: Double, approx: Boolean): Column =
    if (approx) percentile_approx(c, lit(p), lit(pctAccuracy)).cast("double")
    else percentile(c, lit(p))
}
