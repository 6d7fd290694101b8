package graft.llm

import graft.Tables
import graft.plans.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared char-shingle store over the RAW `documents` table, materialized
  * ONCE per (session, sfDir, k, maxPos) as a BUCKETED on-disk parquet
  * table (bucketed + sorted by `shingle`, [[graft.plans.Layout
  * .writeBucketed]]).
  *
  * Seven registered queries consume the identical 2000-position substring
  * explode over the whole corpus (q_tfidf_cosine_pairs, q_boilerplate,
  * q_shingle_df_profile, q_text_repetition at k=5; q_decontaminate at
  * k=20; plus the planted-augmented q_dedup_ngram /
  * q_dedup_containment raw sides). Through r12 the memo was a
  * localCheckpoint — a lineage fence that pushed every counted shingle
  * row through ONE JVM's block manager, which hit a single-box wall at
  * sf10 (~10⁹ rows: 481 s for k=5, 1298 s for k=20, r12 ladder). The
  * production shape its own design notes named is what ships now:
  * shingle once into a bucketed, compressed, columnar on-disk table.
  * One explode feeds one `repartition(buckets, shingle)` exchange —
  * hash-partitioning on `shingle` co-partitions the (doc_id, shingle)
  * count groups (subset rule), so the aggregate reuses the same exchange
  * — then each of the `buckets` tasks sorts and writes exactly its own
  * bucket file. Consumers read compressed columnar bytes, and
  * shingle-keyed joins/aggregations downstream start from a scan whose
  * bucketing already satisfies their required hash partitioning (no
  * re-shuffle of the big side). On a real cluster this is the persisted
  * intermediate table a 100 TB pipeline would maintain. The bucket count
  * is sized to the explode ([[bucketsFor]]): 64 keeps per-bucket sorts
  * ~15 M rows at the sf10 rung, and a small corpus gets one bucket per
  * shuffle partition instead of 64 tiny sorted files.
  *
  * Queries that shingle AUGMENTED corpora (docs ∪ planted copies) draw
  * the raw-corpus side from this store too; only their planted slice
  * pays its own (tiny) explode.
  *
  * Each stored row also carries the shingle's GLOBAL document frequency
  * `df` (docs containing it — r13 VERDICT task: "push df pruning into
  * the store"). Computed at build as a window over the same
  * shingle-hash exchange (no extra shuffle; RLE-friendly since rows are
  * sorted by shingle), it lets df-bounded consumers scan a PRUNED slice
  * instead of re-deriving df over the full ~10⁹-row table per query:
  * q_decontaminate reads df ≥ 2 (a df = 1 shingle occurs in exactly one
  * doc, so it can never witness train/eval overlap — ~90 % of 20-gram
  * rows drop, exactly losslessly), and q_tfidf_cosine_pairs takes both
  * its idf weights and its rare-shingle (2 ≤ df ≤ 10) blocking keys
  * straight from the column, eliminating its df aggregation, join and
  * corpus-sized lineage fence.
  *
  * SINGLE-SESSION CONSTRAINT (ADVICE r13): the bucketed table name is
  * keyed on (sfDir digest, k, maxPos) only, and a first touch DELETES
  * and rewrites the table — two concurrent sessions sharing one
  * warehouse dir could drop it out from under each other's memoized
  * handles. Bench/Verify are single-session by construction; parallel
  * test suites must not share a warehouse. */
object ShingleStore {

  private val MaxBuckets = 64
  private val RowsPerBucket = 15000000L

  /** Buckets for an explode of `rows` rows: one per ~15 M rows, at least
    * `shufflePartitions` (every core sorts and writes a bucket), at most
    * 64. */
  private[graft] def bucketsFor(rows: Long, shufflePartitions: Int): Int =
    math.min(MaxBuckets, math.max(shufflePartitions.toLong,
      (rows + RowsPerBucket - 1) / RowsPerBucket)).toInt

  private val tables =
    graft.SharedBuild[(SparkSession, String, Int, Int), DataFrame]()()

  /** Stable table name per (sfDir, k, maxPos) — the digest keeps
    * distinct fixture dirs from colliding in one warehouse. */
  private def tableName(sfDir: String, k: Int, maxPos: Int): String = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).take(6)
      .map(b => f"$b%02x").mkString
    s"graft_shingles_${dig}_k${k}_p$maxPos"
  }

  /** One row per (doc_id, shingle) with its occurrence count `c` and the
    * shingle's global document frequency `df`; positions capped at
    * `maxPos` (mirror the oracle's generate_series bound).
    * Distinct-shingle consumers just drop `c`/`df` (column pruning).
    * First touch per session writes the bucketed table (overwriting any
    * orphan files from an earlier run over the same dir — the data may
    * have been regenerated since); later touches read the memoized
    * handle. The df window rides the SAME shingle-hash exchange as the
    * count aggregate (partitioning on `shingle` clusters both the
    * (doc_id, shingle) groups — subset rule — and the window's
    * partitions), so the build pays one extra partition-local sort, no
    * new shuffle. One aggregate over `documents` first sums the exact
    * explode size, which sizes the bucket count. */
  def counted(spark: SparkSession, sfDir: String, k: Int,
      maxPos: Int): DataFrame = tables((spark, sfDir, k, maxPos)) {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    // positions per doc: min(max(len − k + 1, 1), maxPos)
    val positions = least(greatest(length(col("text")) - (k - 1), lit(1)),
      lit(maxPos))
    val rows = docs.agg(coalesce(sum(positions), lit(0L))).head().getLong(0)
    val buckets = bucketsFor(rows,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val frame = docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), positions)).as("p"))
      .select(col("doc_id"), expr(s"substr(text, p, $k)").as("shingle"))
      .repartition(buckets, col("shingle"))
      .groupBy("doc_id", "shingle").agg(count(lit(1)).as("c"))
      .withColumn("df", count(lit(1)).over(w))
    val table = tableName(sfDir, k, maxPos)
    Layout.writeBucketed(frame, table, buckets, "shingle")
    spark.table(table)
  }

  /** DuckDB twin of [[distinct]] over the SQL relation `src` (doc_id,
    * text): the distinct k-char shingles at positions 1 … maxPos. */
  def distinctSql(src: String, k: Int, maxPos: Int): String =
    s"""SELECT DISTINCT doc_id, substr(text, p, $k) AS shingle
       |  FROM $src, generate_series(1, $maxPos) t(p)
       |  WHERE p <= greatest(length(text) - ${k - 1}, 1)""".stripMargin

  /** Distinct (doc_id, shingle) pairs — the counted frame minus `c`. */
  def distinct(spark: SparkSession, sfDir: String, k: Int,
      maxPos: Int): DataFrame =
    counted(spark, sfDir, k, maxPos).select("doc_id", "shingle")
}
