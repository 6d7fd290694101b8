package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Table-loading conventions for the graft engine.
  *
  * Fixture layout (TESTDATA.md): one parquet file per table under
  * `$sfDir/<name>.parquet`. At 100 TB these would be partitioned
  * directories (e.g. orders partitioned by month); the loader is the
  * single seam where that layout knowledge lives, so queries stay
  * layout-agnostic and partition pruning is a loader concern.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$sfDir/$name.parquet")
    if (name == "events" && df.schema.fieldNames.contains("ts")) tsAsNtz(df)
    else df
  }

  private val schemas = SharedBuild[(SparkSession, String), StructType]()()

  /** A parquet file (or directory of them) read with its schema, which is
    * inferred once per (session, path) and memoized: inference reads the
    * footers in a one-task job on every `spark.read.parquet`, and a read
    * with the schema given runs none. Same contract as [[countCached]]:
    * the files under a path do not change for the session's lifetime. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  def schemaOf(spark: SparkSession, path: String): StructType =
    schemas((spark, path))(spark.read.parquet(path).schema)

  private val counts = SharedBuild[(SparkSession, String, String), Long]()()

  /** Memoized row count per (session, dir, table) for count-derived
    * sizing decisions (the ApproxGate percentile gate, IVF list counts,
    * banding widths) that would otherwise pay a count job on every
    * invocation; at 100 TB list-scale that recurring count is a real job.
    * Safe because fixture data under a dir is immutable for a session's
    * lifetime (same contract as the Ratings memo). */
  def countCached(spark: SparkSession, sfDir: String, name: String): Long =
    counts((spark, sfDir, name))(load(spark, sfDir, name).count())

  /** Normalize `events.ts` to TIMESTAMP_NTZ regardless of how the fixture
    * encodes it. Fixture generations have carried three encodings: parquet
    * TIMESTAMP(NANOS) (Spark reads it as nanosecond LongType under
    * spark.sql.legacy.parquet.nanosAsLong=true), parquet timestamp[us]
    * with isAdjustedToUTC=false (TIMESTAMP_NTZ), and tz-adjusted
    * TIMESTAMP. NTZ is the batch-side canon: naive µs wall-clock, exactly
    * what DuckDB sees, so oracle hashes agree. ns→µs uses integral DIV —
    * floor semantics, matching DuckDB's truncation. The session TZ is
    * pinned UTC everywhere, so TIMESTAMP↔NTZ casts are wall-clock
    * identities and both normalizers are total. */
  def tsAsNtz(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType => df.withColumn(colName,
        timestamp_micros(expr(s"`$colName` DIV 1000")).cast(TimestampNTZType))
      case TimestampType => df.withColumn(colName, col(colName).cast(TimestampNTZType))
      case _ => df
    }

  /** Normalize an event-time column to tz-adjusted TimestampType — the
    * streaming-side canon: `withWatermark` and `unix_micros` both require
    * TIMESTAMP and reject TIMESTAMP_NTZ. Same three encodings as
    * [[tsAsNtz]]; UTC session TZ makes the NTZ→TIMESTAMP cast a wall-clock
    * identity, so streaming results remain hash-comparable with the NTZ
    * batch oracles. */
  def tsAsTimestamp(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType => df.withColumn(colName,
        timestamp_micros(expr(s"`$colName` DIV 1000")))
      case TimestampNTZType => df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }

  /** Register all fixture tables as temp views so SQL-first operators can
    * refer to them by bare name (mirrors the DuckDB oracle convention). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
