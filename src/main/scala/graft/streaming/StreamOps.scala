package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import java.util.concurrent.atomic.AtomicInteger

/** Structured-Streaming operators (SURVEY.md §2.I).
  *
  * All transforms are defined on unbounded DataFrames (readStream) and are
  * therefore also valid on bounded ones — the batch-shape oracle queries in
  * `operators.StreamingQueries` reuse the same column expressions. State
  * stores are keyed by user/window, so at scale state partitions across
  * executors with the shuffle; watermarks bound state size.
  */
object StreamOps {

  private val nameCounter = new AtomicInteger(0)

  /** Replay a fixture events parquet as a file-source stream. `ts` is
    * normalized to tz-adjusted TimestampType via [[graft.Tables.tsAsTimestamp]]
    * (watermarks require TIMESTAMP and reject TIMESTAMP_NTZ), whatever
    * encoding the fixture carries. */
  def replayEvents(spark: SparkSession, sfDir: String): DataFrame = {
    // The file stream source wants a directory; point it at sfDir with a
    // glob filter so only the events file is replayed.
    val raw = spark.readStream
      .schema(graft.Tables.schemaOf(spark, s"$sfDir/events.parquet"))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    graft.Tables.tsAsTimestamp(raw)
  }

  /** Tumbling-window counts with a watermark: late rows beyond the delay
    * are dropped from the aggregation state. */
  def tumblingCounts(events: DataFrame, size: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"))

  /** Per-user session windows with a fixed inactivity gap. */
  def sessionize(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup bounded by a watermark (state is GC'd once the
    * watermark passes — the only way exact dedup stays feasible unbounded). */
  def dedupWithinWatermark(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Arbitrary stateful op: running per-user event count via
    * mapGroupsWithState (processing-time timeout disabled — determinism). */
  def runningUserCounts(events: DataFrame): Dataset[(Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast(LongType)).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          (user, next)
      }
  }

  /** Streaming per-user heavy hitters: the Space-Saving sketch
    * (functions.TopKSketch) IS the mapGroupsWithState state transition, so
    * per-user state is bounded at `capacity` counters forever — the only
    * way "top behaviors per key" stays feasible on an unbounded stream
    * with unbounded behavior vocabularies. Emits each user's current top
    * item + estimate after every microbatch. */
  def streamingTopBehavior(events: DataFrame, capacity: Int)
      : Dataset[(Long, String, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    val sk = new graft.functions.TopKSketch(capacity)
    events.select(col("user_id").cast(LongType), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[String, Long], (Long, String, Long)](
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String)],
         state: GroupState[Map[String, Long]]) =>
          var buf = state.getOption.getOrElse(sk.zero)
          rows.foreach { case (_, et) => buf = sk.reduce(buf, et) }
          state.update(buf)
          val (top, est) = sk.finish(buf).head
          (user, top, est)
      }
  }

  /** Stream-static enrichment join: the static dimension is broadcast per
    * microbatch; stateless, so no watermark needed. */
  def enrichWithStatic(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), events(eventKey) === dim(dimKey))

  /** Stream-stream interval join: views ⋈ clicks of the same user with the
    * click inside (view_ts, view_ts + window]. BOTH sides carry watermarks
    * and the join condition bounds event-time distance — that pair is what
    * lets Spark GC join state, the requirement for unbounded streams. */
  def viewClickJoin(events: DataFrame, window: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    viewClicks(events, window, watermark, "inner")

  /** Stream-stream LEFT OUTER interval join: like viewClickJoin, but views
    * with no click inside the window still emit (click_ts NULL) — once the
    * watermark passes the view's join window, so unmatched rows appear
    * only after state can be finalized. The watermark+interval pair is
    * what lets Spark both GC the state AND prove a view can no longer
    * match, the prerequisite for outer results on unbounded streams. */
  def viewClickLeftJoin(events: DataFrame, window: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    viewClicks(events, window, watermark, "left_outer")

  /** The views ⋈ clicks interval join of both forms above. */
  private def viewClicks(events: DataFrame, window: String,
      watermark: String, joinType: String): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    views.join(clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") > col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"INTERVAL $window"),
        joinType)
      .select("user_id", "view_ts", "click_ts")
  }

  /** foreachBatch sink: write each microbatch to `dir/batch=<id>` —
    * batch-id-keyed paths make replays idempotent (overwrite semantics),
    * the standard exactly-once pattern for non-transactional sinks. */
  def runForeachBatchParquet(streamed: DataFrame, dir: String): Unit = {
    val q = streamed.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  case class SessionAgg(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int)
  case class SessionState(start: Long, last: Long, n: Int)

  /** Custom sessionizer via flatMapGroupsWithState + EventTimeTimeout:
    * state per user holds the open session; the timeout fires once the
    * watermark passes last_event + gap, emitting the closed session and
    * clearing state — session_window's semantics, hand-rolled on the
    * arbitrary-state API (for when per-session logic outgrows the
    * built-in, e.g. value-dependent gaps). */
  def customSessionize(events: DataFrame, gapMinutes: Int,
      watermark: String = "10 minutes"): Dataset[SessionAgg] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000
    events.withWatermark("ts", watermark)
      .select(col("user_id").cast(LongType), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionAgg](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionAgg(user, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last + gapMs), s.n))
          } else {
            val times = rows.map(_._2.getTime).toSeq.sorted
            if (times.isEmpty) Iterator.empty
            else {
              // Split the batch into gap-delimited runs: a replayed bounded
              // stream can carry several whole sessions in ONE microbatch,
              // and merging them (the old behavior) produced one giant
              // session per user under AvailableNow.
              val runs = scala.collection.mutable.ArrayBuffer.empty[SessionState]
              times.foreach { t =>
                if (runs.nonEmpty && t <= runs.last.last + gapMs) {
                  val r = runs.last
                  runs(runs.size - 1) = SessionState(r.start, t, r.n + 1)
                } else runs += SessionState(t, t, 1)
              }
              // The open state session either absorbs the first run (still
              // within the gap) or closes right now.
              val all: Seq[SessionState] = state.getOption match {
                case Some(s) if runs.head.start <= s.last + gapMs =>
                  val h = runs.head
                  SessionState(math.min(s.start, h.start),
                    math.max(s.last, h.last), s.n + h.n) +: runs.tail.toSeq
                case Some(s) => s +: runs.toSeq
                case None => runs.toSeq
              }
              val open = all.last
              state.update(open)
              state.setTimeoutTimestamp(open.last + gapMs)
              all.init.iterator.map(s =>
                SessionAgg(user, new java.sql.Timestamp(s.start),
                  new java.sql.Timestamp(s.last + gapMs), s.n))
            }
          }
      }
  }

  /** The versioned-state loop of the incremental maintainers: replay
    * `stream` to completion (Trigger.AvailableNow) and write each
    * micro-batch's `step(batch, prev)` as state version v<batchId>, where
    * `prev` is the last version written (None on the first batch).
    * Versioning per batch (read v<prev>, write v<id>) means a version is
    * never read and overwritten in the same job; at scale the same loop
    * writes to a partitioned table and only touches the partitions the
    * batch contains. A re-run in the same `workDir` numbers its batches
    * from 0 again and never reads the versions an earlier, longer run
    * left behind. Returns the final version. */
  private def foldState(stream: DataFrame, workDir: String)(
      step: (DataFrame, Option[DataFrame]) => DataFrame): DataFrame = {
    val spark = stream.sparkSession
    def state(v: Long): String = s"$workDir/state/v$v"
    // each version is read back with the schema it was written with: a
    // read that infers it runs a footer job per version
    @volatile var version = -1L
    @volatile var written: StructType = null
    def read(v: Long): DataFrame = spark.read.schema(written).parquet(state(v))
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev = if (version < 0) None else Some(read(version))
        val next = step(batch, prev)
        next.write.mode("overwrite").parquet(state(batchId))
        version = batchId
        written = next.schema
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    read(version)
  }

  /** Streaming incremental aggregate maintenance: replay the events table
    * file-by-file (maxFilesPerTrigger=1 over a 4-file split → 4 real
    * micro-batches) and maintain a (day, event_type) count table in
    * parquet by merging each micro-batch's partials with the previous
    * state version — the streaming analog of q_incr_agg. Because count
    * partials are additive (commutative + associative), the FINAL state is
    * independent of batch boundaries and ordering, which is exactly what
    * lets the DuckDB batch recompute serve as its oracle. Returns the
    * final state. */
  def incrementalDailyCounts(spark: SparkSession, sfDir: String,
      workDir: String): DataFrame = {
    val stream = sliceStream(spark, sfDir, 4)._1
      .select(col("ts"), col("event_type"))
    foldState(stream, workDir) { (batch, prev) =>
      val partial = batch
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("day", "event_type")
        .agg(sum(col("cnt")).cast(LongType).as("cnt")))
    }
  }

  /** Streaming fingerprint maintenance: replay events as a 4-file stream
    * and maintain per-event_type table checksums (row count, sum of
    * 60-bit md5 row hashes mod 2^40, bit_xor of row hashes) by merging
    * each micro-batch's digest partials into versioned parquet state —
    * the q_table_checksum audit carried into incremental maintenance.
    * All three digests are commutative and associative (modular sums
    * re-mod after each merge; xor is associative), so the final state is
    * independent of batch boundaries and ordering and the batch
    * recompute IS the oracle. At 100 TB this is how a validation
    * pipeline keeps table fingerprints current while digesting only each
    * day's delta. */
  def incrementalChecksum(spark: SparkSession, sfDir: String,
      workDir: String): DataFrame = {
    val stream = sliceStream(spark, sfDir, 4)._1
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val mod = 1099511627776L // 2^40
    val h = conv(substring(md5(concat_ws("|", col("event_id"),
      col("user_id"), col("event_type"), col("us"))), 1, 15), 16, 10)
      .cast(LongType)
    foldState(stream, workDir) { (batch, prev) =>
      val partial = batch.select(col("event_type"), h.as("h"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h") % mod) % mod).cast(LongType).as("sum_hash"),
          bit_xor(col("h")).as("xor_hash"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("event_type")
        .agg(sum(col("n_rows")).cast(LongType).as("n_rows"),
          (sum(col("sum_hash")) % mod).cast(LongType).as("sum_hash"),
          bit_xor(col("xor_hash")).as("xor_hash")))
    }
  }

  /** Streaming MERGE/upsert maintenance: replay events as a 4-file
    * stream and maintain the latest-state-per-user table by merging each
    * micro-batch's per-user latest rows into versioned parquet state
    * (prev-state ∪ batch-latest → keep-latest-per-user again). The
    * keep-latest reduction is idempotent, commutative across batches,
    * and associative, so the final state is independent of batch
    * boundaries and the whole-history recompute (q_merge_upsert's
    * latest-per-user window) IS the oracle. Each merge touches only
    * |state| + |batch| rows keyed on user_id — the CDC pattern that
    * keeps a 100 TB dimension current from daily deltas without ever
    * re-scanning history. */
  def incrementalUpsert(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    def latest(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      df.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .drop("__rk")
    }
    foldState(stream, workDir) { (batch, prev) =>
      val partial = latest(batch.select(
        col("user_id"), col("event_type"), col("us"), col("event_id")))
      prev.fold(partial)(p => latest(p.unionByName(partial)))
    }.select(col("user_id"), col("event_type").as("state"), col("us"))
  }

  /** Streaming quantile maintenance: replay events as a 4-file stream and
    * maintain per-event_type value histograms (centi-bins: bin =
    * floor(value·100)) by merging each micro-batch's (type, bin, count)
    * partials into versioned parquet state — then read p50/p90/p99 off
    * the final histogram as the smallest bin whose cumulative count
    * reaches ⌈q·n⌉. Counts are additive, so the final state is
    * independent of batch boundaries (the batch recompute IS the
    * oracle); the histogram is value-domain-bounded, not row-bounded —
    * the monitoring-quantile pattern that never stores raw values.
    * Returns (event_type, n, p50, p90, p99) with bin lower edges as the
    * quantile values. */
  def incrementalQuantiles(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_type"),
        floor(col("value") * 100).cast(LongType).as("bin"))
    histogramQuantiles(foldState(stream, workDir) { (batch, prev) =>
      val partial = batch.groupBy("event_type", "bin")
        .agg(count(lit(1)).as("cnt"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("event_type", "bin")
        .agg(sum(col("cnt")).cast(LongType).as("cnt")))
    })
  }

  /** p50/p90/p99 off a (event_type, bin, cnt) histogram: smallest bin
    * whose running count reaches ⌈q·n⌉ — integer arithmetic only; the
    * window runs over the bounded per-type bin domain. */
  def histogramQuantiles(hist: DataFrame): DataFrame = {
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
    val x = hist
      .withColumn("cum", sum(col("cnt")).over(wCum).cast(LongType))
      .withColumn("n", sum(col("cnt")).over(wAll).cast(LongType))
    def qBin(num: Int, den: Int): org.apache.spark.sql.Column =
      (min(when(col("cum") * den >= col("n") * num, col("bin")))
        .cast(org.apache.spark.sql.types.DoubleType) / 100).as(s"p$num")
    x.groupBy("event_type")
      .agg(max(col("n")).as("n"), qBin(50, 100), qBin(90, 100),
        qBin(99, 100))
      .select(col("event_type"), col("n"), round(col("p50"), 6).as("p50"),
        round(col("p90"), 6).as("p90"), round(col("p99"), 6).as("p99"))
  }

  /** An event's value in exact 10⁻⁶ units, the maintainers' `v6`. */
  private def v6: Column =
    round(col("value") * 1000000L).cast(LongType).as("v6")

  /** A merged running count or sum: state `a` plus batch `b` after a
    * full outer join, a missing side counting 0. */
  private def plus0(a: String, b: String): Column =
    (coalesce(col(a), lit(0L)) + coalesce(col(b), lit(0L))).as(a)

  /** Incremental extreme/mean maintenance per event type over a real
    * micro-batch replay: per-type count, 10⁻⁶-unit integer sum, min and
    * max are ALL associative-commutative merges, so the final state is
    * batch-boundary-independent and equals the whole-history recompute
    * (the oracle). Constant state per key — the cheapest streaming
    * monitor shape. */
  def incrementalExtremes(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_type"), v6)
    foldState(stream, workDir) { (batch, prev) =>
      val partial = batch.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v6")).cast(LongType).as("sum6"),
          min(col("v6")).as("min6"), max(col("v6")).as("max6"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("event_type")
        .agg(sum(col("n_rows")).cast(LongType).as("n_rows"),
          sum(col("sum6")).cast(LongType).as("sum6"),
          min(col("min6")).as("min6"), max(col("max6")).as("max6")))
    }
  }

  /** Incremental second-moment maintainer per event type: state is
    * (n, Σv6, Σv6²) with v6 the 10⁻⁶-quantized value — all three are
    * plain sums (associative, commutative), so the final state equals
    * the whole-history recompute at any batch count; Σv6² widens to
    * DECIMAL(38,0) so the squares can never overflow at scale. The
    * streaming feed for every z-score/σ-band monitor (q_rolling_zscore's
    * batch σ, maintained without rescanning history). */
  def incrementalMoments(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    val big38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_type"), v6)
    foldState(stream, workDir) { (batch, prev) =>
      val partial = batch.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v6")).cast(LongType).as("sum6"),
          sum(col("v6").cast(big38) * col("v6")).cast(big38).as("ssq"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("event_type")
        .agg(sum(col("n_rows")).cast(LongType).as("n_rows"),
          sum(col("sum6")).cast(LongType).as("sum6"),
          sum(col("ssq")).cast(big38).as("ssq")))
    }
  }

  /** Incremental PSI drift monitor: state is the per-(event_type, bucket)
    * count histogram (bucket = min(15, ⌊value/10⌋) — 16 fixed-width
    * cells), maintained by plain additive merges over a real micro-batch
    * replay, so the histogram is batch-boundary-independent and equals
    * the whole-history recompute. The finalization scores each type's
    * distribution against the pooled all-types distribution with
    * Laplace-smoothed PSI — the drift alarm a 100 TB ingest keeps warm
    * without rescanning history. */
  def incrementalPsi(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_type"),
        least(lit(15L), floor(col("value") / 10)).cast(LongType)
          .as("bucket"))
    psiFromHistogram(foldState(stream, workDir) { (batch, prev) =>
      val partial = batch.groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("cnt"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("event_type", "bucket")
        .agg(sum(col("cnt")).cast(LongType).as("cnt")))
    })
  }

  /** Laplace-smoothed PSI of each type's bucket distribution vs the
    * pooled distribution, off a (event_type, bucket, cnt) histogram:
    * p_tb = (n_tb+1)/(n_t+16), p_b = (n_b+1)/(N+16); each term is
    * quantized to an integer ·10⁹ before summing over the bounded
    * 16-bucket grid, so the fold is merge-order-proof. */
  def psiFromHistogram(hist: DataFrame): DataFrame = {
    val spark = hist.sparkSession
    val types = hist.select("event_type").distinct()
    val grid = types.crossJoin(
      spark.range(0, 16).select(col("id").as("bucket")))
    val full = grid.join(hist, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val perType = full.groupBy("event_type")
      .agg(sum(col("cnt")).as("n_t"))
    val perBucket = full.groupBy("bucket")
      .agg(sum(col("cnt")).as("n_b"))
    val tot = full.agg(sum(col("cnt")).as("n"))
    val terms = full.join(perType, "event_type")
      .join(perBucket, "bucket").crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_t"),
        round(
          (((col("cnt") + 1).cast(DoubleType) / (col("n_t") + 16))
            - ((col("n_b") + 1).cast(DoubleType) / (col("n") + 16)))
          * log(((col("cnt") + 1).cast(DoubleType) / (col("n_t") + 16))
            / ((col("n_b") + 1).cast(DoubleType) / (col("n") + 16)))
          * 1000000000L).cast(LongType).as("t9"))
    terms.groupBy("event_type")
      .agg(max(col("n_t")).cast(LongType).as("n_rows"),
        round(sum(col("t9")).cast(DoubleType) / 1000000000L, 6).as("psi"))
      .orderBy("event_type")
  }

  /** Incremental calendar-coverage maintainer (10th incremental
    * maintainer): state is the per-(event_type, day) row count with
    * plain additive merges — batch-boundary-independent by construction
    * — and the finalization is the q_missing_days readout (expected vs
    * observed days between each type's first and last event). The
    * streaming form of the "did ingestion silently skip days?" audit: a
    * 100 TB feed keeps day coverage current digesting only each
    * micro-batch, never rescanning history. */
  def incrementalDayCoverage(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_type"), to_date(col("ts")).as("day"))
    dayCoverageFromState(foldState(stream, workDir) { (batch, prev) =>
      val partial = batch.groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("event_type", "day")
        .agg(sum(col("cnt")).cast(LongType).as("cnt")))
    })
  }

  /** q_missing_days finalization off a (event_type, day, cnt) state
    * table: bounded |types|×|days| domain, exact date arithmetic. */
  def dayCoverageFromState(state: DataFrame): DataFrame =
    dayCoverage(state.groupBy("event_type")
      .agg(min(col("day")).as("d_min"), max(col("day")).as("d_max"),
        count(lit(1)).as("days_observed")))

  /** Per event type (event_type, d_min, d_max, days_observed), the
    * calendar coverage q_missing_days reports: expected days, missing
    * days and the observed share, ordered by event type. */
  def dayCoverage(g: DataFrame): DataFrame =
    g.select(col("event_type"), col("d_min"), col("d_max"),
      (datediff(col("d_max"), col("d_min")) + 1).cast(LongType)
        .as("days_expected"),
      col("days_observed"),
      ((datediff(col("d_max"), col("d_min")) + 1).cast(LongType)
        - col("days_observed")).as("days_missing"),
      round(col("days_observed").cast(DoubleType)
        / (datediff(col("d_max"), col("d_min")) + 1).cast(DoubleType), 6)
        .as("coverage"))
      .orderBy("event_type")

  /** Incremental first-seen attribution per user: the state is each
    * user's minimum (event-time µs, event_id, event_type) tuple and the
    * merge is struct-min — associative, commutative, constant per key —
    * so the final state equals the whole-history recompute regardless of
    * batch boundaries. The signup/first-touch table every funnel joins
    * against, maintained without ever rescanning history. */
  def incrementalFirstSeen(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    foldState(stream, workDir) { (batch, prev) =>
      val partial = batch.groupBy("user_id")
        .agg(min(struct(col("us"), col("event_id"), col("event_type")))
          .as("m"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("user_id")
        .agg(min(col("m")).as("m")))
    }.select(col("user_id"), col("m.us").as("first_us"),
      col("m.event_type").as("first_type"))
  }

  /** Incremental Bloom-filter maintenance over a real micro-batch replay:
    * the filter is a (word → 64-bit bits) table and the merge is bitwise
    * OR — associative, commutative, idempotent — so the final filter is
    * batch-boundary-independent and identical to the batch-built one.
    * This is the streaming form of `plans.BloomPrune`'s build side: a
    * nightly pipeline maintains the seen-keys filter forever without
    * rescanning history, and ships it to the join-pruning probe.
    * Returns a one-row summary: every ingested id must hit (zero false
    * negatives, by construction), plus the measured false-positive count
    * on a disjoint probe set and the filter's fill. */
  def incrementalBloom(spark: SparkSession, sfDir: String, workDir: String,
      nBits: Int = 1 << 16, k: Int = 3, nBatches: Int = 4): DataFrame = {
    // event_id is the table key (bit_or inserts are idempotent anyway),
    // so the shared slices replace the old pre-distinct'd private copy
    val (raw, src) = sliceStream(spark, sfDir, nBatches)
    val stream = raw.select(col("event_id"))
    def positions(df: DataFrame, idName: String): DataFrame = {
      // pmod BEFORE combining: h1 + j*h2 on raw 64-bit hashes overflows
      // ANSI long arithmetic; reduced values stay tiny (< k·nBits).
      val h1 = pmod(xxhash64(col(idName)), lit(nBits.toLong))
      val h2 = pmod(xxhash64(col(idName), lit(7)), lit(nBits.toLong))
      val pos = explode(array((0 until k).map(j =>
        pmod(h1 + lit(j.toLong) * h2, lit(nBits.toLong))): _*)).as("pos")
      df.select(col(idName), pos)
        .select(col(idName), expr("pos DIV 64").as("word"),
          expr("shiftleft(1L, CAST(pos % 64 AS INT))").as("mask"))
    }
    val bloom = foldState(stream, workDir) { (batch, prev) =>
      val partial = positions(batch, "event_id")
        .groupBy("word").agg(bit_or(col("mask")).as("bits"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("word").agg(bit_or(col("bits")).as("bits")))
    }
    // Probe: every ingested id (must all hit — OR-merge loses nothing)
    // plus a disjoint offset set measuring the false-positive rate.
    val ids = graft.Tables.parquet(spark, src).select(col("event_id"))
    val probes = ids.select(col("event_id").as("id"), lit(1).as("is_member"))
      .unionByName(ids.select((col("event_id") + 2000000000L).as("id"),
        lit(0).as("is_member")))
    val checked = positions(probes, "id")
      .join(probes, Seq("id"))
      .join(bloom, Seq("word"), "left")
      .select(col("id"), col("is_member"),
        (col("bits").isNotNull
          && col("bits").bitwiseAND(col("mask")) =!= 0).as("hit"))
      .groupBy("id", "is_member")
      .agg(min(when(col("hit"), 1).otherwise(0)).as("present"))
    checked.crossJoin(
        bloom.agg(count(lit(1)).as("n_words_set")))
      .agg(
        sum(when(col("is_member") === 1, 1).otherwise(0)).cast(LongType)
          .as("n_ids"),
        sum(when(col("is_member") === 1, col("present")).otherwise(0L))
          .cast(LongType).as("n_present"),
        sum(when(col("is_member") === 0, 1).otherwise(0)).cast(LongType)
          .as("n_absent_probed"),
        sum(when(col("is_member") === 0, col("present")).otherwise(0L))
          .cast(LongType).as("n_false_positives"),
        max(col("n_words_set")).as("n_words_set"))
  }

  /** Run a streaming DataFrame to completion over bounded input
    * (Trigger.AvailableNow) and return the final result as a batch DF. */
  def runToCompletion(streamed: DataFrame, mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = streamed.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    streamed.sparkSession.table(name)
  }

  /** 11th incremental maintainer: per-type KMV distinct-user sketch.
    * State is the k smallest 60-bit md5 hashes of user_id per
    * event_type, stored as exploded (event_type, hv) rows (≤ k per
    * type) and merged each micro-batch by re-running the
    * [[graft.functions.KmvSketch]] aggregator over state ∪ batch —
    * min-k of a union is associative and commutative, so the state is
    * batch-boundary-independent and EQUALS the whole-history sketch
    * (which is what the DuckDB oracle recomputes by sorting). The
    * streaming answer to "how many distinct users per type so far"
    * with O(k) state per key instead of a distinct-set. */
  def incrementalKmv(spark: SparkSession, sfDir: String, workDir: String,
      nBatches: Int = 4, k: Int = 32): DataFrame = {
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast(
          org.apache.spark.sql.types.StringType)), 1, 15), 16, 10)
          .cast(LongType).as("hv"))
    val kmv = udaf(new graft.functions.KmvSketch(k),
      org.apache.spark.sql.Encoders.scalaLong)
    foldState(stream, workDir) { (batch, prev) =>
      val partial = batch.groupBy("event_type")
        .agg(kmv(col("hv")).as("mins"))
        .select(col("event_type"), explode(col("mins")).as("hv"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("event_type").agg(kmv(col("hv")).as("mins"))
        .select(col("event_type"), explode(col("mins")).as("hv")))
    }
  }

  /** Jitter-planted event stream shared by q_watermark_plan and the
    * incremental watermark maintainer: the fixture replays in perfect
    * event-time order, so the canonical late-arrival pattern is planted
    * deterministically — every 10th event (seeded md5 pick) carries an
    * event time pushed up to a day behind its arrival slot. Returns
    * (event_id, user_id, event_type, us). */
  def plannedLatenessEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val h = graft.llm.TextOps.hash60 _
    val eid = col("event_id").cast(org.apache.spark.sql.types.StringType)
    val delay = when(h(concat(eid, lit(":l"))) % 10 === 0,
      (h(concat(eid, lit(":d"))) % 86400) * 1000000L).otherwise(0L)
    graft.Tables.tsAsTimestamp(
        graft.Tables.parquet(spark, s"$sfDir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        (unix_micros(col("ts")) - delay).as("us"))
  }

  /** Power-of-two-second lateness bucket (1 s … 2^17 s), pure integer
    * compares — identical CASE chain on both engines. */
  def latenessBucket(latS: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val bounds = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L,
      1024L, 2048L, 4096L, 8192L, 16384L, 32768L, 65536L)
    bounds.reverse.foldLeft(lit(131072L)) { (acc, bnd) =>
      when(latS < bnd, bnd).otherwise(acc)
    }
  }

  /** Watermark plan finalize off a (event_type, bucket_s, c) lateness
    * histogram: P50/P99 bucket bounds by integer cumulative compares on
    * the ≤18-row per-type panel; recommended delay = the P99 bound. */
  def watermarkPlanFromHistogram(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = hist.groupBy("event_type", "bucket_s")
      .agg(sum(col("c")).as("c"))
    val tot = g.groupBy("event_type").agg(sum(col("c")).as("n"))
    val cw = Window.partitionBy("event_type").orderBy("bucket_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g.join(tot, Seq("event_type"))
      .withColumn("cc", sum(col("c")).over(cw))
    cum.groupBy("event_type")
      .agg(max(col("n")).cast(LongType).as("n_late"),
        min(when(col("cc") * 2 >= col("n"), col("bucket_s")))
          .cast(LongType).as("p50_bound_s"),
        min(when(col("cc") * 100 >= col("n") * 99, col("bucket_s")))
          .cast(LongType).as("p99_bound_s"),
        min(when(col("cc") * 100 >= col("n") * 99, col("bucket_s")))
          .cast(LongType).as("watermark_s"))
      .orderBy("event_type")
  }

  /** Write `e` as `nBatches` event_id-RANGE slices under `src`, one file
    * per slice with mtimes pinned ascending, so the file stream source
    * (oldest-first) replays slices in log order. Range slicing gives the
    * prefix property the order-dependent maintainers rely on: an event's
    * "prior events" set is {event_id' < event_id} for ANY slice count. */
  private def writeOrderedSlices(e: DataFrame, src: String,
      nBatches: Int): Unit = {
    val b = e.agg(min(col("event_id")).cast(LongType),
      max(col("event_id")).cast(LongType)).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = (hi - lo) / nBatches + 1
    val dir = new java.io.File(src)
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
      rm(dir)
    }
    val t0 = System.currentTimeMillis() - 3600000L
    // Replay order is encoded ONLY in mtimes (FileStreamSource serves
    // oldest-first); a silently-failed setLastModified would let slices
    // replay out of order and corrupt every order-dependent maintainer's
    // state with no error. So: fail loudly on a false return, and verify
    // the final mtime order matches slice order before handing the dir to
    // the stream. 60 s spacing clears any coarse-granularity filesystem.
    val sliceOf = scala.collection.mutable.Map.empty[String, Int]
    (0 until nBatches).foreach { i =>
      e.filter(col("event_id") >= lo + i * span
          && col("event_id") < lo + (i + 1) * span)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(src)
      new java.io.File(src).listFiles()
        .filter(f => f.getName.startsWith("part-")
          && !sliceOf.contains(f.getName))
        .foreach { f =>
          require(f.setLastModified(t0 + i * 60000L),
            s"setLastModified failed for ${f.getAbsolutePath}; " +
              "slice replay order cannot be guaranteed")
          sliceOf += f.getName -> i
        }
    }
    val byMtime = new java.io.File(src).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.lastModified())
      .map(f => sliceOf(f.getName))
    require(byMtime.sameElements(byMtime.sorted),
      s"slice mtime order ${byMtime.mkString(",")} does not match slice " +
        "order; FileStreamSource would replay out of order")
  }

  /** Shared ordered-slice store (VERDICT r8 task 8): every incremental
    * maintainer replays the SAME events table as an nBatches-file stream;
    * previously each wrote its own projected slice copy (~5 scans + 4
    * writes of the fact table apiece across 17 maintainers). The store
    * writes the FULL events table (ts normalized to TimestampType) as
    * event_id-range ordered slices ONCE per (sfDir, nBatches) and
    * memoizes the path; maintainers apply their projections to the
    * STREAM, where parquet column pruning makes the narrow read as cheap
    * as the old pre-projected copy. Replay semantics are identical:
    * slices are id-RANGE cuts of the same rows, so each maintainer's
    * batch contents equal what its own slicing produced (row-preserving
    * projections commute with id-range slicing; the store also serves the
    * order-INDEPENDENT maintainers, whose merges are commutative, so
    * batch composition is immaterial to their final state). Billed as the
    * bench's warm:stream_slices line; `SharedBuild.clearAll()` clears it
    * like any memo. */
  private val sliceDirs = graft.SharedBuild[(String, Int), String]()()

  def warmSlices(spark: SparkSession, sfDir: String): Unit = {
    orderedSliceDir(spark, sfDir, 4); ()
  }

  private def orderedSliceDir(spark: SparkSession, sfDir: String,
      nBatches: Int): String = sliceDirs((sfDir, nBatches)) {
    // the readable sanitized name alone can collide across distinct
    // raw sfDirs (sanitization is lossy); a digest of the RAW path
    // makes the slice dir injective, so one fixture's rebuild can
    // never clobber a directory another fixture's memo still serves
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).take(6)
      .map(b => f"${b & 0xff}%02x").mkString
    val dir = "target/stream_slices/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_") + s"_$digest/n$nBatches"
    writeOrderedSlices(
      graft.Tables.tsAsTimestamp(
        graft.Tables.parquet(spark, s"$sfDir/events.parquet")),
      dir, nBatches)
    dir
  }

  /** The shared slice stream (full events schema — project what you
    * need) plus the backing dir for static re-reads. */
  private[graft] def sliceStream(spark: SparkSession, sfDir: String,
      nBatches: Int): (DataFrame, String) = {
    val src = orderedSliceDir(spark, sfDir, nBatches)
    (spark.readStream
      .schema(graft.Tables.schemaOf(spark, src))
      .option("maxFilesPerTrigger", "1")
      .parquet(src), src)
  }

  /** Incremental watermark-plan maintainer (12th incremental
    * maintainer): state is (a) the per-user running event-time max and
    * (b) the per-(event_type, bucket) lateness histogram. Batches are
    * event_id-RANGE slices replayed oldest-first (arrival = log order —
    * the kafka-offset contract), so an event's "prior events" set is
    * {event_id' < event_id} under ANY slice count: the per-user
    * running-max state composes exactly and the maintained histogram is
    * batch-boundary-independent, equal to the one-shot recompute (the
    * q_watermark_plan semantics). A 100 TB feed keeps its watermark
    * sizing current digesting only each day's tail. One state version
    * holds both parts: histogram rows (event_type, bucket_s, c) and
    * per-user max rows (user_id, smax), the latter with a null `c`. */
  def incrementalWatermark(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // plannedLatenessEvents is a row-preserving deterministic map of
    // events, so it applies to the shared slice stream unchanged
    val h = graft.llm.TextOps.hash60 _
    val eid = col("event_id").cast(org.apache.spark.sql.types.StringType)
    val delay = when(h(concat(eid, lit(":l"))) % 10 === 0,
      (h(concat(eid, lit(":d"))) % 86400) * 1000000L).otherwise(0L)
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_id"), col("user_id"), col("event_type"),
        (unix_micros(col("ts")) - delay).as("us"))
    def hist(state: DataFrame): DataFrame =
      state.filter(col("c").isNotNull).select("event_type", "bucket_s", "c")
    def umax(state: DataFrame): DataFrame =
      state.filter(col("c").isNull).select("user_id", "smax")
    watermarkPlanFromHistogram(hist(foldState(stream, workDir) {
      (batch, prev) =>
        val bw = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val withPrev = batch.withColumn("bprev", max(col("us")).over(bw))
        val joined = prev.fold(withPrev.withColumn("smax",
          lit(null).cast(LongType)))(p =>
          withPrev.join(umax(p), Seq("user_id"), "left"))
        val prevmax = greatest(
          coalesce(col("bprev"), lit(Long.MinValue)),
          coalesce(col("smax"), lit(Long.MinValue)))
        val late = joined
          .withColumn("pm", prevmax)
          .where(col("pm") =!= Long.MinValue && col("us") < col("pm"))
          .select(col("event_type"),
            latenessBucket(expr("(pm - us) DIV 1000000")).as("bucket_s"))
        val partialHist = late.groupBy("event_type", "bucket_s")
          .agg(count(lit(1)).as("c"))
        val partialMax = batch.groupBy("user_id")
          .agg(max(col("us")).as("smax"))
        val mergedHist = prev.fold(partialHist)(p => hist(p)
          .unionByName(partialHist)
          .groupBy("event_type", "bucket_s")
          .agg(sum(col("c")).cast(LongType).as("c")))
        val mergedMax = prev.fold(partialMax)(p => umax(p)
          .unionByName(partialMax)
          .groupBy("user_id").agg(max(col("smax")).as("smax")))
        mergedHist.unionByName(mergedMax, allowMissingColumns = true)
    }))
  }

  /** Incremental sessionization maintainer (13th incremental
    * maintainer): per-user session LEDGER (session count + last event
    * time) maintained across event_id-range slices. The segment-merge is
    * the classic interval composition: a batch contributes its
    * within-batch session count, MINUS one if its first event continues
    * the state's last session (gap < G). Under prefix slicing this
    * reproduces the whole-history sessionization exactly for any batch
    * count — a 100 TB clickstream keeps per-user session counts current
    * digesting only the day's tail, never re-windowing history. Returns
    * the corpus rollup (users, sessions, mean sessions/user). */
  def incrementalSessions(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4,
      gapUs: Long = 1800L * 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))
    sessionRollup(foldState(stream, workDir) { (batch, prev) =>
      val bw = Window.partitionBy("user_id").orderBy("event_id")
      val withLag = batch.withColumn("prev_us",
        lag(col("us"), 1).over(bw))
      // Boundary events are by EVENT_ID order (the lag ordering), not by
      // time: with late/out-of-order events min(us)/max(us) would pick
      // the wrong boundary and the cross-batch gap check below would
      // diverge from the lag-by-event_id oracle. min_by/max_by(us,
      // event_id) is the first/last event of the batch in replay order.
      val partial = withLag.groupBy("user_id").agg(
        (sum(when(col("prev_us").isNull
            || col("us") - col("prev_us") >= gapUs, 1L).otherwise(0L)))
          .as("n_sess"),
        min_by(col("us"), col("event_id")).as("first_us"),
        max_by(col("us"), col("event_id")).as("last_us"))
      prev.fold(partial)(_
        .select(col("user_id"), col("n_sess").as("s_n"),
          col("first_us").as("s_first"), col("last_us").as("s_last"))
        .join(partial, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("s_n"), lit(0L))
            + coalesce(col("n_sess"), lit(0L))
            - when(col("s_last").isNotNull
                && col("first_us").isNotNull
                && col("first_us") - col("s_last") < gapUs, 1L)
              .otherwise(0L)).as("n_sess"),
          coalesce(col("s_first"), col("first_us")).as("first_us"),
          coalesce(col("last_us"), col("s_last")).as("last_us")))
    })
  }

  /** Incremental one-sided CUSUM monitor (14th incremental maintainer):
    * per event_type, the classic S_t = max(0, S_{t-1} + (v − ref))
    * drift alarm over the event log in event_id order, maintained across
    * batches by the EXACT segment-merge of the closed form
    * S_t = P_t − min(0, min_{j≤t} P_j): state per type is
    * (sum, minPref, maxPref, rawBest, best) — five scalars — with the
    * non-commutative merge
    *   best'    = max(bestA, sA + maxPrefB − min(0, minPrefA), rawBestB)
    *   rawBest' = max(rawBestA, rawBestB, sA + maxPrefB − minPrefA)
    *   minPref' = min(minPrefA, sA + minPrefB)   (maxPref/sum dual).
    * Batches are event_id-RANGE slices replayed oldest-first (the
    * writeOrderedSlices prefix contract), so the fold is exactly the
    * whole-history recursion for ANY slice count. Deviations are exact
    * ·10⁶ integers against the fixed reference (ref = 50.0); no doubles
    * in state. A 100 TB feed keeps the alarm warm from each batch's
    * five-scalar-per-type digest. */
  def incrementalCusum(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4, ref6: Long = 50000000L)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_id"), col("event_type"),
        (round(col("value") * 1000000L).cast(LongType) - ref6).as("d"))
    foldState(stream, workDir) { (batch, prev) =>
      val w = Window.partitionBy("event_type").orderBy("event_id")
      val pre = batch
        .withColumn("pre", sum(col("d")).over(w))
        .withColumn("runmin", min(col("pre")).over(w))
      val partial = pre.groupBy("event_type").agg(
        count(lit(1)).as("b_n"),
        sum(col("d")).as("b_sum"),
        min(col("pre")).as("b_minp"),
        max(col("pre")).as("b_maxp"),
        max(col("pre") - col("runmin")).as("b_rawbest"))
      prev.fold(partial.select(col("event_type"),
          col("b_n").as("n"), col("b_sum").as("s"),
          col("b_minp").as("minp"), col("b_maxp").as("maxp"),
          col("b_rawbest").as("rawbest"),
          greatest(col("b_maxp"), col("b_rawbest")).as("best")))(_
        .join(partial, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          plus0("n", "b_n"),
          plus0("s", "b_sum"),
          when(col("b_minp").isNull, col("minp"))
            .when(col("minp").isNull, col("b_minp"))
            .otherwise(least(col("minp"),
              col("s") + col("b_minp"))).as("minp"),
          when(col("b_maxp").isNull, col("maxp"))
            .when(col("maxp").isNull, col("b_maxp"))
            .otherwise(greatest(col("maxp"),
              col("s") + col("b_maxp"))).as("maxp"),
          when(col("b_rawbest").isNull, col("rawbest"))
            .when(col("rawbest").isNull, col("b_rawbest"))
            .otherwise(greatest(col("rawbest"), col("b_rawbest"),
              col("s") + col("b_maxp") - col("minp")))
            .as("rawbest"),
          when(col("b_maxp").isNull, col("best"))
            .when(col("best").isNull,
              greatest(col("b_maxp"), col("b_rawbest")))
            .otherwise(greatest(col("best"),
              col("s") + col("b_maxp")
                - least(lit(0L), col("minp")),
              col("b_rawbest"))).as("best")))
    }
  }

  /** Incremental per-type trend regression (15th incremental
    * maintainer): state is the five exact co-moment sums of
    * value(·10⁶) on event-time seconds — (n, Σx, Σv, Σxx, Σxv, Σvv) —
    * merged by plain addition (Σxx/Σxv/Σvv on DECIMAL(38), overflow-
    * proof to sf≫100), so the maintained state equals the one-shot
    * recompute for any batch count and the OLS slope/r² finalize on the
    * bounded per-type panel. The streaming answer to "is this metric
    * drifting, and how fast per day". */
  def incrementalRegression(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    val big38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 1000000").as("x"),
        v6)
    foldState(stream, workDir) { (batch, prev) =>
      val partial = batch.groupBy("event_type")
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum(col("x")).cast(LongType).as("sx"),
          sum(col("v6")).cast(LongType).as("sv"),
          sum(col("x").cast(big38) * col("x")).cast(big38).as("sxx"),
          sum(col("x").cast(big38) * col("v6")).cast(big38).as("sxv"),
          sum(col("v6").cast(big38) * col("v6")).cast(big38).as("svv"))
      prev.fold(partial)(_.unionByName(partial)
        .groupBy("event_type")
        .agg(sum(col("n")).cast(LongType).as("n"),
          sum(col("sx")).cast(LongType).as("sx"),
          sum(col("sv")).cast(LongType).as("sv"),
          sum(col("sxx")).cast(big38).as("sxx"),
          sum(col("sxv")).cast(big38).as("sxv"),
          sum(col("svv")).cast(big38).as("svv")))
    }
  }

  /** Incremental inter-event gap monitor (16th incremental maintainer):
    * per event_type, the count / sum / max of successive-event time gaps
    * in event_id order — the feed-health statistic ("is the source
    * stalling?") every ingestion dashboard wants, maintained across
    * event_id-range slices. Gap semantics are lag-by-event_id (the
    * incrementalSessions convention), so the segment state carries the
    * BOUNDARY events — min_by/max_by(us, event_id) — and the merge adds
    * the one cross-batch gap (next segment's first minus this state's
    * last) that neither segment saw internally. Under the
    * writeOrderedSlices prefix contract the fold equals the
    * whole-history lag recompute for ANY slice count. State is six
    * scalars per type; a 100 TB feed keeps gap health warm from each
    * batch's digest. */
  def incrementalGapStats(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    foldState(stream, workDir) { (batch, prev) =>
      val bw = Window.partitionBy("event_type").orderBy("event_id")
      val withLag = batch.withColumn("gap",
        col("us") - lag(col("us"), 1).over(bw))
      val partial = withLag.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(when(col("gap").isNotNull, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(sum(col("gap")), lit(0L)).as("sum_gap"),
        max(col("gap")).as("max_gap"),
        min_by(col("us"), col("event_id")).as("first_us"),
        max_by(col("us"), col("event_id")).as("last_us"))
      val boundary = when(col("s_last").isNotNull
        && col("first_us").isNotNull,
        col("first_us") - col("s_last"))
      prev.fold(partial)(_
        .select(col("event_type"), col("n").as("s_n"),
          col("n_gaps").as("s_ng"), col("sum_gap").as("s_sg"),
          col("max_gap").as("s_mg"), col("first_us").as("s_first"),
          col("last_us").as("s_last"))
        .join(partial, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("s_n"), lit(0L))
            + coalesce(col("n"), lit(0L))).as("n"),
          (coalesce(col("s_ng"), lit(0L))
            + coalesce(col("n_gaps"), lit(0L))
            + when(boundary.isNotNull, 1L).otherwise(0L))
            .as("n_gaps"),
          (coalesce(col("s_sg"), lit(0L))
            + coalesce(col("sum_gap"), lit(0L))
            + coalesce(boundary, lit(0L))).as("sum_gap"),
          greatest(col("s_mg"), col("max_gap"), boundary)
            .as("max_gap"),
          coalesce(col("s_first"), col("first_us")).as("first_us"),
          coalesce(col("last_us"), col("s_last")).as("last_us")))
    }
  }

  /** Incremental running z-score alarm monitor (17th incremental
    * maintainer): per event_type, count the events whose value deviates
    * more than 3σ from the running mean/variance of all PRIOR events
    * (30-event warmup) — the self-calibrating point-anomaly alarm, with
    * NO doubles anywhere: v is ·10⁶-quantized and the 3σ test is the
    * cross-multiplied integer predicate (v·n − s)² > 9·(n·q − s²) on
    * exact prefix sums, so the alarm decision is bit-reproducible.
    * State per type is (n, Σv, Σv², alarms); each batch seeds its
    * within-batch prefix windows FROM the state offsets, so under the
    * writeOrderedSlices prefix contract the fold equals the
    * whole-history recursion for any slice count. Magnitude note: the
    * DECIMAL(38) products cap at ~1e12 events per type at this value
    * scale — beyond that, re-center v against a running reference (the
    * incrementalCusum ref idiom) to keep Σv² small. */
  def incrementalZAlarm(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val big38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val stream = sliceStream(spark, sfDir, nBatches)._1
      .select(col("event_id"), col("event_type"), v6)
    foldState(stream, workDir) { (batch, prev) =>
      val w = Window.partitionBy("event_type").orderBy("event_id")
      val base = prev.fold(batch
          .withColumn("o_n", lit(0L))
          .withColumn("o_s", lit(0L))
          .withColumn("o_q", lit(0L).cast(big38))) { st =>
        val offsets = st.select(col("event_type"), col("n").as("o_n"),
          col("s").as("o_s"), col("q").as("o_q"))
        batch.join(broadcast(offsets), Seq("event_type"), "left")
          .withColumn("o_n", coalesce(col("o_n"), lit(0L)))
          .withColumn("o_s", coalesce(col("o_s"), lit(0L)))
          .withColumn("o_q", coalesce(col("o_q"), lit(0L).cast(big38)))
      }
      val vb = col("v6").cast(big38)
      val seeded = base
        .withColumn("np",
          col("o_n") + row_number().over(w).cast(LongType) - 1L)
        .withColumn("sp", (col("o_s").cast(big38)
          + sum(col("v6")).over(w).cast(big38) - vb).cast(big38))
        .withColumn("qp", (col("o_q")
          + sum((vb * vb).cast(big38)).over(w)
          - (vb * vb).cast(big38)).cast(big38))
      val dev = (vb * col("np").cast(big38) - col("sp")).cast(big38)
      val alarm = col("np") >= 30L &&
        (dev * dev).cast(big38) >
          (lit(9).cast(big38) * (col("np").cast(big38) * col("qp")
            - col("sp") * col("sp"))).cast(big38)
      val partial = seeded.groupBy("event_type").agg(
        count(lit(1)).as("b_n"),
        sum(col("v6")).as("b_s"),
        sum((vb * vb).cast(big38)).cast(big38).as("b_q"),
        sum(when(alarm, 1L).otherwise(0L)).as("b_al"))
      prev.fold(partial.select(col("event_type"), col("b_n").as("n"),
          col("b_s").as("s"), col("b_q").as("q"),
          col("b_al").as("alarms")))(_
        .join(partial, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          plus0("n", "b_n"),
          plus0("s", "b_s"),
          (coalesce(col("q"), lit(0L).cast(big38))
            + coalesce(col("b_q"), lit(0L).cast(big38)))
            .cast(big38).as("q"),
          plus0("alarms", "b_al")))
    }
  }

  /** Corpus rollup of a per-user session ledger: one bounded row. */
  def sessionRollup(ledger: DataFrame): DataFrame =
    ledger.agg(count(lit(1)).cast(LongType).as("n_users"),
        sum(col("n_sess")).cast(LongType).as("n_sessions"),
        max(col("n_sess")).cast(LongType).as("max_sessions"))
      .select(col("n_users"), col("n_sessions"), col("max_sessions"),
        round(col("n_sessions").cast(DoubleType)
          / col("n_users").cast(DoubleType), 6).as("mean_sessions"))
}
