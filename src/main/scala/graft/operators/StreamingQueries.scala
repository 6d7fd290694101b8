package graft.operators

import graft.Q
import graft.Dsl._
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** §2.I streaming family, declared as deterministic batch-shape queries
  * (Verify executes batch only); true streaming semantics — watermark
  * drops, stateful timeouts, AvailableNow replay — are covered by the
  * MemoryStream ScalaTest suite and by q_stream_late, which runs a real
  * streaming job inside Verify.
  */
object StreamingQueries {

  val qStreamTumbling = Q(
    "q_stream_tumbling",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  count(*) AS cnt
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin) {
    (s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("cnt"))
        .orderBy("window_start", "event_type")
  }

  /** Sliding 1h/30m: each event lands in exactly two windows; the oracle
    * expands them explicitly (grid aligned to the epoch 30-min boundary,
    * same as Spark's window() alignment). */
  val qStreamSliding = Q(
    "q_stream_sliding",
    """SELECT w_start, count(*) AS cnt FROM (
      |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w_start FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE
      |  FROM events) w
      |GROUP BY w_start ORDER BY w_start""".stripMargin) { (s, d) =>
    t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w_start"), col("cnt"))
      .orderBy("w_start")
  }

  /** Session windows (30-min gap); oracle is the classic gaps-and-islands
    * rewrite. Spark's session end = last event + gap, mirrored in SQL. */
  val qStreamSession = Q(
    "q_stream_session",
    """SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) IS NULL
      |             OR ts - lag(ts) OVER (PARTITION BY user_id
      |                                   ORDER BY ts, event_id)
      |                > INTERVAL 30 MINUTE
      |           THEN 1 ELSE 0 END AS is_new
      |    FROM events) flags) sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    StreamOps.sessionize(t(s, d, "events"), "30 minutes")
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start")
  }

  val qStreamDedup = Q(
    "q_stream_dedup",
    """SELECT user_id, count(*) AS n_types FROM
      |  (SELECT DISTINCT user_id, event_type FROM events) u
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    t(s, d, "events")
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_types"))
      .orderBy("user_id")
  }

  /** Real streaming execution in the verify path: file-source replay with a
    * 10-min watermark, tumbling agg, AvailableNow trigger, memory sink.
    * Watermark semantics (actual late-drop) are asserted in the MemoryStream
    * test where arrival order is controlled; no DuckDB analog → rows-only. */
  val qStreamLate = Q.noOracle("q_stream_late") { (s, d) =>
    val streamed = StreamOps.tumblingCounts(
      StreamOps.replayEvents(s, d), "1 hour", "10 minutes")
    StreamOps.runToCompletion(streamed)
      .orderBy("window_start", "event_type")
  }

  /** Arbitrary-stateful running count; batch oracle is a plain groupBy
    * (the streaming mapGroupsWithState path is in the test suite). */
  val qStreamStateful = Q(
    "q_stream_stateful",
    """SELECT user_id, count(*) AS n_events FROM events
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val spark = s
    import spark.implicits._
    t(s, d, "events")
      .select(col("user_id").cast(LongType)).as[Long]
      .groupByKey(identity)
      .mapGroups((user, rows) => (user, rows.size.toLong))
      .toDF("user_id", "n_events")
      .orderBy("user_id")
  }

  /** Stream-static join, batch shape (the streaming path — MemoryStream ⋈
    * static customer — is asserted in StreamingSpec). */
  val qStreamStaticJoin = Q(
    "q_stream_static_join",
    """SELECT c_mktsegment, event_type, count(*) AS cnt
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type
      |ORDER BY c_mktsegment, event_type""".stripMargin) { (s, d) =>
    StreamOps.enrichWithStatic(t(s, d, "events"),
        t(s, d, "customer"), "user_id", "c_custkey")
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment", "event_type")
  }

  /** Real streaming incremental-view maintenance in the verify path: a
    * 4-micro-batch file replay maintains a (day, event_type) count table
    * by merging additive partials into versioned parquet state via
    * foreachBatch — and the final state equals the batch recompute, which
    * IS the oracle. The streaming counterpart of q_incr_agg. */
  val qStreamIncrAgg = Q(
    "q_stream_incr_agg",
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |  count(*) AS cnt
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) {
    (s, d) =>
      // DATE on both sides: DuckDB's date_trunc('day') is already a DATE,
      // Spark's is a TIMESTAMP
      StreamOps.incrementalDailyCounts(s, d,
          s"target/stream_incr_${math.abs(d.hashCode)}")
        .withColumn("day", col("day").cast(org.apache.spark.sql.types.DateType))
        .orderBy("day", "event_type")
  }

  /** Real streaming checksum maintenance in the verify path: the
    * q_table_checksum digests (count / modular hash sum / hash xor per
    * event_type) maintained incrementally over a 4-micro-batch file
    * replay — commutative digests make the final state batch-boundary-
    * independent, so the DuckDB batch recompute is the oracle. */
  /** Streaming CDC upsert: the latest-state-per-user table maintained
    * INCREMENTALLY over a real 4-micro-batch replay
    * (StreamOps.incrementalUpsert — foreachBatch versioned state, each
    * merge touching |state| + |batch| rows). Keep-latest is idempotent /
    * commutative across batch boundaries, so the final state equals the
    * whole-history recompute — which is exactly this oracle (the same
    * window q_merge_upsert's batch MERGE checks against). */
  val qStreamUpsert = Q(
    "q_stream_upsert",
    """SELECT user_id, state, us FROM (
      |  SELECT user_id, event_type AS state, epoch_us(ts) AS us,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
      |  FROM events) x
      |WHERE rk = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    StreamOps.incrementalUpsert(s, d,
        s"target/stream_upsert_${math.abs(d.hashCode)}")
      .orderBy("user_id")
  }

  val qStreamChecksum = Q(
    "q_stream_checksum",
    """SELECT event_type, count(*) AS n_rows,
      |  CAST(sum(h % 1099511627776) % 1099511627776 AS BIGINT) AS sum_hash,
      |  CAST(bit_xor(h) AS BIGINT) AS xor_hash
      |FROM (
      |  SELECT event_type,
      |    CAST(concat('0x', substr(md5(concat_ws('|',
      |      event_id, user_id, event_type, epoch_us(ts))), 1, 15))
      |      AS BIGINT) AS h
      |  FROM events) z
      |GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    StreamOps.incrementalChecksum(s, d,
        s"target/stream_cksum_${math.abs(d.hashCode)}")
      .orderBy("event_type")
  }

  /** Per-user top behavior, batch shape: each user's most frequent event
    * type (count desc, type tiebreak). The true streaming form is
    * `StreamOps.streamingTopBehavior` — a Space-Saving sketch as the
    * mapGroupsWithState transition, state bounded at `capacity` counters
    * per user on an unbounded stream (StreamingSpec); this registers the
    * equivalent deterministic batch semantics under the oracle gate. */
  val qStreamTopk = Q(
    "q_stream_topk",
    """SELECT user_id, event_type AS top_type, cnt FROM (
      |  SELECT user_id, event_type, count(*) AS cnt,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY count(*) DESC, event_type) AS rk
      |  FROM events GROUP BY 1, 2) z
      |WHERE rk = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("cnt").desc, col("event_type"))
    t(s, d, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("top_type"), col("cnt"))
      .orderBy("user_id")
  }

  /** Stream-stream interval join, batch shape: each view joined to the
    * same user's clicks within the following 10 minutes (LEFT, so views
    * with no click survive with zero). The true streaming execution —
    * watermarked MemoryStream inner/left interval joins with
    * watermark-finalized null emission — is `StreamOps.viewClickJoin` /
    * `viewClickLeftJoin`, asserted in StreamingSpec; this registers the
    * equivalent deterministic batch semantics under the oracle gate. The
    * join keeps its user_id equi component, so the time predicate filters
    * co-partitioned data instead of exploding a pure range join. */
  val qStreamIntervalJoin = Q(
    "q_stream_interval_join",
    """WITH v AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'view' AND user_id % 50 = 0),
      |c AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'click' AND user_id % 50 = 0)
      |SELECT v.user_id, v.event_id AS view_id, v.us,
      |  count(c.us) AS n_clicks_10m
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |  AND c.us >= v.us AND c.us < v.us + 600000000
      |GROUP BY 1, 2, 3 ORDER BY v.user_id, v.us, view_id""".stripMargin) {
    (s, d) =>
      def slice(tpe: String) = t(s, d, "events")
        .filter(col("event_type") === tpe && col("user_id") % 50 === 0)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast(
            org.apache.spark.sql.types.TimestampType)).as("us"))
      val v = slice("view")
      val c = slice("click")
        .select(col("user_id").as("c_user"), col("us").as("c_us"))
      v.join(c,
          col("user_id") === col("c_user") && col("c_us") >= col("us") &&
            col("c_us") < col("us") + lit(600000000L), "left")
        .groupBy(col("user_id"), col("event_id").as("view_id"), col("us"))
        .agg(count(col("c_us")).as("n_clicks_10m"))
        .orderBy("user_id", "us", "view_id")
  }

  /** Streaming quantile maintenance: per-event_type p50/p90/p99 of the
    * value column maintained INCREMENTALLY over a real 4-micro-batch
    * replay (StreamOps.incrementalQuantiles — centi-bin histograms merged
    * per batch, quantiles read off the final state). Bin counts are
    * additive so the final histogram is batch-boundary-independent and
    * the batch recompute IS the oracle; the state is value-domain-
    * bounded, never row-bounded — the streaming latency-monitoring
    * pattern. */
  val qStreamQuantile = Q(
    "q_stream_quantile",
    """WITH h AS (
      |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS bin,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |x AS (
      |  SELECT event_type, bin, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |  ROUND(CAST(min(CASE WHEN cum * 100 >= n * 50 THEN bin END)
      |    AS DOUBLE) / 100, 6) AS p50,
      |  ROUND(CAST(min(CASE WHEN cum * 100 >= n * 90 THEN bin END)
      |    AS DOUBLE) / 100, 6) AS p90,
      |  ROUND(CAST(min(CASE WHEN cum * 100 >= n * 99 THEN bin END)
      |    AS DOUBLE) / 100, 6) AS p99
      |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
      StreamOps.incrementalQuantiles(s, d,
          s"target/stream_quant_${math.abs(d.hashCode)}")
        .orderBy("event_type")
  }

  /** Streaming min/max/mean monitor per event type, maintained
    * incrementally over a REAL 4-batch replay by
    * `StreamOps.incrementalExtremes`: count, 10⁻⁶-unit sum, min, max are
    * all associative-commutative merges, so the final state is
    * batch-boundary-independent and must equal this whole-history
    * recompute (the oracle). Constant state per key. */
  val qStreamMinmax = Q(
    "q_stream_minmax",
    """SELECT event_type, count(*) AS n_rows,
      |  ROUND(CAST(min(CAST(ROUND(value * 1000000) AS BIGINT)) AS DOUBLE)
      |    / 1000000, 6) AS min_v,
      |  ROUND(CAST(max(CAST(ROUND(value * 1000000) AS BIGINT)) AS DOUBLE)
      |    / 1000000, 6) AS max_v,
      |  ROUND(CAST(sum(CAST(ROUND(value * 1000000) AS BIGINT)) AS DOUBLE)
      |    / 1000000 / count(*), 6) AS mean_v
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    StreamOps.incrementalExtremes(s, d,
        s"target/stream_minmax_${math.abs(d.hashCode)}")
      .select(col("event_type"), col("n_rows"),
        round(col("min6").cast("double") / 1000000L, 6).as("min_v"),
        round(col("max6").cast("double") / 1000000L, 6).as("max_v"),
        round(col("sum6").cast("double") / 1000000L / col("n_rows"), 6)
          .as("mean_v"))
      .orderBy("event_type")
  }

  /** First-touch attribution per user maintained incrementally by
    * `StreamOps.incrementalFirstSeen`: state is the per-user minimum
    * (µs, event_id, type) tuple, merged by struct-min across a real
    * 4-batch replay — batch boundaries cannot change a minimum, so the
    * final state equals this whole-history recompute (the oracle). */
  val qStreamFirstSeen = Q(
    "q_stream_first_seen",
    """SELECT user_id, us AS first_us, event_type AS first_type FROM (
      |  SELECT user_id, epoch_us(ts) AS us, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS rk
      |  FROM events) x
      |WHERE rk = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    StreamOps.incrementalFirstSeen(s, d,
        s"target/stream_firstseen_${math.abs(d.hashCode)}")
      .orderBy("user_id")
  }

  /** Incrementally-maintained Bloom filter of seen event ids (the
    * streaming build side of plans.BloomPrune): bit-word OR merges over a
    * real 4-batch replay; zero false negatives by construction (every
    * ingested id hits), false positives measured on a disjoint probe set.
    * Not SQL-expressible — semantic coverage in StreamingSpec (summary
    * invariants + batch-boundary independence); Verify records the
    * rows-only check on the one-row summary. */
  val qStreamBloom = Q.noOracle("q_stream_bloom") { (s, d) =>
    StreamOps.incrementalBloom(s, d,
      s"target/stream_bloom_${math.abs(d.hashCode)}")
  }

  /** Per-type mean/variance/σ maintained incrementally by
    * `StreamOps.incrementalMoments` over a real 4-batch replay: state
    * (n, Σv6, Σv6²) merges by plain sums (Σv6² in DECIMAL(38), overflow-
    * proof), so the final state equals this whole-history recompute (the
    * oracle); the σ assembly happens once on the bounded per-type state
    * table, identical op order both engines. 8th incremental
    * maintainer. */
  val qStreamMoments = Q(
    "q_stream_moments",
    """WITH q AS (
      |  SELECT event_type, CAST(ROUND(value * 1000000) AS BIGINT) AS v6
      |  FROM events),
      |m AS (
      |  SELECT event_type, count(*) AS n,
      |    sum(CAST(v6 AS HUGEINT)) AS s1,
      |    sum(CAST(v6 AS HUGEINT) * v6) AS s2
      |  FROM q GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n_rows,
      |  ROUND(CAST(s1 AS DOUBLE) / 1000000 / n, 6) AS mean_v,
      |  ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n
      |    / 1000000000000, 6) AS var_v,
      |  ROUND(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n)
      |    / 1000000, 6) AS stddev_v
      |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DoubleType
    StreamOps.incrementalMoments(s, d,
        s"target/stream_moments_${math.abs(d.hashCode)}")
      .select(col("event_type"), col("n_rows"),
        round(col("sum6").cast(DoubleType) / 1000000L / col("n_rows"), 6)
          .as("mean_v"),
        round((col("ssq").cast(DoubleType)
            - col("sum6").cast(DoubleType) * col("sum6") / col("n_rows"))
          / col("n_rows") / 1000000000000L, 6).as("var_v"),
        round(sqrt((col("ssq").cast(DoubleType)
            - col("sum6").cast(DoubleType) * col("sum6") / col("n_rows"))
          / col("n_rows")) / 1000000L, 6).as("stddev_v"))
      .orderBy("event_type")
  }

  /** Per-type PSI drift vs the pooled distribution, off the
    * incrementally-maintained (type, bucket) histogram
    * (`StreamOps.incrementalPsi`, 9th incremental maintainer): additive
    * count merges make the histogram batch-boundary-independent, so the
    * final PSI equals this whole-history recompute (the oracle); each
    * Laplace-smoothed term quantizes to ·10⁹ over the bounded 16-bucket
    * grid before summing. */
  val qStreamPsi = Q(
    "q_stream_psi",
    """WITH q AS (
      |  SELECT event_type,
      |    LEAST(15, CAST(floor(value / 10) AS BIGINT)) AS bucket
      |  FROM events),
      |h AS (
      |  SELECT event_type, bucket, count(*) AS cnt FROM q GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.event_type, g.bucket
      |  FROM (SELECT DISTINCT event_type FROM h) t,
      |    generate_series(0, 15) g(bucket)),
      |fh AS (
      |  SELECT grid.event_type, grid.bucket, COALESCE(h.cnt, 0) AS cnt
      |  FROM grid LEFT JOIN h USING (event_type, bucket)),
      |pt AS (SELECT event_type, sum(cnt) AS n_t FROM fh GROUP BY 1),
      |pb AS (SELECT bucket, sum(cnt) AS n_b FROM fh GROUP BY 1),
      |tot AS (SELECT sum(cnt) AS n FROM fh),
      |terms AS (
      |  SELECT f.event_type, pt.n_t,
      |    CAST(ROUND(
      |      ((CAST(f.cnt + 1 AS DOUBLE) / (pt.n_t + 16))
      |        - (CAST(pb.n_b + 1 AS DOUBLE) / (tot.n + 16)))
      |      * ln((CAST(f.cnt + 1 AS DOUBLE) / (pt.n_t + 16))
      |        / (CAST(pb.n_b + 1 AS DOUBLE) / (tot.n + 16)))
      |      * 1000000000) AS BIGINT) AS t9
      |  FROM fh f JOIN pt USING (event_type) JOIN pb USING (bucket), tot)
      |SELECT event_type, CAST(max(n_t) AS BIGINT) AS n_rows,
      |  ROUND(CAST(sum(t9) AS DOUBLE) / 1000000000, 6) AS psi
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    StreamOps.incrementalPsi(s, d,
      s"target/stream_psi_${math.abs(d.hashCode)}")
  }

  /** Calendar coverage per event type off the incrementally-maintained
    * (type, day) count state (`StreamOps.incrementalDayCoverage`, 10th
    * incremental maintainer): additive merges make the day-count state
    * batch-boundary-independent, so the finalized coverage equals this
    * whole-history recompute (the q_missing_days oracle shape). */
  val qStreamDays = Q(
    "q_stream_days",
    StatQueries.missingDaysSql) { (s, d) =>
    StreamOps.incrementalDayCoverage(s, d,
      s"target/stream_days_${math.abs(d.hashCode)}")
  }

  /** Per-type distinct-user KMV estimate off the incrementally-
    * maintained k-minimum-hash sketch (`StreamOps.incrementalKmv`,
    * 11th incremental maintainer). Min-k merges are associative and
    * commutative, so the streamed sketch EQUALS the whole-history
    * sketch the oracle recomputes by sorting — the deterministic
    * streaming distinct-count with O(k) state per key. Types with
    * fewer than k distinct users carry no estimate (inner-join
    * parity with the oracle's rank-k pick). */
  val qStreamKmv = Q(
    "q_stream_kmv",
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS hv
      |  FROM events),
      |r AS (
      |  SELECT event_type, hv,
      |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
      |  FROM h),
      |cnt AS (
      |  SELECT event_type, count(*) AS n_mins FROM r WHERE rk <= 8
      |  GROUP BY 1),
      |kth AS (SELECT event_type, hv AS hk FROM r WHERE rk = 8)
      |SELECT cnt.event_type, CAST(n_mins AS INT) AS n_mins,
      |  ROUND(7.0 * 1152921504606846976 / hk, 4) AS kmv_estimate
      |FROM cnt JOIN kth ON cnt.event_type = kth.event_type
      |ORDER BY cnt.event_type""".stripMargin) { (s, d) =>
    StreamOps.incrementalKmv(s, d,
        s"target/stream_kmv_${math.abs(d.hashCode)}", k = 8)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_mins"), max(col("hv")).as("hk"))
      .filter(col("n_mins") === 8)
      .select(col("event_type"), col("n_mins").cast(IntegerType).as("n_mins"),
        round(lit(7.0) * lit(1152921504606846976L)
          / col("hk"), 4).as("kmv_estimate"))
      .orderBy("event_type")
  }

  /** Watermark sizing off the incrementally-maintained lateness state
    * (`StreamOps.incrementalWatermark`, 12th incremental maintainer):
    * per-user running event-time max + per-(type, bucket) lateness
    * histogram, replayed as event_id-range slices (arrival = log order),
    * so the maintained histogram is batch-boundary-independent and the
    * finalized plan equals this whole-history recompute (the
    * q_watermark_plan semantics with the same planted jitter). */
  val qStreamWatermark = Q("q_stream_watermark",
      PipelineQueries.watermarkPlanSql) {
    (s, d) =>
    StreamOps.incrementalWatermark(s, d,
      s"target/stream_wm_${math.abs(d.hashCode)}")
  }

  /** Per-user session-count rollup off the incrementally-maintained
    * session ledger (`StreamOps.incrementalSessions`, 13th incremental
    * maintainer): state is (n_sessions, first/last event time) per user;
    * a batch merges by subtracting one session when its first event
    * continues the state's last session — the classic segment
    * composition, exact under event_id-range (prefix) slices. The oracle
    * is the whole-history 30-min-gap sessionization. */
  val qStreamSessions = Q(
    "q_stream_sessions",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |l AS (
      |  SELECT user_id,
      |    us - lag(us) OVER (PARTITION BY user_id ORDER BY event_id)
      |      AS gap
      |  FROM e),
      |pu AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN gap IS NULL OR gap >= 1800000000
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sess
      |  FROM l GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(n_sess) AS BIGINT) AS n_sessions,
      |  CAST(max(n_sess) AS BIGINT) AS max_sessions,
      |  ROUND(CAST(sum(n_sess) AS DOUBLE) / count(*), 6)
      |    AS mean_sessions
      |FROM pu""".stripMargin) { (s, d) =>
    StreamOps.incrementalSessions(s, d,
      s"target/stream_sess_${math.abs(d.hashCode)}")
  }

  /** Per-type one-sided CUSUM drift monitor maintained incrementally by
    * `StreamOps.incrementalCusum` (14th incremental maintainer) over a
    * real event_id-range micro-batch replay: the five-scalar segment
    * state (sum, minPref, maxPref, rawBest, best) folds the closed form
    * S_t = P_t − min(0, min_{j≤t} P_j) EXACTLY across batches, so the
    * final (current, peak) equals this whole-history recompute (the
    * oracle). Deviations are exact ·10⁶ integers vs the fixed ref=50
    * target; the oracle's event_type-keyed prefix windows are the batch
    * form of the same recursion. */
  val qStreamCusum = Q(
    "q_stream_cusum",
    """WITH q AS (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 1000000) AS BIGINT) - 50000000 AS d
      |  FROM events),
      |p AS (
      |  SELECT event_id, event_type, d,
      |    sum(d) OVER (PARTITION BY event_type ORDER BY event_id) AS pre
      |  FROM q),
      |m AS (
      |  SELECT event_type, pre,
      |    min(pre) OVER (PARTITION BY event_type ORDER BY event_id)
      |      AS runmin
      |  FROM p),
      |pk AS (
      |  SELECT event_type, count(*) AS n,
      |    max(pre - LEAST(CAST(0 AS BIGINT), runmin)) AS peak
      |  FROM m GROUP BY 1),
      |cur AS (
      |  SELECT event_type, sum(d) AS tot, min(pre) AS minp
      |  FROM p GROUP BY 1)
      |SELECT pk.event_type, CAST(n AS BIGINT) AS n_events,
      |  ROUND(CAST(tot - LEAST(CAST(0 AS BIGINT), minp) AS DOUBLE)
      |    / 1e6, 6) AS cusum_now,
      |  ROUND(CAST(peak AS DOUBLE) / 1e6, 6) AS cusum_peak
      |FROM pk JOIN cur ON pk.event_type = cur.event_type
      |ORDER BY pk.event_type""".stripMargin) { (s, d) =>
    val st = StreamOps.incrementalCusum(s, d,
      s"target/stream_cusum_${math.abs(d.hashCode)}")
    st.select(col("event_type"), col("n").cast(LongType).as("n_events"),
        round((col("s") - least(lit(0L), col("minp")))
          .cast(DoubleType) / 1e6, 6).as("cusum_now"),
        round(col("best").cast(DoubleType) / 1e6, 6).as("cusum_peak"))
      .orderBy("event_type")
  }

  /** Per-type value-vs-time trend OLS maintained incrementally by
    * `StreamOps.incrementalRegression` (15th incremental maintainer):
    * state (n, Σx, Σv, Σxx, Σxv, Σvv) merges by plain sums (wide sums on
    * DECIMAL(38)), so slope/intercept/r² from the final state equal this
    * whole-history recompute; the per-day drift rate every KPI page
    * wants, kept warm without rescanning history. */
  val qStreamRegression = Q(
    "q_stream_regression",
    """WITH q AS (
      |  SELECT event_type, epoch_us(ts) // 1000000 AS x,
      |    CAST(round(value * 1000000) AS BIGINT) AS v6
      |  FROM events),
      |m AS (
      |  SELECT event_type, count(*) AS n,
      |    sum(x) AS sx, sum(v6) AS sv,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * v6) AS sxv,
      |    sum(CAST(v6 AS HUGEINT) * v6) AS svv
      |  FROM q GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n_events,
      |  ROUND((CAST(n AS DOUBLE) * CAST(sxv AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sv AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    * 86400 / 1e6, 6) AS slope_per_day,
      |  ROUND((CAST(n AS DOUBLE) * CAST(sxv AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sv AS DOUBLE))
      |    * (CAST(n AS DOUBLE) * CAST(sxv AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sv AS DOUBLE))
      |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
      |      - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 6) AS r2
      |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
    val st = StreamOps.incrementalRegression(s, d,
      s"target/stream_regression_${math.abs(d.hashCode)}")
    val sl = (col("n").cast(DoubleType) * col("sxv").cast(DoubleType)
      - col("sx").cast(DoubleType) * col("sv").cast(DoubleType))
    st.select(col("event_type"), col("n").cast(LongType).as("n_events"),
        round(sl
          / (col("n").cast(DoubleType) * col("sxx").cast(DoubleType)
            - col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
          * 86400 / 1e6, 6).as("slope_per_day"),
        round(sl * sl
          / ((col("n").cast(DoubleType) * col("sxx").cast(DoubleType)
            - col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
            * (col("n").cast(DoubleType) * col("svv").cast(DoubleType)
              - col("sv").cast(DoubleType) * col("sv").cast(DoubleType))),
          6).as("r2"))
      .orderBy("event_type")
  }

  /** Per-type inter-event gap health (count / mean / max of successive
    * gaps in event_id order) maintained incrementally by
    * `StreamOps.incrementalGapStats` (16th incremental maintainer) over a
    * real event_id-range micro-batch replay: segment state carries the
    * boundary events, the merge adds the one cross-batch gap neither
    * segment saw, so the final ledger equals this whole-history lag
    * recompute (the oracle) for any batch count — the "is the source
    * stalling?" feed dashboard, kept warm from per-batch digests. */
  val qStreamGaps = Q(
    "q_stream_gaps",
    """WITH e AS (
      |  SELECT event_id, event_type, epoch_us(ts) AS us FROM events),
      |l AS (
      |  SELECT event_type,
      |    us - lag(us) OVER (PARTITION BY event_type ORDER BY event_id)
      |      AS gap
      |  FROM e),
      |g AS (
      |  SELECT event_type, count(*) AS n_events,
      |    sum(CASE WHEN gap IS NOT NULL THEN 1 ELSE 0 END) AS n_gaps,
      |    sum(gap) AS sg, max(gap) AS mg
      |  FROM l GROUP BY 1)
      |SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
      |  CAST(n_gaps AS BIGINT) AS n_gaps,
      |  ROUND(CAST(sg AS DOUBLE) / 1e6 / n_gaps, 6) AS mean_gap_s,
      |  ROUND(CAST(mg AS DOUBLE) / 1e6, 6) AS max_gap_s
      |FROM g ORDER BY event_type""".stripMargin) { (s, d) =>
    val st = StreamOps.incrementalGapStats(s, d,
      s"target/stream_gaps_${math.abs(d.hashCode)}")
    st.select(col("event_type"), col("n").cast(LongType).as("n_events"),
        col("n_gaps").cast(LongType).as("n_gaps"),
        when(col("n_gaps") > 0,
          round(col("sum_gap").cast(DoubleType) / 1e6 / col("n_gaps"), 6))
          .as("mean_gap_s"),
        when(col("n_gaps") > 0,
          round(col("max_gap").cast(DoubleType) / 1e6, 6)).as("max_gap_s"))
      .orderBy("event_type")
  }

  /** Per-type running z-score alarm counts maintained incrementally by
    * `StreamOps.incrementalZAlarm` (17th incremental maintainer): an
    * event alarms when its value deviates >3σ from the running
    * mean/variance of all PRIOR events (30-event warmup), decided by the
    * all-integer cross-multiplied predicate (v·n − s)² > 9·(n·q − s²) —
    * no doubles, so the alarm count is bit-reproducible and this
    * whole-history prefix-window recompute is the oracle. */
  val qStreamZalarm = Q(
    "q_stream_zalarm",
    """WITH q AS (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 1000000) AS BIGINT) AS v6
      |  FROM events),
      |p AS (
      |  SELECT event_type, v6,
      |    row_number() OVER w - 1 AS np,
      |    sum(v6) OVER w - v6 AS sp,
      |    sum(CAST(v6 AS HUGEINT) * v6) OVER w
      |      - CAST(v6 AS HUGEINT) * v6 AS qp
      |  FROM q
      |  WINDOW w AS (PARTITION BY event_type ORDER BY event_id))
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN np >= 30
      |    AND CAST(v6 * np - sp AS HUGEINT) * (v6 * np - sp)
      |      > 9 * (np * qp - CAST(sp AS HUGEINT) * sp)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
      |  ROUND(CAST(sum(CASE WHEN np >= 30
      |    AND CAST(v6 * np - sp AS HUGEINT) * (v6 * np - sp)
      |      > 9 * (np * qp - CAST(sp AS HUGEINT) * sp)
      |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS alarm_rate
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val st = StreamOps.incrementalZAlarm(s, d,
      s"target/stream_zalarm_${math.abs(d.hashCode)}")
    st.select(col("event_type"), col("n").cast(LongType).as("n_events"),
        col("alarms").cast(LongType).as("n_alarms"),
        round(col("alarms").cast(DoubleType) / col("n"), 6)
          .as("alarm_rate"))
      .orderBy("event_type")
  }

  val all: Seq[Q] = Seq(
    qStreamGaps, qStreamZalarm,
    qStreamCusum, qStreamRegression,
    qStreamTumbling, qStreamSliding, qStreamSession, qStreamDedup,
    qStreamLate, qStreamStateful, qStreamStaticJoin, qStreamIncrAgg,
    qStreamIntervalJoin, qStreamChecksum, qStreamTopk, qStreamUpsert,
    qStreamQuantile, qStreamMinmax, qStreamFirstSeen, qStreamBloom,
    qStreamMoments, qStreamPsi, qStreamDays, qStreamKmv,
    qStreamWatermark, qStreamSessions)
}
