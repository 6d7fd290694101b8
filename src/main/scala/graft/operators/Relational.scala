package graft.operators

import graft.Q
import graft.Dsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** §2.A scans/sinks, §2.B filters/predicates, §2.C joins.
  *
  * Design notes for scale: every query is a declarative DataFrame plan so
  * Catalyst pushes filters + column pruning into the parquet scan; small
  * dimension tables (region/nation/part/supplier ≤ ~200 rows × SF) are
  * explicitly broadcast so the fact-side join never shuffles lineitem.
  */
object Relational {

  val qScanProject = Q(
    "q_scan_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate
      |LIMIT 100""".stripMargin) {
    (s, d) =>
      // (l_orderkey, l_linenumber) is NOT unique in the fixtures — order by
      // every projected column so ties are bit-identical rows.
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .limit(100)
  }

  val qScanCount = Q(
    "q_scan_count",
    "SELECT count(*) AS cnt FROM lineitem") { (s, d) =>
    t(s, d, "lineitem").agg(count(lit(1)).as("cnt"))
  }

  /** Sink round-trip: write a table to parquet, read it back. Exercises the
    * write path itself (the other sink surface is Verify's per-query dump). */
  val qSinkParquet = Q(
    "q_sink_parquet",
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") { (s, d) =>
    val dir = "target/tmp/q_sink_parquet"
    t(s, d, "region").write.mode("overwrite").parquet(dir)
    s.read.parquet(dir).select("r_regionkey", "r_name").orderBy("r_regionkey")
  }

  val qFilterRange = Q(
    "q_filter_range",
    """SELECT count(*) AS cnt,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.02 AND 0.06
      |  AND l_quantity < 24""".stripMargin) { (s, d) =>
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-01-01 00:00:00") &&
        col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
      .agg(
        count(lit(1)).as("cnt"),
        asDbl(sum(dec2(col("l_extendedprice")) * dec2(col("l_discount"))))
          .as("revenue"))
  }

  val qFilterInLike = Q(
    "q_filter_in_like",
    """SELECT p_partkey, p_name, p_brand, p_type FROM part
      |WHERE p_brand IN ('Brand#1','Brand#2') OR p_type LIKE 'PROMO%'
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    t(s, d, "part")
      .filter(col("p_brand").isin("Brand#1", "Brand#2") ||
        col("p_type").like("PROMO%"))
      .select("p_partkey", "p_name", "p_brand", "p_type")
      .orderBy("p_partkey")
  }

  val qFilterNullCase = Q(
    "q_filter_null_case",
    """SELECT o_orderkey,
      |  CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open'
      |       ELSE 'other' END AS status_word,
      |  COALESCE(NULLIF(o_orderstatus, 'P'), 'pending') AS status_np
      |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin) { (s, d) =>
    t(s, d, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "F", "finished")
          .when(col("o_orderstatus") === "O", "open")
          .otherwise("other").as("status_word"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("pending"))
          .as("status_np"))
      .orderBy("o_orderkey")
      .limit(200)
  }

  val qJoinInner = Q(
    "q_join_inner",
    """SELECT o_orderkey, o_totalprice, c_name
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey LIMIT 500""".stripMargin) { (s, d) =>
    t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_totalprice", "c_name")
      .orderBy("o_orderkey")
      .limit(500)
  }

  /** Fact ⋈ two small dims: at scale this must be a broadcast hash join on
    * the lineitem side (no shuffle of the fact table) — hints are explicit. */
  val qJoinBroadcast = Q(
    "q_join_broadcast",
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |    AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
    t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_brand")
      .agg(
        asDbl(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_brand")
  }

  val qJoinLeft = Q(
    "q_join_left",
    """SELECT c_custkey, count(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, d) =>
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  val qJoinFull = Q(
    "q_join_full",
    """SELECT n_nationkey, n_name, c_nationkey, n_cust
      |FROM nation FULL JOIN
      |  (SELECT c_nationkey, count(*) AS n_cust FROM customer
      |   GROUP BY c_nationkey) cust
      |ON n_nationkey = c_nationkey
      |ORDER BY n_nationkey NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin) {
    (s, d) =>
      val cust = t(s, d, "customer")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
      t(s, d, "nation")
        .join(cust, col("n_nationkey") === col("c_nationkey"), "full_outer")
        .select("n_nationkey", "n_name", "c_nationkey", "n_cust")
        .orderBy(col("n_nationkey").asc_nulls_first,
          col("c_nationkey").asc_nulls_first)
  }

  val qJoinSemi = Q(
    "q_join_semi",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    t(s, d, "customer")
      .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val qJoinAnti = Q(
    "q_join_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    t(s, d, "customer")
      .join(t(s, d, "orders").filter(col("o_orderstatus") === "P"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing — the semantics CDC merge keys
    * and optional foreign keys need. Nulls are planted deterministically
    * (every 10th customer); the probe side is a two-row inline table
    * (one real key, one NULL), so the plan is a broadcast join. Note the
    * explicit NULLS FIRST — DuckDB defaults ASC to NULLS LAST, Spark to
    * NULLS FIRST. */
  val qJoinNullsafe = Q(
    "q_join_nullsafe",
    """WITH c AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_nationkey END AS nk
      |  FROM customer),
      |k AS (SELECT CAST(v AS BIGINT) AS nk FROM (VALUES (5), (NULL)) t(v))
      |SELECT k.nk, count(*) AS n
      |FROM c JOIN k ON c.nk IS NOT DISTINCT FROM k.nk
      |GROUP BY k.nk ORDER BY k.nk NULLS FIRST""".stripMargin) { (s, d) =>
    import s.implicits._
    val c = t(s, d, "customer")
      .select(when(col("c_custkey") % 10 === 0, lit(null))
        .otherwise(col("c_nationkey")).as("cnk"))
    val k = Seq[Option[Long]](Some(5L), None).toDF("nk")
    c.join(broadcast(k), col("cnk") <=> col("nk"))
      .groupBy("nk")
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("nk"))
  }

  /** Non-equi (theta) join — bounded 200×10, so a broadcast nested-loop
    * join is the correct physical plan and stays correct at any lineitem SF
    * (both sides are dimension tables). */
  val qJoinTheta = Q(
    "q_join_theta",
    """SELECT p_partkey, s_suppkey FROM part, supplier
      |WHERE p_retailprice > s_acctbal / 5
      |ORDER BY p_partkey, s_suppkey""".stripMargin) { (s, d) =>
    t(s, d, "part")
      .join(broadcast(t(s, d, "supplier")),
        col("p_retailprice") > col("s_acctbal") / lit(5))
      .select("p_partkey", "s_suppkey")
      .orderBy("p_partkey", "s_suppkey")
  }

  /** Range join: equi on user + time-range predicate. At scale Spark turns
    * this into a shuffled equi-join on user_id with the range condition as a
    * post-join filter — the equi key bounds the blow-up. */
  val qJoinRange = Q(
    "q_join_range",
    """SELECT e1.user_id AS user_id, count(*) AS n_pairs
      |FROM events e1 JOIN events e2
      |  ON e1.user_id = e2.user_id
      | AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
      |WHERE e1.event_type = 'view' AND e2.event_type = 'click'
      |GROUP BY e1.user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val ev = t(s, d, "events")
    val e1 = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("ts1"))
    val e2 = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("uid2"), col("ts").as("ts2"))
    e1.join(e2,
        col("user_id") === col("uid2") && col("ts2") > col("ts1") &&
          col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTES"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** As-of join (no native Spark primitive): union both sides with a tag,
    * single pass per user ordered by time, `last(view_ts) ignoreNulls` over
    * the preceding frame. One shuffle on user_id — same cost shape as a
    * window, vs. the quadratic range join it replaces. Purchase rows sort
    * BEFORE view rows at equal ts so the match is strictly preceding. */
  val qJoinAsof = Q(
    "q_join_asof",
    """SELECT user_id, purchase_ts, view_ts FROM (
      |  SELECT p.user_id AS user_id, p.ts AS purchase_ts,
      |         (SELECT max(v.ts) FROM events v
      |          WHERE v.user_id = p.user_id AND v.event_type = 'view'
      |            AND v.ts < p.ts) AS view_ts
      |  FROM events p WHERE p.event_type = 'purchase') q
      |WHERE view_ts IS NOT NULL
      |ORDER BY user_id, purchase_ts""".stripMargin) { (s, d) =>
    val ev = t(s, d, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "view", col("ts")).as("vts"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("tag_rank"))
    val w = Window.partitionBy("user_id").orderBy("ts", "tag_rank")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("view_ts", last(col("vts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("view_ts").isNotNull)
      .select(col("user_id"), col("ts").as("purchase_ts"), col("view_ts"))
      .orderBy("user_id", "purchase_ts")
  }

  /** LATERAL correlated subquery in FROM — per-customer top-2 orders
    * (decorrelated by Catalyst into a ranked join). */
  val qLateralTopn = Q.sql(
    "q_lateral_topn",
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer,
      |  LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |           WHERE o_custkey = c_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)

  /** Unpivot (wide→long): melt per-status counts back into rows. */
  val qUnpivot = Q(
    "q_unpivot",
    """SELECT c_mktsegment, status, cnt FROM (
      |  SELECT c_mktsegment,
      |    count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
      |    count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
      |    count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment) w,
      |  (VALUES ('f_cnt'), ('o_cnt'), ('p_cnt')) v(status),
      |  LATERAL (SELECT CASE status WHEN 'f_cnt' THEN f_cnt
      |                  WHEN 'o_cnt' THEN o_cnt ELSE p_cnt END AS cnt) c
      |ORDER BY c_mktsegment, status""".stripMargin) { (s, d) =>
    val wide = t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count().na.fill(0L)
      .toDF("c_mktsegment", "f_cnt", "o_cnt", "p_cnt")
    wide.unpivot(Array(col("c_mktsegment")),
        Array(col("f_cnt"), col("o_cnt"), col("p_cnt")), "status", "cnt")
      .orderBy("c_mktsegment", "status")
  }

  val qCrossJoin = Q(
    "q_cross_join",
    """SELECT r_regionkey, r_name, n_nationkey, n_name
      |FROM region CROSS JOIN nation
      |ORDER BY r_regionkey, n_nationkey""".stripMargin) { (s, d) =>
    t(s, d, "region")
      .crossJoin(t(s, d, "nation"))
      .select("r_regionkey", "r_name", "n_nationkey", "n_name")
      .orderBy("r_regionkey", "n_nationkey")
  }

  /** CSV source/sink round-trip (the reference's native format): schema'd
    * read-back must reproduce the table exactly. */
  val qSourceCsv = Q(
    "q_source_csv",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") {
    (s, d) =>
      val dir = "target/tmp/q_source_csv"
      t(s, d, "nation").write.mode("overwrite")
        .option("header", "true").csv(dir)
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(dir)
        .orderBy("n_nationkey")
  }

  /** ORC sink/source round-trip — the second columnar format large
    * warehouses standardize on; Spark's reader carries the same
    * pushdown/pruning machinery as parquet. */
  val qSinkOrc = Q(
    "q_sink_orc",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") {
    (s, d) =>
      val dir = "target/tmp/q_sink_orc"
      t(s, d, "nation").write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
  }

  /** Raw text-lines sink/source round-trip — how unstructured corpora
    * enter an LLM pipeline (one document per line here; the fixtures
    * contain no embedded newlines). Line ORDER is not preserved by a
    * distributed text write, so the query aggregates order-insensitively;
    * the oracle computes the same aggregates from the original table. */
  val qSourceText = Q(
    "q_source_text",
    """SELECT substr(text, 1, 1) AS c0, count(*) AS n_lines,
      |  CAST(SUM(length(text)) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1 ORDER BY c0""".stripMargin) { (s, d) =>
    val dir = "target/tmp/q_source_text"
    t(s, d, "documents").select("text").write.mode("overwrite").text(dir)
    s.read.text(dir)
      .groupBy(substring(col("value"), 1, 1).as("c0"))
      .agg(count(lit(1)).as("n_lines"),
        sum(length(col("value"))).as("n_chars"))
      .orderBy("c0")
  }

  /** Schema-evolution read: two parquet writes with different schemas in
    * one directory, read back with mergeSchema — how a 100 TB table keeps
    * working while columns are added over time. The oracle rebuilds the
    * same union-with-nulls from the source table (the driver's DuckDB
    * session sees fixture tables, not our temp dirs). */
  val qSchemaMerge = Q(
    "q_schema_merge",
    """SELECT r_regionkey, r_name, r_name_up FROM (
      |  SELECT r_regionkey, r_name, CAST(NULL AS VARCHAR) AS r_name_up
      |  FROM region
      |  UNION ALL
      |  SELECT r_regionkey, CAST(NULL AS VARCHAR) AS r_name,
      |    upper(r_name) AS r_name_up
      |  FROM region) u
      |ORDER BY r_regionkey, r_name NULLS FIRST""".stripMargin) { (s, d) =>
    // Per-run tmp dir: reusing one path across sf runs left stale committer
    // metadata to reconcile, and two 5-row writes fanned out over the full
    // shuffle-partition count — 28 s at sf0.1 in round 6. coalesce(1)
    // writes one file per schema variant; a fresh dir has nothing to clear.
    val dir = s"target/tmp/q_schema_merge_${java.util.UUID.randomUUID}"
    val region = t(s, d, "region")
    region.select("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    region.select(col("r_regionkey"), upper(col("r_name")).as("r_name_up"))
      .coalesce(1).write.mode("append").parquet(dir)
    s.read.option("mergeSchema", "true").parquet(dir)
      .select("r_regionkey", "r_name", "r_name_up")
      .orderBy(col("r_regionkey"), col("r_name").asc_nulls_first)
  }

  /** Salted skew join under the oracle gate: the salted replication join
    * (plans.SkewJoin — hot keys spread over 8 salt buckets) must produce
    * EXACTLY the rows of the plain equi-join, so the oracle is simply the
    * unsalted SQL. This is the static fallback for power-law keys that
    * AQE's runtime skew split can't always catch. */
  val qSkewJoin = Q(
    "q_skew_join",
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
    (s, d) =>
    graft.plans.SkewJoin.saltedEquiJoin(
        t(s, d, "lineitem"), t(s, d, "orders"),
        "l_orderkey", "o_orderkey", saltFactor = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        asDbl(sum(dec2(col("l_quantity")))).as("qty"))
      .orderBy("o_orderpriority")
  }

  // DuckDB-side mirror of Layout.spread: same masks/shifts, so the
  // expression shape (and thus the integer result) is identical.
  private def spreadSql(e: String): String = {
    val masks = Seq(
      0x0000FFFF0000FFFFL, 0x00FF00FF00FF00FFL, 0x0F0F0F0F0F0F0F0FL,
      0x3333333333333333L, 0x5555555555555555L)
    val shifts = Seq(16, 8, 4, 2, 1)
    masks.zip(shifts).foldLeft(s"($e & 2147483647)") {
      case (prev, (mask, s)) => s"(($prev | ($prev << $s)) & $mask)"
    }
  }

  /** 2-D Z-order key (plans.Layout.mortonKey): exact integer bit
    * interleaving, so it oracle-checks bit-for-bit. The key is what
    * `Layout.writeZOrdered` clusters files by — multi-dimensional data
    * skipping for 100 TB scans with 2-D range predicates. */
  val qZorderKey = Q(
    "q_zorder_key",
    s"""SELECT c_custkey, c_nationkey,
       |  (${spreadSql("c_custkey")} |
       |   (${spreadSql("c_nationkey")} << 1)) AS zkey
       |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
    t(s, d, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        graft.plans.Layout.mortonKey(col("c_custkey"), col("c_nationkey"))
          .as("zkey"))
      .orderBy("c_custkey")
  }

  /** binaryFile source — how opaque media payloads (images/audio/video)
    * enter the engine at scale: whole files as binary rows with path
    * metadata, payload untouched until an explicit decode stage. Fixture
    * bytes are fixed literals, so md5/length oracle via VALUES. */
  val qSourceBinary = Q(
    "q_source_binary",
    """SELECT fname, flen, digest FROM (VALUES
      |  ('a.bin', 5, md5('alpha')),
      |  ('b.bin', 4, md5('beta')),
      |  ('c.bin', 5, md5('gamma'))) v(fname, flen, digest)
      |ORDER BY fname""".stripMargin) { (s, _) =>
    val dir = "target/tmp/q_source_binary"
    new java.io.File(dir).mkdirs()
    Seq("a.bin" -> "alpha", "b.bin" -> "beta", "c.bin" -> "gamma").foreach {
      case (n, c) => java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/$n"), c.getBytes("UTF-8"))
    }
    s.read.format("binaryFile").load(dir)
      .select(element_at(split(col("path"), "/"), -1).as("fname"),
        col("length").cast(IntegerType).as("flen"),
        md5(col("content")).as("digest"))
      .orderBy("fname")
  }

  /** JSON-lines source/sink round-trip. */
  val qSourceJson = Q(
    "q_source_json",
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") { (s, d) =>
    val dir = "target/tmp/q_source_json"
    t(s, d, "region").write.mode("overwrite").json(dir)
    s.read.schema("r_regionkey INT, r_name STRING").json(dir)
      .select("r_regionkey", "r_name")
      .orderBy("r_regionkey")
  }

  /** Partitioned-layout sink + pruned scan: the 100 TB table layout in
    * miniature — writes orders hive-partitioned by year, reads back with a
    * partition filter (only the matching directory is scanned; PlanSpec
    * asserts PartitionFilters + dynamic partition pruning on this layout). */
  val qSinkPartitioned = Q(
    "q_sink_partitioned",
    """SELECT count(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM orders WHERE year(o_orderdate) = 1997""".stripMargin) { (s, d) =>
    val dir = "target/tmp/q_sink_partitioned"
    t(s, d, "orders").withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    s.read.parquet(dir)
      .filter(col("o_year") === 1997)
      .agg(count(lit(1)).as("cnt"),
        asDbl(sum(dec2(col("o_totalprice")))).as("revenue"))
  }

  /** FORWARD as-of join with tolerance: each purchase matched to the
    * FIRST subsequent click by the same user within 1 hour — the
    * "did the conversion lead anywhere" direction q_join_asof (backward)
    * cannot express, plus the tolerance bound every production as-of
    * carries. Same single-window-pass plan as q_join_asof (union +
    * user-keyed ordered window, first-following ignoreNulls), no range
    * self-join. */
  val qJoinAsofFwd = Q(
    "q_join_asof_fwd",
    """SELECT user_id, purchase_ts, click_ts FROM (
      |  SELECT p.user_id AS user_id, p.ts AS purchase_ts,
      |         (SELECT min(v.ts) FROM events v
      |          WHERE v.user_id = p.user_id AND v.event_type = 'click'
      |            AND v.ts > p.ts) AS click_ts
      |  FROM events p WHERE p.event_type = 'purchase') q
      |WHERE click_ts IS NOT NULL
      |  AND click_ts <= purchase_ts + INTERVAL 1 HOUR
      |ORDER BY user_id, purchase_ts, click_ts""".stripMargin) { (s, d) =>
    val ev = t(s, d, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "click", col("ts")).as("cts"),
        // purchases sort AFTER a click at the same ts (strict "after")
        when(col("event_type") === "purchase", 1).otherwise(0)
          .as("tag_rank"))
    val w = Window.partitionBy("user_id").orderBy("ts", "tag_rank")
      .rowsBetween(1, Window.unboundedFollowing)
    ev.withColumn("click_ts",
        first(col("cts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase"
        && col("click_ts").isNotNull
        && col("click_ts") <= col("ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("ts").as("purchase_ts"), col("click_ts"))
      .orderBy("user_id", "purchase_ts", "click_ts")
  }

  val all: Seq[Q] = Seq(
    qJoinAsofFwd,
    qScanProject, qScanCount, qSinkParquet, qSourceCsv, qSourceJson,
    qSinkOrc, qSourceBinary, qSourceText, qSinkPartitioned, qZorderKey,
    qSchemaMerge, qSkewJoin,
    qFilterRange, qFilterInLike, qFilterNullCase,
    qJoinInner, qJoinBroadcast, qJoinLeft, qJoinFull, qJoinSemi, qJoinAnti,
    qJoinNullsafe,
    qJoinTheta, qJoinRange, qJoinAsof, qCrossJoin, qLateralTopn, qUnpivot)
}
