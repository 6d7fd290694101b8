package graft

import graft.operators._

/** Physical-plan invariants (the 100 TB posture, regression-checked):
  * filters reach the parquet scan, projections prune the read schema,
  * dimension joins broadcast, top-k never globally sorts, aggregations are
  * partial+final, and range joins never degenerate to cartesian products.
  */
class PlanSpec extends SparkTestBase {

  private def plan(q: Q): String =
    q.run(spark, sf).queryExecution.executedPlan.toString

  test("q_filter_range pushes predicates into the parquet scan") {
    val p = plan(Relational.qFilterRange)
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.matches("(?s).*PushedFilters: \\[\\].*"), p)
  }

  test("q_scan_project prunes the read schema to the projected columns") {
    val p = plan(Relational.qScanProject)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .forall(read.contains), read)
    assert(!read.contains("l_extendedprice"), read)
  }

  test("q_join_broadcast uses broadcast hash joins for the dimensions") {
    val p = plan(Relational.qJoinBroadcast)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_orderby_limit fuses into TakeOrderedAndProject (no global sort)") {
    val p = plan(Aggregates.qOrderbyLimit)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_agg_groupby is a partial+final hash aggregation under codegen") {
    val df = Aggregates.qAggGroupby.run(spark, sf)
    df.collect() // finalize the adaptive plan so codegen spans materialize
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("codegen id"), p)
  }

  test("q_join_range keeps its equi component (no cartesian product)") {
    val p = plan(Relational.qJoinRange)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_topk_per_group shuffles once on the group key") {
    val p = plan(Windows.qTopkPerGroup)
    // broadcast dim join + one exchange for the brand-level agg/window
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("partitioned layout: static and dynamic partition pruning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "target/tmp/q_sink_partitioned"
    Tables.load(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    // static pruning: the filter reaches PartitionFilters
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1997)
    val p1 = pruned.queryExecution.executedPlan.toString
    assert(p1.contains("PartitionFilters: [isnotnull(o_year") ||
      p1.contains("PartitionFilters: [(o_year"), p1)
    // dynamic pruning: join key = partition column, selective filter on a
    // file-source dim (DPP doesn't consider in-memory relations)
    val dimDir = "target/tmp/dpp_dim"
    (1995 to 2001).map((_, "x")).toDF("y", "tag")
      .withColumn("tag", when(col("y") === 1997, "keep").otherwise("drop"))
      .write.mode("overwrite").parquet(dimDir)
    val j = spark.read.parquet(dir)
      .join(broadcast(spark.read.parquet(dimDir)
        .filter(col("tag") === "keep")),
        col("o_year") === col("y"))
    j.collect()
    val p2 = j.queryExecution.executedPlan.toString
    assert(p2.toLowerCase.contains("dynamicpruning"), p2)
  }

  test("bucketed tables co-locate the fact join without a shuffle") {
    import org.apache.spark.sql.functions.col
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // dirs survive — clear both
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(s"target/warehouse/$t"))
    }
    Tables.load(spark, sf, "lineitem").write.mode("overwrite")
      .bucketBy(8, "l_orderkey").saveAsTable("li_bucketed")
    Tables.load(spark, sf, "orders").write.mode("overwrite")
      .bucketBy(8, "o_orderkey").saveAsTable("o_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_bucketed").join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("global-rank offset join broadcasts the constant-size offset table") {
    // the two-pass global rank must never shuffle the big side against the
    // per-partition offsets: the offsets are one row per partition
    val p = plan(Windows.qWindowNtile)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("RangePartitioning") ||
      p.contains("rangepartitioning"), p)
  }

  test("no window-bearing query plan contains an unpartitioned window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val qs = Seq(Windows.qWindowRank, Windows.qWindowRunning,
      Windows.qWindowLeadLag, Windows.qWindowRangeFrame, Windows.qWindowNtile,
      Windows.qWindowFirstLast, Windows.qTopkPerGroup,
      Windows.qSessionizeBatch, LlmQueries.qPackSequences,
      LlmQueries.qTfidfTopTerms, Relational.qLateralTopn,
      Relational.qJoinAsof)
    qs.foreach { q =>
      val bad = q.run(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"${q.name}: global window would single-task at scale:\n${bad.mkString}")
    }
  }

  test("k-means assignment broadcasts the centroid table") {
    val p = plan(LlmQueries.qKmeansAssign)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("as-of join is a single window pass, not a range self-join") {
    val p = plan(Relational.qJoinAsof)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pagerank iterations broadcast the rank vector (no data-sized rejoin)") {
    val p = plan(AnalyticsQueries.qPagerank)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("fuzzy join keeps its equi blocking key (no cartesian explosion)") {
    val p = plan(AnalyticsQueries.qFuzzyJoin)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("interval join keeps its user_id equi component (no pure range join)") {
    val p = plan(operators.StreamingQueries.qStreamIntervalJoin)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("new window queries partition by a key (merge-upsert, rolling median)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val qs = Seq(AnalyticsQueries.qMergeUpsert, AnalyticsQueries.qRollingMedian)
    qs.foreach { q =>
      val bad = q.run(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"${q.name}: global window would single-task at scale:\n${bad.mkString}")
    }
  }

  test("q_join_bloom's probe filter stays inside WholeStageCodegen") {
    val df = PipelineQueries.qJoinBloom.run(spark, sf)
    df.collect() // finalize the adaptive plan so codegen ids materialize
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the membership probe must be the native expression, not a UDF...
    assert(p.contains("graft_might_contain"), p)
    assert(!p.contains("UDF("), p)
    // ...and the Filter hosting it must carry a codegen id (i.e. sit
    // inside a WholeStageCodegen span, which the old UDF broke)
    val filterOp = p.linesIterator
      .find(l => l.contains("Filter") && l.contains("codegen id"))
    assert(filterOp.isDefined,
      s"no codegen'd Filter found in q_join_bloom plan:\n$p")
  }

  test("PlanFacts counts the executed final plan once, not AQE's initial " +
      "plan too") {
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    def executed(q: Q) = {
      val qe = q.run(spark, sf).queryExecution
      qe.executedPlan.execute().count()
      qe
    }
    // one join: AQE's printed plan string shows it twice (final + initial)
    val join = PlanFacts.executed(executed(Relational.qJoinInner))
    assert(join.broadcastJoins == 1, join)
    val agg = executed(Aggregates.qAggGroupby)
    val stages = PlanFacts.nodes(agg.executedPlan)
      .count(_.isInstanceOf[ShuffleQueryStageExec])
    assert(stages >= 1 && PlanFacts.executed(agg).exchanges == stages,
      s"${PlanFacts.executed(agg)} vs $stages shuffle query stages")
  }

  test("PlanDump writes the executed final plan of q_agg_groupby") {
    val txt = PlanDump.finalPlanText(Aggregates.qAggGroupby.run(spark, sf))
    assert(txt.contains("isFinalPlan=true"), txt)
    assert(!txt.contains("isFinalPlan=false"), txt)
  }
}
