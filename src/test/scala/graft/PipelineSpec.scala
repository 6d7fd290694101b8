package graft

import graft.operators.PipelineQueries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Semantics of the round-4 pipeline operators beyond what the DuckDB
  * oracle proves: invariants (cap bounds, interval chaining, merge ==
  * recompute, bloom == plain join) and partitioning-independence. */
class PipelineSpec extends SparkTestBase {

  test("q_map_at_k_ann: same panel, pruned scan keeps most of the exact MAP") {
    val exact = graft.operators.EvalQueries.qMapAtK.run(spark, sf).head()
    val ann = graft.operators.EvalQueries.qMapAtKAnn.run(spark, sf).head()
    // identical panel: the prune touches candidates, never the queries
    assert(ann.getLong(0) == exact.getLong(0),
      s"panel size ${ann.getLong(0)} vs ${exact.getLong(0)}")
    val (em, am) = (exact.getDouble(1), ann.getDouble(1))
    val (ep, ap) = (exact.getDouble(2), ann.getDouble(2))
    // nProbe 3 of 8 lists on the fixture corpus: measured map 0.037 vs
    // 0.054, precision 0.105 vs 0.13 — pin at half the exact metric so
    // a broken prune (empty lists, wrong probe ranking) fails loudly
    // while seed-level drift does not
    assert(am >= 0.5 * em, s"ANN map@10 $am vs exact $em")
    assert(ap >= 0.5 * ep, s"ANN precision@10 $ap vs exact $ep")
  }

  test("TopKPairs keeps the k best in (score DESC, id ASC) order under any split") {
    // direct pin of the merge math gemm/row-form serving rides on:
    // the same total order at every buffer size and reduction order
    val agg = new graft.functions.TopKPairs(3)
    val xs = Seq((1.0, 5L), (2.0, 9L), (2.0, 3L), (0.5, 1L), (3.0, 7L),
      (2.0, 4L))
    val expected = Seq((3.0, 7L), (2.0, 3L), (2.0, 4L))
    val seqBuf = xs.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(seqBuf) == expected)
    (1 until xs.size).foreach { cut =>
      val (l, r) = xs.splitAt(cut)
      val m = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(m) == expected, s"cut at $cut")
      val m2 = agg.merge(r.foldLeft(agg.zero)(agg.reduce),
        l.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(m2) == expected, s"swapped cut at $cut")
    }
  }

  test("row-form ivfTopKAll agrees with the gemm batch-search twin") {
    // the row form (TopKPairs map-side top-k over DataFrame candidates)
    // is the codegen-friendly alternative to the RDD gemm path; same
    // index, same probes, same ranking contract — pin agreement like
    // MfSpec pins the ANN/exact pair (rounding halves differ: SQL round
    // is HALF_UP, the gemm loop rints HALF_EVEN, so pin overlap not
    // bit-equality)
    val embs = Tables.load(spark, sf, "embeddings")
    val index = graft.llm.SimSearch.ivfIndexGemmCached(embs, sf,
      nLists = 8, lloydIters = 2)
    val probes = embs.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_e"))
    val row = graft.llm.SimSearch.ivfTopKAll(index, probes, k = 10,
        nProbe = 3, mips = false,
        scoreOf = (p, e) => round(graft.functions.VectorFunctions.cosine(p, e), 4),
        excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    val gemm = graft.llm.SimSearch.cosineGemmTopKAll(index, probes,
        k = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    val rowTop = row.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val gemmTop = gemm.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(rowTop.keySet == gemmTop.keySet)
    val overlaps = rowTop.keySet.toSeq.map { q =>
      val (a, b) = (rowTop(q), gemmTop(q))
      (a intersect b).size.toDouble / math.max(a.size, b.size)
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.9, s"mean top-10 overlap $mean")
    val top1Row = row.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val top1Gemm = gemm.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val agree = top1Row.keys.count(q => top1Gemm(q) == top1Row(q))
    assert(agree.toDouble / top1Row.size >= 0.95,
      s"top-1 agreement $agree/${top1Row.size}")
  }

  test("q_source_cap keeps at most 10 docs per source and is deterministic") {
    val out = PipelineQueries.qSourceCap.run(spark, sf).cache()
    val perSource = out.groupBy("source").count().collect()
    assert(perSource.nonEmpty)
    assert(perSource.forall(_.getLong(1) <= 10))
    // content-hash rank ⇒ identical selection under a different layout
    val again = PipelineQueries.qSourceCap.run(spark, sf)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    out.unpersist()
  }

  test("q_incr_agg merge of base+delta partials equals direct recompute") {
    val merged = PipelineQueries.qIncrAgg.run(spark, sf)
    val direct = Tables.load(spark, sf, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("n_orders"),
        Dsl.asDbl(sum(Dsl.dec2(col("o_totalprice")))).as("revenue"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
    assert(merged.count() > 0)
  }

  test("q_join_bloom result is identical to the plain (unpruned) join") {
    val pruned = PipelineQueries.qJoinBloom.run(spark, sf)
    val plain = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders")
          .filter(col("o_totalprice") > 400000).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        Dsl.asDbl(sum(Dsl.dec2(col("l_quantity")))).as("qty"))
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    assert(pruned.count() > 0)
  }

  test("q_scd2_dim intervals chain per user with exactly one open interval") {
    val scd = PipelineQueries.qScd2Dim.run(spark, sf).cache()
    assert(scd.count() > 0)
    // exactly one current (NULL valid_to) row per user
    val open = scd.groupBy("user_id")
      .agg(sum(col("is_current")).as("n_open")).collect()
    assert(open.forall(_.getLong(1) == 1))
    // each interval's valid_to equals the next interval's valid_from
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("valid_from")
    val chained = scd
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull)
    assert(chained.filter(col("valid_to") =!= col("next_from")).count() == 0)
    // consecutive intervals always change state (changelog was collapsed)
    val states = scd.withColumn("next_state", lead(col("state"), 1).over(w))
      .filter(col("next_state").isNotNull)
    assert(states.filter(col("state") === col("next_state")).count() == 0)
    scd.unpersist()
  }

  test("q_scd2_lookup assigns every purchase exactly one active state") {
    val out = PipelineQueries.qScd2Lookup.run(spark, sf).cache()
    val purchases = Tables.load(spark, sf, "events")
      .filter(col("user_id") % 100 === 0 && col("event_type") === "purchase")
    // exactly one interval per purchase (intervals partition the timeline)
    assert(out.count() == purchases.count())
    assert(out.groupBy("event_id").count().filter(col("count") > 1)
      .count() == 0)
    // a purchase that IS a state-change row looks itself up
    assert(out.filter(col("state") === "purchase").count() > 0)
    out.unpersist()
  }

  test("q_anomaly_mad flags exactly the rows beyond 3*MAD") {
    val out = PipelineQueries.qAnomalyMad.run(spark, sf).cache()
    assert(out.count() > 0)
    val ev = Tables.load(spark, sf, "events").select("event_type", "value")
    val med = ev.groupBy("event_type").agg(median(col("value")).as("med"))
    val dev = ev.join(med, "event_type")
      .withColumn("ad", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type").agg(median(col("ad")).as("mad"))
    val expected = dev.join(mad, "event_type")
      .filter(col("ad") > lit(3) * col("mad"))
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("n_outliers")) ==
        expected.getOrElse(r.getString(0), 0L))
    }
    out.unpersist()
  }

  test("q_hist_reagg merged bins equal a direct global histogram") {
    val merged = PipelineQueries.qHistReagg.run(spark, sf)
    val direct = Tables.load(spark, sf, "events")
      .groupBy(floor(col("value") / 25).cast("int").as("bin"))
      .agg(count(lit(1)).as("n_events"))
    val joined = merged.join(direct.withColumnRenamed("n_events", "direct_n"), "bin")
    assert(joined.filter(col("n_events") =!= col("direct_n")).count() == 0)
    assert(merged.count() == direct.count())
  }

  test("q_profile_stats counts match per-column ground truth") {
    val out = PipelineQueries.qProfileStats.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val orders = Tables.load(spark, sf, "orders").cache()
    val n = orders.count()
    val distinctKeys = orders.select("o_orderkey").distinct().count()
    assert(out("o_orderkey") == ((n, 0L, distinctKeys)))
    val distinctStatus = orders.select("o_orderstatus").distinct().count()
    assert(out("o_orderstatus")._3 == distinctStatus)
    orders.unpersist()
  }

  test("q_dup_spans counts are real: recounting a reported span matches") {
    val spans = PipelineQueries.qDupSpans.run(spark, sf).limit(5).collect()
    assert(spans.nonEmpty)
    spans.foreach { r =>
      val span = r.getString(0)
      assert(span.split(" ").length == 8)
      val n = Tables.load(spark, sf, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("sp"))
        .filter(size(col("sp")) >= 8)
        .select(col("doc_id"),
          explode(sequence(lit(1), size(col("sp")) - 7)).as("k"), col("sp"))
        .filter(array_join(slice(col("sp"), col("k"), lit(8)), " ") === span)
        .count()
      assert(n == r.getLong(1), s"span '$span'")
    }
  }

  test("q_join_nearest gap equals the brute-force nearest error event") {
    val out = PipelineQueries.qJoinNearest.run(spark, sf).cache()
    assert(out.count() > 0)
    val ev = Tables.load(spark, sf, "events")
      .filter(col("user_id") % 50 === 0)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("eus"),
        col("event_id").as("eid"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("eus"), col("eid"))
    // brute force: min |us - err_us| per purchase over all the user's
    // errors EXCLUDING the row-frame subtlety (no error shares a row with
    // a purchase in the fixture, so the frames see every error)
    val brute = out.join(errs, Seq("user_id"), "left")
      .groupBy("user_id", "event_id", "us", "nearest_gap_us")
      .agg(min(abs(col("us") - col("eus"))).as("brute_gap"))
    assert(brute.filter(
      (col("nearest_gap_us").isNull && col("brute_gap").isNotNull) ||
      (col("nearest_gap_us").isNotNull &&
        col("nearest_gap_us") =!= col("brute_gap"))).count() == 0)
    out.unpersist()
  }

  test("q_k_anonymity partitions the table and flags small groups") {
    val out = PipelineQueries.qKAnonymity.run(spark, sf).cache()
    val total = out.agg(sum(col("k"))).head.getLong(0)
    assert(total == Tables.load(spark, sf, "customer").count())
    assert(out.filter(col("k") < 5 && col("suppressed") === 0).count() == 0)
    assert(out.filter(col("k") >= 5 && col("suppressed") === 1).count() == 0)
    out.unpersist()
  }

  test("q_referential_check finds zero orphans on the consistent fixture") {
    val rows = PipelineQueries.qReferentialCheck.run(spark, sf).collect()
    assert(rows.length == 2)
    rows.foreach(r => assert(r.getLong(2) == 0L, r.getString(0)))
    assert(rows.map(_.getLong(1)).min > 0)
  }

  test("q_vocab_coverage rates are consistent and bounded") {
    val out = PipelineQueries.qVocabCoverage.run(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, oov, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(oov >= 0 && oov <= n)
      assert(math.abs(rate - oov.toDouble / n) < 1e-6)
    }
  }

  test("SimSearch.l2TopK returns the true k nearest by squared L2") {
    val embs = Tables.load(spark, sf, "embeddings")
    val out = graft.llm.SimSearch.l2TopK(embs, probeId = 7L, k = 10).collect()
    assert(out.length == 10)
    // brute-force ground truth (the inline HOF fold, not the kernel under
    // test) with the same rounding + tiebreak
    val probe = embs.filter(col("vec_id") === 7L)
      .select(col("embedding").as("probe_e"))
    val brute = embs.filter(col("vec_id") =!= 7L)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(aggregate(
          zip_with(col("embedding"), col("probe_e"), (x, y) =>
            (x.cast(DoubleType) - y.cast(DoubleType)) *
              (x.cast(DoubleType) - y.cast(DoubleType))),
          lit(0.0), (acc, v) => acc + v), 4).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10).collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      brute.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // distances are non-decreasing
    assert(out.map(_.getDouble(1)).sliding(2).forall(s =>
      s.length < 2 || s(0) <= s(1)))
  }

  test("q_url_extract domains partition the corpus by source") {
    val docs = Tables.load(spark, sf, "documents")
    val rows = PipelineQueries.qUrlExtract.run(spark, sf).collect()
    val sources = docs.select("source").distinct().count()
    assert(rows.length == sources)
    // every parsed domain is '<source>.example.com' and doc counts add up
    rows.foreach(r => assert(r.getString(0).endsWith(".example.com")))
    assert(rows.map(_.getLong(1)).sum == docs.count())
  }
}
