package graft

import org.apache.spark.sql.functions._

/** Focused pins for the r14 shared-computation optimizations: the
  * PairStore's two pair-count semantics must reproduce the direct
  * derivations every consumer's oracle encodes, the TradeGraph local
  * relation must equal the direct 4-table aggregation, and the ALS
  * content-digest train memo must hand back a model whose factors are
  * bit-identical to a fresh seeded train (the property that makes a
  * memo hit indistinguishable from retraining). */
class SharedStoreSpec extends SparkTestBase {

  private def diffCount(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  test("PairStore.pairStats n_dist equals the distinct-(ok,pk) idiom") {
    val li = Dsl.t(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val direct = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
      .agg(count(lit(1)).as("n_dist"))
    val store = operators.PairStore.pairStats(spark, sf)
      .select("src", "dst", "n_dist")
    assert(diffCount(direct, store) === 0)
  }

  test("PairStore.pairStats n_raw equals the raw self-join idiom") {
    val li = Dsl.t(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val direct = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
      .agg(count(lit(1)).as("n_raw"))
    val store = operators.PairStore.pairStats(spark, sf)
      .select("src", "dst", "n_raw")
    assert(diffCount(direct, store) === 0)
  }

  test("PairStore.coPairsSym equals the raw pa≠pb co-occurrence matrix") {
    val li = Dsl.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey")
    val direct = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey").as("ok2"),
          col("l_partkey").as("pb")),
        col("l_orderkey") === col("ok2") && col("pa") =!= col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
    val store = operators.PairStore.coPairsSym(spark, sf)
    assert(diffCount(direct, store) === 0)
  }

  test("TradeGraph.edges equals the direct 4-table aggregation") {
    val direct = Dsl.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_suppkey")
      .join(Dsl.t(spark, sf, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Dsl.t(spark, sf, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Dsl.t(spark, sf, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val store = operators.TradeGraph.edges(spark, sf)
    assert(diffCount(direct, store) === 0)
  }

  test("simhash candidate store filtered at thr equals the direct detector") {
    // r15.2: the store is materialized AT the detector threshold from the
    // shared signature memo; it must be row-identical to the private
    // Dedup.simhashNearDups call each pair-consumer used to make.
    val direct = llm.Dedup.simhashNearDups(
      operators.LlmQueries.simhashAugDocs(spark, sf))
    val store = operators.LlmQueries.simhashCands(spark, sf)
    assert(diffCount(direct, store) === 0)
    assert(store.count() > 0)
  }

  test("sweep's gridMax candidates from the shared sigs equal the direct run") {
    // r15.2: the sweep aggregates the <= gridMax banded stream built from
    // the shared signature memo; same rows as a private full-pipeline run
    // at the same cutoff (the histogram is an aggregation of this frame).
    val nAug = operators.LlmQueries.simhashAugDocs(spark, sf).count()
    val (lanes, bits, thr, blocks) = llm.Dedup.simhashParamsFor(nAug)
    val gridMax = math.max(8, thr + 2)
    val direct = llm.Dedup.simhashNearDups(
      operators.LlmQueries.simhashAugDocs(spark, sf),
      maxHamming = gridMax, nDocs = nAug)
    val shared = llm.Dedup.simhashNearDupsFromSigs(
      operators.LlmQueries.simhashSigs(spark, sf), bits, gridMax,
      blocks, blocks - thr / lanes, lanes)
    assert(diffCount(direct, shared) === 0)
  }

  for (k <- Seq(5, 20)) {
    test(s"ShingleStore k=$k rows equal the direct explode, count and df window") {
      val docs = Tables.load(spark, sf, "documents")
      val direct = docs
        .select(col("doc_id"), col("text"), explode(sequence(lit(1),
          least(greatest(length(col("text")) - (k - 1), lit(1)),
            lit(2000)))).as("p"))
        .select(col("doc_id"), expr(s"substr(text, p, $k)").as("shingle"))
        .groupBy("doc_id", "shingle").agg(count(lit(1)).as("c"))
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
      val store = llm.ShingleStore.counted(spark, sf, k, 2000)
        .select("doc_id", "shingle", "c", "df")
      assert(store.count() > 0)
      assert(diffCount(direct, store) === 0)
    }
  }

  test("ShingleStore buckets: one per 15 M rows, at least the shuffle partitions, at most 64") {
    import llm.ShingleStore.bucketsFor
    assert(bucketsFor(0L, 4) == 4)
    assert(bucketsFor(3000000L, 4) == 4)
    assert(bucketsFor(15000000L * 4 + 1, 4) == 5)
    assert(bucketsFor(15000000L * 20, 4) == 20)
    assert(bucketsFor(1000000000L, 4) == 64)
    assert(bucketsFor(1000L, 128) == 64)
    assert(bucketsFor(1000L, 32) == 32)
  }

  test("ALS train memo hit is bit-identical to a fresh seeded train") {
    val ratings = ml.Ratings.view(spark, sf)
    val cfg = ml.AlsEngine.Config(rank = 4, maxIter = 2)
    ml.AlsEngine.clearCache()
    val m1 = ml.AlsEngine.train(ratings, cfg)
    val fac1 = m1.userFactors.orderBy("id").collect().toSeq
    // second call with the identical frame: memo hit (same digest)
    val m2 = ml.AlsEngine.train(ratings, cfg)
    assert(m2.userFactors.orderBy("id").collect().toSeq === fac1)
    // cold retrain after clearing: the seeded trainer reproduces the
    // same factors, which is exactly why a digest hit is safe
    ml.AlsEngine.clearCache()
    val m3 = ml.AlsEngine.train(ratings, cfg)
    assert(m3.userFactors.orderBy("id").collect().toSeq === fac1)
  }
}
