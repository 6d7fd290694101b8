package graft

import graft.llm.Clustering
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ground-truth checks for the Lloyd k-means primitives: assignment must
  * equal the brute-force argmin, the update must be the per-cluster mean,
  * and iterating must not increase the objective. */
class ClusteringSpec extends SparkTestBase {

  private def points = Tables.load(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  // (name, assignment as (vec_id, cluster)): the crossJoin form, the
  // broadcast-matrix form and the grouped form with one constant group
  private val assigners: Seq[(String, DataFrame => DataFrame)] = Seq(
    "assign" -> (cents => Clustering.assign(points, "v", cents)),
    "assignGemm" -> (cents =>
      Clustering.assignGemm(points, "vec_id", "v", cents)),
    "assignGroupedGemm" -> (cents => Clustering.assignGroupedGemm(
      points.select(col("vec_id"), lit(0).as("g"), col("v")), "vec_id", "g",
      "v", cents.select(lit(0).as("g"), col("cid"), col("cvec")))))

  for ((name, assignFn) <- assigners)
    test(s"$name matches brute-force argmin (distance, then centroid id)") {
      val cents = Clustering.seedCentroids(points, "vec_id", "v", 8)
      val got = assignFn(cents).select("vec_id", "cluster")
      val w = Window.partitionBy("vec_id")
        .orderBy(col("d2"), col("cid"))
      val want = points.crossJoin(broadcast(cents))
        .withColumn("d2", Clustering.sqDist(col("v"), col("cvec")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("cid").as("cluster"))
      assert(got.count() == points.count())
      assert(got.except(want).isEmpty && want.except(got).isEmpty)
    }

  test("updateCentroids is the per-cluster elementwise mean") {
    val cents = Clustering.seedCentroids(points, "vec_id", "v", 4)
    val updated = Clustering.updateCentroids(points, "vec_id", "v", cents)
    val assigned = Clustering.assign(points, "v", cents)
      .join(points, "vec_id")
    val byHand = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("p2", "x")))
      .groupBy("cluster", "p2").agg(avg("x").as("m"))
    val flat = updated.select(col("cid"),
      posexplode(col("cvec")).as(Seq("pos", "got")))
      .join(byHand, col("cid") === col("cluster") && col("pos") === col("p2"))
    val n = flat.count()
    val bad = flat.filter(abs(col("got") - col("m")) > 1e-12).count()
    assert(n > 0 && bad == 0)
    assert(updated.count() == 4)
  }

  test("lloyd objective is non-increasing over iterations") {
    var cents = Clustering.seedCentroids(points, "vec_id", "v", 8)
    var prev = Clustering.wcss(points, "vec_id", "v", cents)
    for (_ <- 1 to 3) {
      cents = Clustering.updateCentroids(points, "vec_id", "v", cents)
      val cur = Clustering.wcss(points, "vec_id", "v", cents)
      assert(cur <= prev + 1e-6, s"objective rose: $prev -> $cur")
      prev = cur
    }
  }
}
