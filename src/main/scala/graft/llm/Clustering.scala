package graft.llm

import graft.functions.VectorFunctions.dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-space clustering primitives for corpus curation (semantic
  * dedup buckets, topic balancing, diversity sampling).
  *
  * Scale shape: the centroid table is k × dim (tiny, broadcast); the
  * assignment is a map-side broadcast cross join + one shuffle on the
  * point id — never an all-pairs join, never a global window. The Lloyd
  * update redistributes by (cluster, dimension position), so its shuffle
  * cardinality is bounded by k × dim regardless of corpus size.
  */
object Clustering {

  /** Rounded squared L2 distance via three dots (‖a‖² − 2a·b + ‖b‖²).
    * Rounding to 6 dp BEFORE the argmin comparison makes the assignment
    * reproducible across engines whose float-sum order may differ in the
    * last ulp; ties then break on the lowest centroid id. */
  def sqDist(a: Column, b: Column): Column =
    round(dot(a, a) - lit(2) * dot(a, b) + dot(b, b), 6)

  /** DuckDB twin of [[sqDist]] over the SQL list expressions `a`, `b`. */
  def sqDistSql(a: String, b: String): String =
    s"ROUND(list_inner_product($a, $a) - 2 * list_inner_product($a, $b)" +
      s" + list_inner_product($b, $b), 6)"

  /** DuckDB CTE `name` (vec_id, `extra`…, cid, d2): [[sqDistSql]] from
    * every point of `e` (vec_id, v) to every centroid of `c` (cid, cv);
    * `extra` lists more `e` columns, each followed by ", ". */
  def sqDistCte(name: String, extra: String = ""): String =
    s"""$name AS (
       |  SELECT e.vec_id, ${extra}c.cid,
       |    ${sqDistSql("e.v", "c.cv")} AS d2
       |  FROM e CROSS JOIN c)""".stripMargin

  /** DuckDB twin of [[assign]]'s argmin: the CTE `name` (vec_id, `keep`
    * columns, rk) ranking the centroids of the [[sqDistCte]] `dist` per
    * point by (d2, cid), so rk = 1 is the point's cluster. */
  def nearestCte(name: String, dist: String, keep: String): String =
    s"""$name AS (
       |  SELECT vec_id, $keep,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
       |  FROM $dist)""".stripMargin

  /** Nearest-centroid assignment. `points` must carry (`idCol`, `vecCol`)
    * plus any pass-through columns; `centroids` carries (`cid`, `cvec`).
    * Returns the points' non-vector columns plus (`cluster`, `d2`).
    * Argmin is a struct-min aggregate (deterministic: distance, then
    * centroid id), not a window — one shuffle on the point id. */
  def assign(points: DataFrame, vecCol: String, centroids: DataFrame)
      : DataFrame = {
    val keep = points.columns.toSeq.filterNot(_ == vecCol).map(col)
    points.crossJoin(broadcast(centroids))
      .withColumn("graft_d2", sqDist(col(vecCol), col("cvec")))
      .groupBy(keep: _*)
      .agg(min(struct(col("graft_d2"), col("cid"))).as("m"))
      .select(keep :+ col("m").getField("cid").as("cluster") :+
        col("m").getField("graft_d2").as("d2"): _*)
  }

  /** The points of `points` (vec_id, v) with vec_id < k as centroids
    * (cid, cvec): the fixed seeds the one-pass k-means queries assign
    * to. */
  def lowIdCentroids(points: DataFrame, k: Int): DataFrame =
    points.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))

  /** DuckDB twin of [[lowIdCentroids]]: the CTE `c` (cid, cv) over the
    * relation `src` (vec_id, v). */
  def lowIdCentroidsCte(src: String, k: Int): String =
    s"c AS (SELECT vec_id AS cid, v AS cv FROM $src WHERE vec_id < $k)"

  /** Deterministic seed centroids: the k lowest-id points. */
  def seedCentroids(points: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    points.orderBy(idCol).limit(k)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))

  /** One distributed Lloyd update: mean of assigned vectors per cluster.
    * Elementwise mean via posexplode → groupBy(cluster, pos) → re-collect
    * (sorted by pos), so the shuffle after the explode is bounded by
    * k × dim groups; no vector ever reaches the driver. Empty clusters
    * drop out (standard Lloyd behaviour). */
  def updateCentroids(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    meanUpdate(assign(points.select(col(idCol), col(vecCol)), vecCol,
      centroids).join(points.select(col(idCol), col(vecCol)), idCol), vecCol)

  /** The Lloyd mean update over `assigned` rows (`groups`…, cluster,
    * `vecCol`): per (groups, cluster) the elementwise mean, collected in
    * position order as (groups…, cid, cvec). The shuffle after the
    * posexplode is bounded by groups × k × dim cells. */
  private def meanUpdate(assigned: DataFrame, vecCol: String,
      groups: Seq[String] = Nil): DataFrame =
    assigned
      .select(groups.map(col) ++ Seq(col("cluster"),
        posexplode(col(vecCol)).as(Seq("pos", "x"))): _*)
      .groupBy((groups ++ Seq("cluster", "pos")).map(col): _*)
      .agg(avg(col("x").cast(DoubleType)).as("m"))
      .groupBy(groups.map(col) :+ col("cluster").as("cid"): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("cvec"))

  /** Nearest centroid of `v` among `cs` (sorted by id) by squared L2
    * rounded at 1e-6 (math.rint, half-even); ties keep the lowest id.
    * Returns (cid, rounded d2). */
  private def nearest(cs: Array[(Long, Array[Double])], v: Array[Double])
      : (Long, Double) = {
    var best = Long.MaxValue; var bestD = Double.MaxValue
    var ci = 0
    while (ci < cs.length) {
      val c = cs(ci)._2
      var d = 0.0; var j = 0
      while (j < v.length) {
        val diff = v(j) - c(j); d += diff * diff; j += 1
      }
      val d6 = math.rint(d * 1e6) / 1e6
      if (d6 < bestD) { bestD = d6; best = cs(ci)._1 }
      ci += 1
    }
    (best, bestD)
  }

  /** Fixed-iteration Lloyd k-means with deterministic lowest-id seeding.
    * Returns the final centroids; callers get assignments via `assign`. */
  def lloyd(points: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int): DataFrame = {
    var cents = seedCentroids(points, idCol, vecCol, k)
    var i = 0
    while (i < iterations) {
      cents = updateCentroids(points, idCol, vecCol, cents)
      i += 1
    }
    cents
  }

  /** Grouped nearest-centroid assignment for many independent k-means
    * problems (one per value of `gCol` — e.g. a product quantizer's m
    * subspace codebooks), the [[assignGemm]] treatment applied to the
    * grouped form: the codebooks are m tiny matrices (groups × k × dim
    * doubles), so broadcast them ONCE and score every (group, subvector)
    * row in one narrow mapPartitions pass of tight double loops. The
    * broadcast-join form this replaces materialized corpus × k candidate
    * ROWS per iteration — the measured dominant cost of the sf10 PQ
    * build (219 s warm, r12 ladder) — where the same math is a bounded
    * matrix product. Same determinism contract as [[assignGemm]]:
    * rint-half-even rounding at 1e-6 vs the Column form's half-up (they
    * differ only for d2 exactly on a .5 × 1e-6 boundary) and ties keep
    * the lowest centroid id. `points` must carry exactly (`idCol`,
    * `gCol`, `vecCol`); returns (`idCol`, `gCol`, cluster, d2). */
  def assignGroupedGemm(points: DataFrame, idCol: String, gCol: String,
      vecCol: String, centroids: DataFrame): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val books = centroids
      .select(col(gCol).cast(IntegerType), col("cid"),
        col("cvec").cast(ArrayType(DoubleType))).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1)
      .map { case (g, rows) =>
        g -> rows.map(t => (t._2, t._3)).sortBy(_._1)
      }
    val bc = spark.sparkContext.broadcast(books)
    points
      .select(col(idCol).cast(LongType), col(gCol).cast(IntegerType),
        col(vecCol).cast(ArrayType(DoubleType)))
      .as[(Long, Int, Array[Double])]
      .mapPartitions { it =>
        val bks = bc.value
        it.map { case (id, g, v) =>
          val (best, bestD) = nearest(bks(g), v)
          (id, g, best, bestD)
        }
      }
      .toDF(idCol, gCol, "cluster", "d2")
  }

  /** Grouped Lloyd: the independent k-means of every group train
    * SIMULTANEOUSLY in one set of Spark jobs — e.g. a product
    * quantizer's m subspace codebooks, where a per-subspace driver loop
    * would pay m× the job-scheduling overhead (measured 23 s → 3 s on
    * the PQ build at sf0.1). Seeding is the grouped analog of
    * [[seedCentroids]] (k lowest ids per group); assignment is the
    * broadcast-codebook gemm pass ([[assignGroupedGemm]] — never a
    * corpus × codewords row materialization); the update shuffle is
    * bounded by groups × k × dim. Returns (`gCol`, cid, cvec). */
  def lloydGrouped(points: DataFrame, idCol: String, gCol: String,
      vecCol: String, k: Int, iterations: Int): DataFrame = {
    val w = Window.partitionBy(gCol).orderBy(col(idCol))
    var cents = points
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") <= k)
      .select(col(gCol), col(idCol).as("cid"), col(vecCol).as("cvec"))
    var i = 0
    while (i < iterations) {
      cents = meanUpdate(assignGroupedGemm(points.select(col(idCol),
          col(gCol), col(vecCol)), idCol, gCol, vecCol, cents)
        .join(points.select(col(idCol), col(gCol), col(vecCol)),
          Seq(idCol, gCol)), vecCol, Seq(gCol))
      i += 1
    }
    cents
  }

  /** Nearest-centroid assignment for LARGE k: the [[assign]] crossJoin
    * materializes points × k distance ROWS (8 G rows at 2 M points ×
    * 4096 lists — the flat-IVF build wall), while the same math is a
    * points × k matrix product. This form broadcasts the centroid
    * matrix (k × dim doubles — ≤4096 × 8 ≈ 256 KB, bounded by the
    * caller's list cap) and runs the argmin as ONE narrow mapPartitions
    * pass of tight double loops: no join, no shuffle, no per-candidate
    * row. The documented mapPartitions exception class (dense numeric
    * block work, like the fold-in ridge solves).
    *
    * Determinism: same (d2, cid) argmin order as [[assign]] with d2
    * rounded at 1e-6; the rounding is math.rint (half-even) rather than
    * Spark round's half-up — they differ only for d2 landing EXACTLY on
    * a .5 × 1e-6 boundary, and the cid tie-break keeps even that case
    * deterministic. Returns (`idCol`, cluster, d2). */
  def assignGemm(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val cents = centroids.select(col("cid"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(cents)
    points.select(col(idCol).cast(LongType),
        col(vecCol).cast(org.apache.spark.sql.types.ArrayType(DoubleType)))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) =>
          val (best, bestD) = nearest(cs, v)
          (id, best, bestD)
        }
      }
      .toDF(idCol, "cluster", "d2")
  }

  /** Lloyd k-means for LARGE k: centroids trained on a deterministic
    * hash-sample (≈ `samplePerList` points per centroid — the standard
    * IVF practice: the quantizer needs the distribution, not the
    * corpus), every assignment pass through [[assignGemm]]. Build cost
    * is O(sample × k) matrix math plus one final full-corpus gemm
    * assign by the caller — never a points × k row materialization.
    * Same lowest-id seeding and mean update as [[lloyd]]. */
  def lloydGemm(points: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int, samplePerList: Int = 200): DataFrame = {
    // double vectors throughout: float inputs (e.g. the embeddings
    // table) would otherwise surface as float cvec from the seed pass
    // and break the collected-centroid math
    val pts = points.select(col(idCol),
      col(vecCol).cast(ArrayType(DoubleType)).as(vecCol))
    val n = pts.count()
    val target = k.toLong * samplePerList
    val sample = if (n <= target) pts
      else pts.filter(pmod(xxhash64(col(idCol)), lit(math.max(1L, n / target)))
        === 0)
    var cents = seedCentroids(sample, idCol, vecCol, k)
    var i = 0
    while (i < iterations) {
      cents = meanUpdate(assignGemm(sample, idCol, vecCol, cents)
        .join(sample, idCol), vecCol)
      i += 1
    }
    cents
  }

  /** Within-cluster sum of squared distances (the Lloyd objective). */
  def wcss(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): Double =
    assign(points.select(col(idCol), col(vecCol)), vecCol, centroids)
      .agg(sum(col("d2"))).head().getDouble(0)
}
