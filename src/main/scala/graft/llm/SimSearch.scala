package graft.llm

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column.
  *
  * Brute-force cosine top-k is the exact baseline (one pass, no shuffle
  * until the global top-k, which TakeOrderedAndProject handles without a
  * full sort). The IVF-ish variant prunes to the probe's sign-LSH bucket —
  * the 100 TB path where scanning every vector per query is off the table.
  */
object SimSearch {

  /** Exact top-k by cosine to the embedding of `probeId` (probe excluded;
    * scores rounded before ordering so ranking is cross-engine-stable). */
  def cosineTopK(embs: DataFrame, probeId: Long, k: Int): DataFrame =
    cosineTop(embs.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probeOf(embs, probeId))), k)

  /** The one-row probe frame (`probe_e`) every single-probe search joins. */
  private def probeOf(embs: DataFrame, probeId: Long): DataFrame =
    embs.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe_e"))

  /** The exact re-rank every cosine top-k ends in: candidates joined to
    * `probe_e`, scored by cosine rounded at 1e-4, best k by
    * (score DESC, vec_id ASC). */
  private def cosineTop(cand: DataFrame, k: Int): DataFrame =
    cand.select(col("vec_id"),
        VectorFunctions.cosine4(col("embedding"), col("probe_e"))
          .as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  /** The probe rows `keep` selects from `embs`, as (qid, q_label, q_e):
    * the panel a many-probe retrieval evaluation scores the corpus
    * against. */
  def probePanel(embs: DataFrame, keep: Column): DataFrame =
    embs.filter(keep)
      .select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("embedding").as("q_e"))

  /** Each probe's candidates in rank order: the 4-dp cosine `score`
    * descending, then vec_id. */
  def byScore: WindowSpec =
    Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))

  /** DuckDB twin of `row_number()` over [[byScore]], for probes `q` and
    * candidates `e` with vectors `v`. */
  def probeRankSql: String =
    s"""row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${VectorFunctions.cosine4Sql("q.v", "e.v")} DESC, e.vec_id)""".stripMargin

  /** IVF-style approximate top-k: search only the probe's sign bucket. */
  def bucketedTopK(embs: DataFrame, probeId: Long, k: Int): DataFrame = {
    val withBucket = embs.select(col("vec_id"), col("embedding"),
      Dedup.signBucket(col("embedding")).as("bucket"))
    val probe = withBucket.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe_e"), col("bucket").as("probe_b"))
    cosineTop(withBucket.filter(col("vec_id") =!= probeId)
      .join(broadcast(probe), col("bucket") === col("probe_b")), k)
  }

  /** Multi-probe IVF top-k over the scalable hyperplane LSH: compute the
    * probe's bucket plus the `nProbe−1` neighbor buckets obtained by
    * flipping the lowest-|margin| sign bits (the bits most likely to
    * disagree for true neighbors), then exact cosine only within those
    * buckets. Raising `bits` shrinks buckets (scan cost ~ nProbe·N/2^bits);
    * raising `nProbe` buys recall — standard multi-probe LSH trade. */
  def multiProbeTopK(embs: DataFrame, probeId: Long, k: Int, dims: Int,
      bits: Int = 16, nProbe: Int = 8, seed: Long = 42L): DataFrame = {
    val planes = Dedup.hyperplanes(dims, bits, seed)
    val pv = embs.filter(col("vec_id") === probeId)
      .select("embedding").head().getSeq[Float](0).toArray
    val margins = planes.map(p =>
      p.zip(pv).map { case (a, b) => a.toDouble * b.toDouble }.sum)
    val base = margins.zipWithIndex
      .map { case (m, i) => if (m > 0) 1L << i else 0L }.sum
    val flipOrder = margins.zipWithIndex.sortBy { case (m, _) => math.abs(m) }
    val probeBuckets = base +: flipOrder.take(math.max(nProbe - 1, 0))
      .map { case (_, i) => base ^ (1L << i) }.toSeq
    val withBucket = embs.select(col("vec_id"), col("embedding"),
      Dedup.hyperplaneBucket(col("embedding"), planes).as("bucket"))
    cosineTop(withBucket
      .filter(col("bucket").isin(probeBuckets: _*) && col("vec_id") =!= probeId)
      .crossJoin(broadcast(probeOf(embs, probeId))), k)
  }

  /** Trained-IVF top-k — the standard IVF index (a k-means coarse
    * quantizer), as opposed to the sign-LSH bucketing of [[bucketedTopK]]:
    * Lloyd centroids define the inverted lists, every vector is assigned
    * to its nearest centroid, and the probe searches only its `nProbe`
    * nearest lists with exact cosine. Trained centroids adapt to the data
    * distribution, so recall holds on anisotropic embeddings where random
    * sign-LSH degrades.
    *
    * Scale shape: training + assignment is the INDEX BUILD — at 100 TB it
    * runs once and is amortized over all queries (persist the assigned
    * table, ideally partitioned by `cluster` so a probe's lists are
    * partition-pruned). Per-query work is ranking the nLists×dim centroid
    * table (bounded driver collect, same posture as SkewJoin's hot keys)
    * plus an exact scan of ~nProbe/nLists of the corpus. */
  def trainedIvfTopK(embs: DataFrame, probeId: Long, k: Int,
      nLists: Int = 16, nProbe: Int = 4, lloydIters: Int = 2): DataFrame = {
    val index = buildIvfIndex(embs, nLists, lloydIters)
    ivfTopK(index, probeOf(embs, probeId), k, nProbe, exclude = Some(probeId))
  }

  /** A built trained-IVF index: the nLists×dim centroid table and the
    * full assignment table (vec_id, cluster, d2, embedding). Build ONCE,
    * search many — at scale, persist `assigned` partitioned by `cluster`
    * so a probe's nProbe lists are pruned at the file level and the
    * per-query scan is ~nProbe/nLists of the corpus. */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame)

  /** "Build once, search many" index memos: the registered ANN queries
    * (q_sim_trained_ivf / q_sim_pq / q_sim_ivfpq) train on the SAME
    * embeddings with the SAME parameters, so one Lloyd run serves all of
    * them per (session, data-dir). Keyed by session as well as data key —
    * a localCheckpoint-backed frame is bound to the context that built
    * it, and a later session reusing the same dir must rebuild, not
    * inherit a frame whose blocks died with the old context. Each memo
    * owns its index's checkpoint blocks, so the bench's per-query release
    * pass cannot free a shared index mid-run, and the bench's three
    * independent index builds (disjoint keys) overlap.
    *
    * Cache-key contract: entries key on (session, dataKey, params) and
    * do NOT fingerprint the `embs` frame itself — `embs` MUST be exactly
    * `Tables.load(session, dataKey, "embeddings")` (the full table for
    * that dir). Passing a filtered or otherwise derived frame under the
    * same dataKey would silently return an index built from different
    * data; build un-memoized via buildIvfIndex/buildPqIndex for that. */
  private val ivfIndexes = graft.SharedBuild[
    (org.apache.spark.sql.SparkSession, String, Int, Int), IvfIndex]()(
    idx => graft.SharedBuild.frames(idx.centroids, idx.assigned))
  private val pqIndexes = graft.SharedBuild[
    (org.apache.spark.sql.SparkSession, String, Int, Int, Int, Int),
    PqIndex]()(idx => graft.SharedBuild.frames(idx.codebooks, idx.codes))

  def ivfIndexCached(embs: DataFrame, dataKey: String, nLists: Int,
      lloydIters: Int): IvfIndex =
    ivfIndexes((embs.sparkSession, dataKey, nLists, lloydIters))(
      buildIvfIndex(embs, nLists, lloydIters))

  def pqIndexCached(embs: DataFrame, dataKey: String, dims: Int, m: Int,
      codebookSize: Int, lloydIters: Int): PqIndex =
    pqIndexes((embs.sparkSession, dataKey, dims, m, codebookSize,
      lloydIters))(buildPqIndex(embs, dims, m, codebookSize, lloydIters))

  /** Index build: Lloyd centroids as the coarse quantizer + one
    * nearest-centroid assignment pass over the corpus. */
  def buildIvfIndex(embs: DataFrame, nLists: Int,
      lloydIters: Int = 2): IvfIndex = {
    val pts = embs.select(col("vec_id"), col("embedding"))
    // Materialize at the build boundary: Lloyd's iteration chain is a
    // lazy nested plan, and a search runs ≥2 actions against the index
    // (centroid rank collect + candidate scan) — without the checkpoint
    // every action would re-run the whole training. "Build once, search
    // many" is the index contract; a production deployment persists
    // exactly these two tables.
    val cents = Clustering.lloyd(pts, "vec_id", "embedding", nLists,
      lloydIters).localCheckpoint()
    val assigned = Clustering.assign(pts, "embedding", cents)
      .join(pts, "vec_id").localCheckpoint()
    IvfIndex(cents, assigned)
  }

  /** Search a built index: rank the centroid table against the one-row
    * `probe` frame (column `probe_e`) — a bounded driver collect of the
    * nProbe list ids — then exact cosine only within those lists. */
  def ivfTopK(index: IvfIndex, probe: DataFrame, k: Int, nProbe: Int,
      exclude: Option[Long] = None): DataFrame = {
    val cand = index.assigned
      .filter(col("cluster").isin(nearestLists(index, probe, nProbe): _*))
    cosineTop(exclude.fold(cand)(id => cand.filter(col("vec_id") =!= id))
      .crossJoin(broadcast(probe)), k)
  }

  /** The ids of the `nProbe` lists whose centroids are nearest (squared
    * L2, cid tie-break) to the one-row `probe` frame: a bounded driver
    * collect of the nLists × dim centroid table's ranking. */
  private def nearestLists(index: IvfIndex, probe: DataFrame,
      nProbe: Int): Seq[Any] =
    index.centroids.crossJoin(broadcast(probe))
      .select(col("cid"),
        Clustering.sqDist(col("cvec"), col("probe_e")).as("d2"))
      .orderBy(col("d2"), col("cid"))
      .limit(nProbe)
      .collect().map(_.get(0)).toSeq

  /** Batch IVF search: top-k for EVERY probe row in one distributed
    * plan — the all-users serving pass of a recommender / retrieval
    * panel, where the one-probe [[ivfTopK]]'s per-query driver collect
    * would become a driver-side loop (the D4 anti-pattern).
    *
    * Distributed shape, stage by stage:
    *   1. Probe-list selection is a NARROW map: the centroid table is
    *      bounded (nLists × dim — the same posture as ivfTopK's collect),
    *      so it is inlined as literal vectors and each probe row ranks
    *      them with one array_sort, no shuffle, no window.
    *   2. Candidate generation is one equi-join on the list id —
    *      `broadcastCorpus` picks which side broadcasts (the indexed
    *      corpus for all-users × small-catalog MIPS; the probe panel for
    *      small-panel × big-corpus retrieval), so the data-sized side
    *      never shuffles.
    *   3. Per-probe top-k is [[graft.functions.TopKPairs]] — map-side
    *      partial aggregation keeps k survivors per probe per partition,
    *      so the only exchange carries |probes| × k rows, never the
    *      probes × candidates stream a window would shuffle.
    *
    * `mips = true` ranks lists by MAXIMUM centroid dot product (the
    * standard IVF-for-inner-product probe heuristic — recommendation
    * scores are dots, not distances); `false` ranks by squared L2 like
    * [[ivfTopK]]. `scoreOf` computes the final candidate score (raw dot
    * for MIPS re-rank; rounded cosine for retrieval panels).
    *
    * Returns (probe_id, rk 1..k, score, vec_id), deterministically
    * ordered per probe by (score DESC, vec_id ASC). */
  def ivfTopKAll(index: IvfIndex, probes: DataFrame, k: Int, nProbe: Int,
      mips: Boolean, scoreOf: (Column, Column) => Column,
      excludeSelf: Boolean = false, broadcastCorpus: Boolean = true)
      : DataFrame = {
    val cents = index.centroids.select(col("cid"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val listStructs = cents.map { case (cid, v) =>
      val c = typedLit(v)
      // negate dots so ascending array_sort yields best-first in both modes
      val d = if (mips) -dot(col("probe_e"), c)
              else Clustering.sqDist(col("probe_e"), c)
      struct(d.as("d"), lit(cid).as("cid"))
    }
    val probed = probes.select(col("probe_id"), col("probe_e"))
      .withColumn("graft_cid",
        explode(transform(
          slice(array_sort(array(listStructs.toIndexedSeq: _*)), 1, nProbe),
          e => e.getField("cid"))))
    val corpus = index.assigned
      .select(col("vec_id"), col("cluster"), col("embedding"))
    val cand =
      if (broadcastCorpus)
        probed.join(broadcast(corpus), col("graft_cid") === col("cluster"))
      else broadcast(probed).join(corpus, col("graft_cid") === col("cluster"))
    val scored = (if (excludeSelf)
        cand.filter(col("vec_id") =!= col("probe_id"))
      else cand)
      .select(col("probe_id"), col("vec_id"),
        scoreOf(col("probe_e"), col("embedding")).as("score"))
    val topk = udaf(new graft.functions.TopKPairs(k))
    scored.groupBy("probe_id")
      .agg(topk(col("score"), col("vec_id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("probe_id"), (col("i") + 1).as("rk"),
        col("p").getField("_1").as("score"),
        col("p").getField("_2").as("vec_id"))
  }

  /** IVF index build for LARGE list counts: centroids from the sampled
    * [[Clustering.lloydGemm]], full-corpus assignment through
    * [[Clustering.assignGemm]] — the whole build is O(corpus × dim × k)
    * matrix math in narrow passes, never the corpus × k candidate-ROW
    * materialization that walls the crossJoin build past ~512 lists
    * (2 M items × 4096 lists = 8 G rows). Same IvfIndex contract. */
  def buildIvfIndexGemm(embs: DataFrame, nLists: Int,
      lloydIters: Int = 2): IvfIndex = {
    val pts = embs.select(col("vec_id"), col("embedding"))
    val cents = Clustering.lloydGemm(pts, "vec_id", "embedding", nLists,
      lloydIters).localCheckpoint()
    val assigned = Clustering.assignGemm(pts, "vec_id", "embedding", cents)
      .join(pts, "vec_id").localCheckpoint()
    IvfIndex(cents, assigned)
  }

  /** Memoized [[buildIvfIndexGemm]] (same memo and ownership as
    * [[ivfIndexCached]]; key space disjoint via the #gemm suffix). */
  def ivfIndexGemmCached(embs: DataFrame, dataKey: String, nLists: Int,
      lloydIters: Int): IvfIndex =
    ivfIndexes((embs.sparkSession, dataKey + "#gemm", nLists, lloydIters))(
      buildIvfIndexGemm(embs, nLists, lloydIters))

  /** All-probes MIPS top-k as BLOCKED MATRIX WORK — the serving shape
    * that survives the scale where [[ivfTopKAll]]'s row-per-candidate
    * form stops being runnable. At 2 M items / 4096 lists / 1 M+ users,
    * the row form materializes ~10¹⁰ scored join rows; this form moves
    * only factors: probe factors shuffle once on their probed list id
    * (|probes| × nProbe small rows), each list's item block is
    * assembled once, and the scoring is a users × items × dim
    * triple loop per (list) cogroup — the same blocked-GEMM design
    * MLlib's recommendForAllUsers uses, restricted to the nProbe probed
    * lists per user. RDD cogroup is deliberate (the documented
    * exception class: dense numeric block work); everything around it
    * stays DataFrame.
    *
    * Stages: (1) one narrow mapPartitions ranks the broadcast centroid
    * matrix per probe (k × dim ≤ 4096 × dim doubles — bounded) and
    * emits (list, probe, factor); (2) cogroup by list id scores each
    * list's user block against its item block with an insertion top-k
    * per user (items iterated in ascending id order — deterministic);
    * (3) reduceByKey merges the ≤ nProbe per-list top-ks per user
    * (map-side combine: only |users| × k survivors shuffle).
    *
    * Determinism: double dots in fixed item order, ties broken by
    * ascending item id at every stage. Returns (probe_id, rk, score,
    * vec_id) like [[ivfTopKAll]]. */
  def mipsGemmTopKAll(index: IvfIndex, probes: DataFrame, k: Int,
      nProbe: Int): DataFrame =
    gemmTopKAll(index, probes, k, nProbe, cosine = false,
      excludeSelf = false)

  /** Cosine-retrieval twin of [[mipsGemmTopKAll]] — the same blocked
    * per-list matrix scoring, with probe lists ranked by squared-L2 to
    * the centroid (the [[ivfTopK]] ranking) and candidates scored by
    * cosine rounded at 1e-4 (the [[cosineTopK]] ranking resolution).
    * For retrieval panels too big for the literal-centroid row form —
    * at 512 lists × 64 dims the inlined-centroid expression leaves
    * whole-stage codegen and the crossJoin index build materializes
    * corpus × nLists rows (q_map_at_k_ann measured 203 s at sf10;
    * this form measures the same panel in seconds). */
  def cosineGemmTopKAll(index: IvfIndex, probes: DataFrame, k: Int,
      nProbe: Int, excludeSelf: Boolean = true): DataFrame =
    gemmTopKAll(index, probes, k, nProbe, cosine = true, excludeSelf)

  /** The (score DESC, id ASC) order of every gemm top-k: does
    * (score, id) rank before `o`? */
  private def before(score: Double, id: Long, o: (Double, Long)): Boolean =
    score > o._1 || (score == o._1 && id < o._2)

  /** Offer (score, id) to the bounded top-k `best`, whose first `filled`
    * slots hold the survivors so far in [[before]] order: insert it in
    * place if it beats the last survivor or a slot is free. Returns the
    * new fill. */
  private def offer(best: Array[(Double, Long)], filled: Int, score: Double,
      id: Long): Int = {
    val cap = best.length
    if (filled == cap && !before(score, id, best(cap - 1))) return filled
    var b = math.min(filled, cap - 1)
    best(b) = (score, id)
    while (b > 0 && before(best(b)._1, best(b)._2, best(b - 1))) {
      val t = best(b); best(b) = best(b - 1); best(b - 1) = t
      b -= 1
    }
    math.min(filled + 1, cap)
  }

  /** Merge two [[before]]-ordered top-k lists into the best `k`. */
  private def mergeTopK(a: Array[(Double, Long)], b: Array[(Double, Long)],
      k: Int): Array[(Double, Long)] = {
    val out = new Array[(Double, Long)](math.min(k, a.length + b.length))
    var (i, j, n) = (0, 0, 0)
    while (n < out.length) {
      val takeA = j >= b.length ||
        (i < a.length && before(a(i)._1, a(i)._2, b(j)))
      if (takeA) { out(n) = a(i); i += 1 } else { out(n) = b(j); j += 1 }
      n += 1
    }
    out
  }

  private def norm(v: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < v.length) { s += v(j) * v(j); j += 1 }
    math.sqrt(s)
  }

  private def gemmTopKAll(index: IvfIndex, probes: DataFrame, k: Int,
      nProbe: Int, cosine: Boolean, excludeSelf: Boolean): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val cents = index.centroids.select(col("cid"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val bcCents = spark.sparkContext.broadcast(cents)
    val probeRdd = probes
      .select(col("probe_id").cast(LongType),
        col("probe_e").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
      .as[(Long, Array[Double])].rdd
      .mapPartitions { it =>
        val cs = bcCents.value
        val np = math.min(nProbe, cs.length)
        it.flatMap { case (uid, uf) =>
          // list ranking: max dot for MIPS, min squared-L2 for cosine
          // retrieval (negated so both maximize)
          val best = new Array[(Double, Long)](np)
          var filled = 0
          var ci = 0
          while (ci < cs.length) {
            val c = cs(ci)._2
            var d = 0.0; var j = 0
            if (cosine) {
              while (j < uf.length) {
                val diff = uf(j) - c(j); d -= diff * diff; j += 1
              }
            } else {
              while (j < uf.length) { d += uf(j) * c(j); j += 1 }
            }
            filled = offer(best, filled, d, cs(ci)._1)
            ci += 1
          }
          (0 until filled).iterator.map(i => (best(i)._2, (uid, uf)))
        }
      }
    val itemRdd = index.assigned
      .select(col("cluster").cast(LongType),
        col("vec_id").cast(LongType),
        col("embedding").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
      .as[(Long, Long, Array[Double])].rdd
      .map { case (cid, iid, f) => (cid, (iid, f)) }
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val top = probeRdd.cogroup(itemRdd, parts).flatMap {
      case (_, (us, is)) =>
        val items = is.toArray.sortBy(_._1) // ascending id: fixed order
        // per-block item norms, computed once (cosine mode only)
        val norms = if (!cosine) null else items.map(t => norm(t._2))
        if (items.isEmpty) Iterator.empty
        else us.iterator.map { case (uid, uf) =>
          val un = if (!cosine) 0.0 else norm(uf)
          val kk = math.min(k, items.length)
          val best = new Array[(Double, Long)](kk)
          var filled = 0
          var ii = 0
          while (ii < items.length) {
            val (iid, f) = items(ii)
            var d = 0.0
            if (!excludeSelf || iid != uid) {
              var j = 0
              while (j < uf.length) { d += uf(j) * f(j); j += 1 }
              if (cosine) {
                val den = un * norms(ii)
                d = if (den == 0.0) 0.0
                    else math.rint(d / den * 1e4) / 1e4
              }
            } else d = Double.NegativeInfinity // self: never selected
            if (d != Double.NegativeInfinity) filled = offer(best, filled, d, iid)
            ii += 1
          }
          (uid, best.take(filled))
        }
    }.reduceByKey(mergeTopK(_, _, k), parts)
    top.flatMap { case (uid, recs) =>
      recs.iterator.zipWithIndex.map { case ((score, iid), i) =>
        (uid, i + 1, score, iid)
      }
    }.toDF("probe_id", "rk", "score", "vec_id")
  }

  /** A built product-quantization index: the grouped codebook table
    * (s, cid, cvec — m × `codebookSize` × `subDim`, tiny) plus the code
    * table storing every vector as `m` small codes. The code table is
    * the ONLY per-vector state a query scans — m codes instead of dim
    * floats (64-dim float = 256 B → 16 B at m=16, codebookSize ≤ 256),
    * which is what lets a billion-vector corpus sit in memory. Build
    * once, search many. */
  final case class PqIndex(codebooks: DataFrame, codes: DataFrame,
      m: Int, subDim: Int)

  /** Unit-normalize an embedding column (zero vectors stay zero). PQ
    * quantizes NORMALIZED vectors so that ADC's L2 ordering coincides
    * with the cosine ordering of the final ranking (‖a−b‖² = 2−2cosθ on
    * the unit sphere) — without this, vectors with large norms crowd the
    * codebooks and the shortlist diverges from the cosine top-k. */
  private def unitNorm(e: Column): Column = {
    val n = sqrt(dot(e, e))
    transform(e, v => when(n > 0, v / n).otherwise(lit(0.0)))
  }

  /** Index build: slice each embedding into `m` contiguous subvectors
    * with ONE explode (every subspace in the same frame), train all m
    * codebooks simultaneously via `Clustering.lloydGrouped`, and encode
    * every vector by pivoting its per-subspace nearest codewords to m
    * code columns in one aggregate. The grouped layout is a wall-clock
    * matter, not a semantic one: a per-subspace driver loop schedules
    * m × (iters + 1) tiny jobs (measured 23 s at sf0.1 for m=16); this
    * shape runs the identical math in a handful. */
  def buildPqIndex(embs: DataFrame, dims: Int, m: Int = 8,
      codebookSize: Int = 16, lloydIters: Int = 2): PqIndex = {
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val subDim = dims / m
    val subStructs = (0 until m).map { j =>
      struct(lit(j).as("s"),
        slice(col("embedding"), j * subDim + 1, subDim).as("sub"))
    }
    val subpts = embs
      .select(col("vec_id"), unitNorm(col("embedding")).as("embedding"))
      .select(col("vec_id"), explode(array(subStructs: _*)).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.sub").as("sub"))
    // Materialized at the build boundary (see buildIvfIndex): the ADC
    // table collect and the code-table scan are separate actions, and
    // each would otherwise re-run the full grouped-Lloyd chain.
    val books = Clustering.lloydGrouped(subpts, "vec_id", "s", "sub",
      codebookSize, lloydIters).localCheckpoint()
    val codeCols = (0 until m).map(j =>
      max(when(col("s") === j, col("cluster"))).as(s"c$j"))
    val codes = Clustering.assignGroupedGemm(subpts, "vec_id", "s", "sub",
        books)
      .groupBy("vec_id")
      .agg(codeCols.head, codeCols.tail: _*)
      .localCheckpoint()
    PqIndex(books, codes, m, subDim)
  }

  /** Per-subspace ADC tables for a normalized probe frame: ONE job joins
    * the grouped codebooks to the probe's m subvectors and collects
    * m × codebookSize distances. */
  private def adcTables(pq: PqIndex, probeN: DataFrame)
      : Seq[Map[Long, Double]] = {
    val probeSubs = probeN.select(explode(array((0 until pq.m).map { j =>
        struct(lit(j).as("s"),
          slice(col("probe_e"), j * pq.subDim + 1, pq.subDim).as("psub"))
      }: _*)).as("e"))
      .select(col("e.s").as("s"), col("e.psub").as("psub"))
    val rows = pq.codebooks.join(broadcast(probeSubs), "s")
      .select(col("s"), col("cid"),
        Clustering.sqDist(col("cvec"), col("psub")).as("d2"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    (0 until pq.m).map(j =>
      rows.collect { case ((s, cid), d) if s == j => cid -> d }.toMap)
  }

  /** PQ search with asymmetric-distance computation (ADC): squared L2
    * decomposes exactly across subspaces, so the probe's distance to
    * every codeword is precomputed ([[adcTables]], broadcast as map
    * literals) and a vector's approximate distance is m map lookups
    * summed — a codegen'd linear scan of the compressed code table,
    * touching no raw vectors. The top-`rerank` candidates are then
    * re-ranked with exact cosine on the raw embeddings (the standard
    * recall repair: only `rerank` vectors are ever decompressed). */
  def pqTopK(index: PqIndex, embs: DataFrame, probeId: Long, k: Int,
      rerank: Int = 50): DataFrame =
    adcRerank(index, index.codes, embs, probeId, k, rerank)

  /** The ADC shortlist and its exact re-rank: the `rerank` rows of
    * `codes` (probe excluded) with the least approximate distance
    * (vec_id tie-break), then [[cosineTop]] over their raw embeddings. */
  private def adcRerank(pq: PqIndex, codes: DataFrame, embs: DataFrame,
      probeId: Long, k: Int, rerank: Int): DataFrame = {
    val probe = probeOf(embs, probeId)
    // ADC runs in the same normalized space the codebooks were trained in
    val tables = adcTables(pq,
      probe.select(unitNorm(col("probe_e")).as("probe_e")))
    val approx = (0 until pq.m).map { j =>
      element_at(typedLit(tables(j)), col(s"c$j"))
    }.reduce(_ + _)
    val cand = codes
      .filter(col("vec_id") =!= probeId)
      .select(col("vec_id"), approx.as("approx_d2"))
      .orderBy(col("approx_d2"), col("vec_id"))
      .limit(rerank)
    cosineTop(cand.join(embs, "vec_id").crossJoin(broadcast(probe)), k)
  }

  /** IVF×PQ composition — the standard large-scale ANN architecture
    * (inverted lists prune WHICH vectors are considered, product codes
    * compress HOW each considered vector is scored): the probe ranks the
    * IVF centroid table to pick its nProbe lists, the ADC scan then runs
    * only over the code rows of vectors in those lists, and the
    * shortlist re-ranks exactly. Per query: a bounded centroid collect +
    * a compressed scan of ~nProbe/nLists of the code table + `rerank`
    * raw-vector reads — at a billion vectors, both the candidate count
    * and the bytes touched per candidate shrink multiplicatively. */
  def ivfPqTopK(ivf: IvfIndex, pq: PqIndex, embs: DataFrame, probeId: Long,
      k: Int, nProbe: Int = 4, rerank: Int = 50): DataFrame = {
    val lists = nearestLists(ivf, probeOf(embs, probeId), nProbe)
    val inLists = ivf.assigned.filter(col("cluster").isin(lists: _*))
      .select("vec_id")
    adcRerank(pq, pq.codes.join(inLists, "vec_id"), embs, probeId, k, rerank)
  }

  /** Exact top-k by squared L2 distance to `probeId`'s embedding, on the
    * fused one-walk `graft_l2sq` kernel. Same shape as [[cosineTopK]]:
    * broadcast probe, TakeOrderedAndProject — no global sort, no shuffle
    * of the embedding table. */
  def l2TopK(embs: DataFrame, probeId: Long, k: Int): DataFrame =
    embs.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probeOf(embs, probeId)))
      .select(col("vec_id"), round(VectorFunctions.l2sq(
          col("embedding"), col("probe_e")), 4).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)

  /** Per-label centroids via posexplode + (label, dim) aggregation. */
  def labelCentroids(embs: DataFrame): DataFrame =
    embs.select(col("label"), posexplode(col("embedding")).as(Seq("p", "v")))
      .groupBy("label", "p")
      .agg(avg(col("v").cast(DoubleType)).as("c"))

  /** Per-label outliers (prototypicality pruning, the SemDeDup-style
    * curation filter): each vector's L2 distance to its OWN label
    * centroid, top `topN` farthest per label. The centroid table is
    * k×dim (broadcast-sized); the distance pass is one fan-out join on
    * the bounded (label, dim) key plus a per-vector aggregate, and the
    * per-label top-N is a label-partitioned window — never a global
    * sort. Distances round 4 before ranking (vec_id tiebreak) so the
    * ranking is engine-stable. */
  def labelOutliers(embs: DataFrame, topN: Int): DataFrame = {
    val c = labelCentroids(embs)
    val d = embs
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("p", "v")))
      .join(c, Seq("label", "p"))
      .groupBy("vec_id", "label")
      .agg(round(sqrt(sum((col("v").cast(org.apache.spark.sql.types.DoubleType) - col("c")) *
        (col("v").cast(org.apache.spark.sql.types.DoubleType) - col("c")))), 4).as("dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("dist").desc, col("vec_id"))
    d.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topN)
      .select("label", "vec_id", "dist")
  }

  /** For each label: the nearest OTHER label's centroid by L2 distance
    * (rounded before ranking; label tiebreak). */
  def nearestOtherCentroid(embs: DataFrame): DataFrame = {
    val c = labelCentroids(embs)
    val d = c.as("a").join(c.as("b"),
        col("a.p") === col("b.p") && col("a.label") =!= col("b.label"))
      .groupBy(col("a.label").as("label"), col("b.label").as("other"))
      .agg(round(sqrt(sum((col("a.c") - col("b.c")) * (col("a.c") - col("b.c")))), 4)
        .as("dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("dist"), col("other"))
    d.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("label", "other", "dist")
  }
}
