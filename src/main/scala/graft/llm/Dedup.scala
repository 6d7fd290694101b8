package graft.llm

import graft.functions.VectorFunctions
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators, ordered by cost/recall trade-off:
  *  - exact: hash-groupBy, one shuffle on the digest (100 TB-safe).
  *  - simhash: sign-aggregated token-hash signature (1 lane × 32 bits at
  *    fixture scales, 2 lanes × 60 bits past 100 k docs); near-dups
  *    collide on banded signature blocks — linear, one shuffle.
  *  - minhash LSH: MLlib MinHashLSH banding, subquadratic candidate join.
  *  - n-gram Jaccard: exact similarity on candidates that share a RARE
  *    shingle (df-bounded blocking keeps the self-join linear-ish; common
  *    shingles carry no discriminative signal anyway).
  *  - embedding cosine: sign-LSH bucketed near-dup join (the scale path —
  *    a full cross join is quadratic and never acceptable).
  */
object Dedup {

  /** Exact dedup summary: survivors keep min(doc_id) per md5(text). */
  def exactSummary(docs: DataFrame): DataFrame = {
    val perHash = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    perHash.agg(count(lit(1)).as("n_unique"), sum(col("keeper")).as("keeper_sum"))
      .crossJoin(total)
      .select("n_docs", "n_unique", "keeper_sum")
  }

  /** Simhash per doc from 60-bit md5 token hashes: bit b of the
    * signature is the sign of Σ_tokens (±1 by token-hash bit b). `bits`
    * ≤ 60 (the hash60 width); 32 is the base readout width
    * (q_dedup_simhash pins it), the near-dup detector widens with the
    * corpus (see [[simhashParamsFor]]). */
  def simhash(docs: DataFrame, bits: Int = 32): DataFrame =
    simhashLanes(docs, bits, 1)
      .select(col("doc_id"), col("sh0").as("simhash"))

  /** Per-token hash for signature lane `lane`: 60-bit slices of one md5
    * (lane 0 = hex chars 1–15 = [[TextOps.hash60]] exactly; lane 1 =
    * chars 16–30). Two lanes exhaust the md5; a third would need a
    * salted hash. */
  private def laneHash(c: Column, lane: Int): Column =
    conv(substring(md5(c), 1 + 15 * lane, 15), 16, 10).cast(LongType)

  /** Multi-lane simhash: one token explode + ONE aggregation carrying
    * lanes × bits sign-sums, emitting signature columns sh0..sh{L−1}
    * (each lane an int64, bit b of lane l = sign of Σ_tokens ±1 by bit
    * b of that lane's 60-bit token hash). Linear, one shuffle on
    * doc_id regardless of corpus size or lane count. */
  def simhashLanes(docs: DataFrame, bits: Int, lanes: Int): DataFrame = {
    require(bits >= 1 && bits <= 60, s"bits must be in [1, 60], got $bits")
    require(lanes >= 1 && lanes <= 2,
      s"lanes must be 1 or 2 (md5 yields two 60-bit lanes), got $lanes")
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id") +:
        (0 until lanes).map(l => laneHash(col("tok"), l).as(s"h$l")): _*)
    val bitSums = for { l <- 0 until lanes; b <- 0 until bits } yield
      sum(when(shiftright(col(s"h$l"), b) % 2 === 1, 1).otherwise(-1))
        .as(s"l${l}b$b")
    val sigs = (0 until lanes).map { l =>
      (0 until bits).map { b =>
        when(col(s"l${l}b$b") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"sh$l")
    }
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id") +: sigs: _*)
  }

  /** MinHash-LSH near-dup candidate pairs at the given max Jaccard
    * distance over word-shingle sets (seeded, deterministic).
    *
    * Tuning (VERDICT r8 task 5): 2 hash tables over a 2^16 feature space.
    * The hash-table count multiplies the LSH join's exploded bucket rows
    * and the feature width scales every signature evaluation; the planted
    * near-dups this detector exists for sit at Jaccard ≈ 0.95, where OR-2
    * amplification already recalls ≥ 1−(1−J)² ≈ 0.998 — the recall ≥ 0.9
    * gate in OutOfBandSpec stays the arbiter. The exactly-reproducible
    * deterministic variant (q_dedup_minhash_det) remains the oracle-gated
    * path; this MLlib form is the library-interop one. */
  def minhashPairs(docs: DataFrame, maxDist: Double = 0.6,
      numHashTables: Int = 2): DataFrame = {
    val shingled = docs.select(col("doc_id"),
      expr("""transform(sequence(1, greatest(size(split(text,' ')) - 2, 1)),
             |  i -> concat_ws(' ', slice(split(text,' '), i, 3)))""".stripMargin)
        .as("shingles"))
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 16).setBinary(true)
    // Fence the featurized frame: the LSH self-join consumes it as BOTH
    // sides (plus once more in fit), and without the fence each consumer
    // replays the full shingle-explode + 2^16-dim hashing over the corpus
    // — the actual dominant cost of this query, not the join itself.
    val feats = tf.transform(shingled).localCheckpoint()
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(feats)
    model.approxSimilarityJoin(feats, feats, maxDist, "dist")
      .select(col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"), round(col("dist"), 4).as("dist"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** Prime modulus for the deterministic-MinHash hash family (2^31 − 1).
    * Token hashes are reduced mod P before the affine map, so every
    * product a·h stays below 2^62 — exact int64 arithmetic in any engine. */
  val MinhashP: Long = 2147483647L

  /** Deterministic affine-hash coefficients (a_i, b_i) for the MinHash
    * family — fixed LCG-derived constants, identical in the oracle SQL.
    * No RNG object: reproducibility across engines and partitionings is
    * the point (MLlib's MinHashLSH is seeded but not SQL-expressible). */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] =
    (1 to k).map { i =>
      val a = (1103515245L * i + 12345L) % MinhashP
      val b = (69069L * i + 1013904223L) % MinhashP
      (if (a == 0L) 1L else a, b)
    }

  /** Deterministic k-permutation MinHash signature per doc over its
    * distinct 3-word-shingle hashes: m_i = min over shingles of
    * (a_i·h + b_i) mod P. Shingles, not raw tokens: a shared small
    * vocabulary makes token-set Jaccard high between UNRELATED docs
    * (measured: ≥0.5 estimated similarity for ~1/3 of all fixture pairs,
    * which collapses banding toward all-pairs), while 3-shingles key on
    * local word ORDER and stay discriminative. One explode + one groupBy
    * carrying k min-aggregates — a single shuffle on doc_id regardless
    * of corpus size. `maxShingles` caps the positions enumerated per doc
    * (pass the same cap to the oracle's generate_series). */
  def minhashSignature(docs: DataFrame, k: Int = 12,
      maxShingles: Int = Int.MaxValue): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(expr(
          s"""transform(
             |  sequence(1, least(greatest(size(split(text, ' ')) - 2, 1),
             |                    $maxShingles)),
             |  i -> concat_ws(' ', slice(split(text, ' '), i, 3)))"""
            .stripMargin)).as("sh"))
      .select(col("doc_id"),
        (TextOps.hash60(col("sh")) % MinhashP).as("h"))
      .distinct()
    val mins = minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % MinhashP).as(s"m$i")
    }
    toks.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Data-growing MinHash banding parameters (k, bandSize) for a corpus
    * of `n` docs: (12, 3) at the base — 4 bands × 3 rows — then +2 rows
    * per band and +1 band per decade past 100 k docs. Per-band collision
    * probability for a pair at Jaccard J is J^bandSize, so each added
    * row divides background-J candidate mass multiplicatively (J = 0.2
    * → ÷25 per decade) while the extra band holds planted-duplicate
    * recall up (J ≈ 0.95 → P[≥1 band] ≥ 0.99 through bandSize 7). The
    * oracle SQL computes the same (k, bandSize) from the same corpus
    * count, so both engines band identically at every scale; at oracle
    * fixture scales d = 0 reproduces the historic 12/3 exactly. */
  def minhashParamsFor(n: Long): (Int, Int) = {
    // d capped at 6 (10^11 docs → k = 150) so the oracle's constant
    // generate_series(1, 200) hash-family domain always covers k
    val d = math.min(6,
      math.max(0, math.ceil(math.log10(n / 100000.0)).toInt))
    val bandSize = 3 + 2 * d
    val nBands = 4 + d
    (nBands * bandSize, bandSize)
  }

  /** Deterministic MinHash near-dup pairs: band the k-hash signature into
    * k/bandSize bands, equi-join on (band index, band value) — candidates
    * are pairs agreeing on at least one full band — then estimate Jaccard
    * as the fraction of agreeing hashes. Subquadratic end to end (the
    * banded equi-join is the only pair generator) and, unlike the MLlib
    * path, exactly reproducible in ANSI SQL, so this variant sits under
    * the oracle gate. */
  def minhashDetPairs(docs: DataFrame, k: Int = 12, bandSize: Int = 3,
      minEst: Double = 0.5, maxShingles: Int = Int.MaxValue): DataFrame = {
    require(k % bandSize == 0, "bandSize must divide k")
    val nBands = k / bandSize
    val sig = minhashSignature(docs, k, maxShingles)
    val bandCols = (0 until nBands).map { bIdx =>
      struct(lit(bIdx).as("bidx"),
        concat_ws("_",
          (0 until bandSize).map(j => col(s"m${bIdx * bandSize + j}")): _*)
          .as("bval"))
    }
    val mCols = (0 until k).map(i => col(s"m$i"))
    val bands = sig.select(col("doc_id") +: mCols :+
        explode(array(bandCols: _*)).as("band"): _*)
      .select(col("doc_id") +: mCols :+
        col("band.bidx").as("bidx") :+ col("band.bval").as("bval"): _*)
    // The same pair surfacing from several bands carries an identical
    // signature-agreement vector, so distinct() after projecting the
    // per-hash equality flags collapses band duplicates exactly.
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bidx") === col("b.bidx") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a") +: col("b.doc_id").as("doc_b") +:
        (0 until k).map(i =>
          (col(s"a.m$i") === col(s"b.m$i")).cast(IntegerType).as(s"eq$i")): _*)
      .distinct()
    cand.select(col("doc_a"), col("doc_b"),
        round((0 until k).map(i => col(s"eq$i")).reduce(_ + _)
          .cast(DoubleType) / k, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** Character-5-gram shingles (positional substrings — expressible
    * identically in ANSI SQL via a sequence join). `maxPos` bounds the
    * scanned prefix; pass the same bound to the oracle's generate_series
    * so both engines enumerate identical positions for any doc length. */
  def charShingles(docs: DataFrame, k: Int = 5,
      maxPos: Int = Int.MaxValue): DataFrame =
    docs.select(col("doc_id"), col("text"),
      explode(sequence(lit(1),
        least(greatest(length(col("text")) - (k - 1), lit(1)),
          lit(maxPos)))).as("p"))
      .select(col("doc_id"), expr(s"substr(text, p, $k)").as("shingle"))
      .distinct()

  /** Benchmark decontamination: per train doc, how many distinct char
    * `k`-gram shingles it shares with the eval set (the standard
    * n-gram-overlap eval-leak check). `maxPos` caps the shingle positions
    * examined per document — the registered q_decontaminate pins 2000 as
    * its oracle determinism/cost bound, but the DEFAULT examines every
    * position, which is the correct production setting: a capped scan
    * misses contamination in the tail of documents longer than the cap
    * (LlmSpec pins both behaviours). Shuffles on the shingle key
    * (bounded by distinct k-grams); the join is shingle-bucketed, never
    * all-pairs. */
  def contamination(train: DataFrame, evalDocs: DataFrame, k: Int = 20,
      maxPos: Int = Int.MaxValue): DataFrame = {
    val ev = charShingles(evalDocs, k, maxPos).select("shingle").distinct()
    charShingles(train, k, maxPos)
      .join(ev, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Exact Jaccard over RARE shingles (global doc-frequency ≤ maxDf) for
    * pairs sharing at least one; near-dup pairs above the threshold. */
  def rareShingleJaccard(shingles: DataFrame, maxDf: Long = 10,
      minJaccard: Double = 0.3): DataFrame =
    rareShinglePairs(shingles, maxDf)
      .withColumn("jaccard", round(col("inter").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "inter", "jaccard")

  /** Containment (asymmetric Jaccard) over rare-shingle-blocked pairs:
    * C(A→B) = |A∩B| / |A| — the doc-INSIDE-doc detector symmetric Jaccard
    * misses (a 120-char excerpt of a 500-char doc has Jaccard ≈ 0.25 but
    * containment ≈ 1.0). Same blocked skeleton as [[rareShingleJaccard]]
    * (df-filtered shingles, candidate pairs share a rare shingle, never
    * all-pairs); reports both directions, filtered on the max. */
  def rareShingleContainment(shingles: DataFrame, maxDf: Long = 10,
      minCont: Double = 0.9): DataFrame =
    rareShinglePairs(shingles, maxDf)
      .withColumn("cont_a", round(col("inter").cast(DoubleType) / col("sz_a"), 4))
      .withColumn("cont_b", round(col("inter").cast(DoubleType) / col("sz_b"), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minCont)
      .select("doc_a", "doc_b", "inter", "cont_a", "cont_b")

  /** The rare-shingle blocking skeleton: every doc pair (doc_a < doc_b)
    * sharing a shingle of global doc-frequency ≤ maxDf, with its count of
    * shared rare shingles (`inter`) and each doc's rare-shingle count
    * (`sz_a`, `sz_b`). Candidates come from the rare shingles' self-join,
    * never all-pairs. */
  private def rareShinglePairs(shingles: DataFrame, maxDf: Long)
      : DataFrame = {
    // df via groupBy + semi-join, not count() OVER (PARTITION BY shingle):
    // the window form materializes a per-row count over every hot common
    // shingle's partition; the aggregate collapses each shingle to one row
    // before the join, so skewed shingles cost one partial-agg cell.
    val rareKeys = shingles.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("shingle")
    // rare feeds three consumers (sizes + both self-join sides) — fence
    // it so the upstream shingle explode and df join run once, not 3×
    val rare = shingles.join(rareKeys, "shingle")
      .select("doc_id", "shingle")
      .localCheckpoint()
    val sizes = rare.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = rare.as("a")
      .join(rare.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
  }

  /** Data-growing simhash detector parameters (lanes, bitsPerLane,
    * hammingThreshold, blocksPerLane) for a corpus of `n` docs.
    *
    * Base (≤ 100 k docs): the classic (1 lane, 32 bits, hamming ≤ 3,
    * 4 blocks) — bit-identical to every committed oracle at fixture
    * scales.
    *
    * Past 100 k docs a 32-bit signature SATURATES semantically, not
    * just computationally: measured on the 510 k-doc sf10 corpus, the
    * 32-bit/≤3 detector emits 196 M pairs at precision 3.9e-5 (the
    * shared Zipf vocabulary head biases every doc's bits the same way),
    * so the OUTPUT itself is quadratic and the detector is useless.
    * r13's single-lane 60-bit/≤6 step (Manku et al., WWW'07, used
    * 64-bit/≤3 for 8 B pages) measured recall 0.788 at sf10 but still
    * emitted ~29.6 M incidental pairs (precision 2.7e-4) — enough Zipf-
    * head mass to keep the cluster stage edge-bound at ~20×/decade. The
    * scale form is therefore a MULTI-WORD signature: 2 lanes × 60 bits
    * (both halves of one md5 — each lane stays one int64 for both
    * engines), total hamming threshold 12 over 120 bits. Doubling width
    * at the same relative threshold squares the background tail
    * (large-deviation rate doubles) while planted-pair recall RISES
    * (relative variance of the binomial shrinks: P[≤12 of 120] >
    * P[≤6 of 60] at the planted per-bit agreement ~0.92), so the pair
    * set collapses toward the planted truth. Banding stays per-lane:
    * a pair within total hamming ≤ 12 has ≤ 6 in SOME lane
    * (pigeonhole), and that lane's C(9,3) combination tables guarantee
    * it — candidates are the union of the two lanes' tables. Past
    * ~100 M docs the next rung is a third lane from a SALTED token hash
    * (md5 yields only two 60-bit lanes), not a parameter here. */
  def simhashParamsFor(n: Long): (Int, Int, Int, Int) = {
    val d = math.max(0, math.ceil(math.log10(n / 100000.0)).toInt)
    if (d == 0) (1, 32, 3, 4) else (2, 60, 12, 9)
  }

  /** Keep-masks of the C(B, keepBlocks) combination tables over an
    * `nBits`-wide signature (Manku et al., WWW'07 block-permutation
    * scheme, mask form): block i spans bits [nBits·i/B, nBits·(i+1)/B);
    * each table keys on `simhash & keep` where `keep` retains one
    * keepBlocks-element block subset. A pair within hamming ≤
    * (B − keepBlocks) differs in at most that many blocks, so some
    * retained subset avoids them all — candidates are a SUPERSET of
    * every pair within the guarantee for ANY valid (B, keepBlocks),
    * which is what makes the threshold-filtered result banding-invariant
    * (and lets the oracle SQL band differently at tiny scales). At
    * (32, 4, 1) the keep-masks are the four single-block masks — the
    * candidate set is exactly the classic 4×8-bit banding's. */
  def simhashKeepMasks(nBits: Int, nBlocks: Int,
      keepBlocks: Int): Seq[Long] = {
    require(keepBlocks >= 1 && keepBlocks <= nBlocks)
    val bm = (0 until nBlocks).map { i =>
      val o = nBits * i / nBlocks
      val w = nBits * (i + 1) / nBlocks - o
      ((1L << w) - 1) << o
    }
    (0 until (1 << nBlocks))
      .filter(m => java.lang.Integer.bitCount(m) == keepBlocks)
      .map(m => (0 until nBlocks)
        .filter(i => ((m >> i) & 1) == 1)
        .map(bm)
        .reduce(_ | _))
  }

  /** Simhash near-dup pairs with corpus-derived detector parameters
    * ([[simhashParamsFor]] from one corpus count — a production pipeline
    * takes it from catalog stats): per-lane combination-table banded
    * candidate join, exact popcount filter (summed across lanes) at the
    * derived threshold. Subquadratic in candidates AND near-linear in
    * OUTPUT per decade (the widened multi-lane signature is what keeps
    * the pair set itself from going quadratic — see simhashParamsFor).
    * Pass `maxHamming` > 0 to override the reported filter (threshold
    * sweeps; bins above the per-lane banding guarantee × lanes count
    * banded collisions only). Pass `nDocs` ≥ 0 to supply the corpus
    * count (callers that know it from catalog stats / a shared memo —
    * otherwise every invocation pays a full count scan to derive the
    * detector). */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 0,
      nDocs: Long = -1L): DataFrame = {
    val n = if (nDocs >= 0L) nDocs else docs.count()
    val (lanes, bits, thr, blocks) = simhashParamsFor(n)
    simhashNearDupsWith(docs, bits,
      if (maxHamming > 0) maxHamming else thr, blocks,
      blocks - thr / lanes, lanes)
  }

  /** Explicit-parameter form of [[simhashNearDups]] (tests, sweeps).
    * The banding guarantee is per lane: every pair with hamming ≤
    * (nBlocks − keepBlocks) IN SOME LANE is a candidate; by pigeonhole
    * a pair within total hamming ≤ lanes·(nBlocks − keepBlocks) always
    * has such a lane, so the threshold-filtered result at thr ≤
    * lanes·(nBlocks − keepBlocks) is banding-invariant. */
  def simhashNearDupsWith(docs: DataFrame, bits: Int, maxHamming: Int,
      nBlocks: Int, keepBlocks: Int, lanes: Int = 1): DataFrame =
    simhashNearDupsFromSigs(simhashLanes(docs, bits, lanes), bits,
      maxHamming, nBlocks, keepBlocks, lanes)

  /** Banded candidate join + exact popcount filter over a PRECOMPUTED
    * signature frame (`simhashLanes` output: doc_id, sh0[, sh1]) —
    * callers that evaluate several cutoffs over one corpus compute the
    * signatures once (the full-corpus token explode + sign aggregation)
    * and run only this join per cutoff. Identical rows to
    * [[simhashNearDupsWith]] by construction (the signature frame is
    * deterministic and this IS its tail). */
  def simhashNearDupsFromSigs(sigs: DataFrame, bits: Int, maxHamming: Int,
      nBlocks: Int, keepBlocks: Int, lanes: Int = 1): DataFrame = {
    val keeps = simhashKeepMasks(bits, nBlocks, keepBlocks)
    val sigCols = (0 until lanes).map(l => col(s"sh$l"))
    // band key = (lane, keep-mask, masked signature): masks are pairwise
    // distinct, so (lane, mask) identifies the table with no ordinal
    // bookkeeping
    val laneKeeps = for { l <- 0 until lanes; k <- keeps } yield
      struct(lit(l).as("lane"), lit(k).as("keep"))
    val bval = (0 until lanes).map { l =>
      when(col("lk.lane") === l, col(s"sh$l").bitwiseAND(col("lk.keep")))
    }.reduce(coalesce(_, _))
    val bands = sigs
      .select(col("doc_id") +: sigCols :+
        explode(array(laneKeeps: _*)).as("lk"): _*)
      .select(col("doc_id") +: sigCols :+ col("lk.lane").as("lane") :+
        col("lk.keep").as("keep") :+ bval.as("bval"): _*)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.lane") === col("b.lane") && col("a.keep") === col("b.keep") &&
          col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a") +: col("b.doc_id").as("doc_b") +:
        ((0 until lanes).map(l => col(s"a.sh$l").as(s"sa$l")) ++
         (0 until lanes).map(l => col(s"b.sh$l").as(s"sb$l"))): _*)
      .distinct()
    val hamming = (0 until lanes).map { l =>
      bit_count(col(s"sa$l").bitwiseXOR(col(s"sb$l")))
    }.reduce(_ + _).cast(IntegerType)
    cand.withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Near-dup pairs → clusters via GraphX connected components (cluster id
    * = min doc id in the component). The one genuinely graph-shaped step
    * in the pipeline — RDD-based by necessity (GraphX), everything before
    * and after stays DataFrame. */
  def nearDupClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .select(col("doc_a").cast(LongType), col("doc_b").cast(LongType))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val graph = org.apache.spark.graphx.Graph.fromEdgeTuples(edges, 0)
    import spark.implicits._
    graph.connectedComponents().vertices
      .toDF("doc_id", "cluster_id")
  }

  /** Final dedup semantics: keep the min doc per near-dup cluster plus
    * every unclustered doc. */
  def survivors(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val keepers = clusters.groupBy("cluster_id")
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val clustered = clusters.select("doc_id")
    docs.join(clustered, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .unionByName(keepers)
  }

  /** 8-bit sign-LSH bucket over the first 8 embedding dims. */
  def signBucket(e: Column): Column =
    (0 until 8).map { i =>
      when(element_at(e, i + 1) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Seeded random-hyperplane directions: `bits` Gaussian vectors over all
    * `dims` dimensions (deterministic per seed; driver-side constant of
    * bits×dims doubles — broadcast as literals). */
  def hyperplanes(dims: Int, bits: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dims)(rnd.nextGaussian().toFloat))
  }

  /** Sign-LSH bucket from explicit hyperplanes: bit b = sign of ⟨e, h_b⟩.
    * Unlike the fixed 8-bit `signBucket` (kept for the oracle queries),
    * bucket space scales with `bits`: choose bits ≈ log2(N / B) for a
    * target within-bucket population B — e.g. N = 10⁹ vectors and B ≈ 2¹⁰
    * → 20 bits; the within-bucket self-join then stays ~N·B instead of
    * the N²/2⁸ ceiling of the fixed scheme. */
  def hyperplaneBucket(e: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(VectorFunctions.dot(e, typedLit(p.toSeq)) > 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Scalable embedding near-dup pairs: L independent hyperplane tables of
    * `bits` bits each (candidate recall 1−(1−p^bits)^tables for per-bit
    * agreement p = 1−θ/π), exact cosine on the deduped candidate set.
    * Everything is bucket-joined — no all-pairs stage at any N. */
  def hyperplaneNearDups(embs: DataFrame, dims: Int, bits: Int = 16,
      tables: Int = 4, seed: Long = 42L, minCos: Double = 0.9): DataFrame = {
    val tagged = (0 until tables).map { tbl =>
      val planes = hyperplanes(dims, bits, seed + tbl)
      embs.select(col("vec_id"),
        lit(tbl).as("tbl"),
        hyperplaneBucket(col("embedding"), planes).as("bucket"))
    }.reduce(_ unionByName _)
    val cand = tagged.as("a").join(tagged.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val ea = embs.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val eb = embs.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        VectorFunctions.cosine4(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Embedding-cosine near-dup pairs within sign-LSH buckets — linear in
    * bucket sizes instead of a quadratic cross join. */
  def embeddingNearDups(embs: DataFrame, minCos: Double = 0.9): DataFrame = {
    val b = embs.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding")).as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        VectorFunctions.cosine4(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
