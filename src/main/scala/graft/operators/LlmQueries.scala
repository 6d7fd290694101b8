package graft.operators

import graft.Q
import graft.Dsl._
import graft.functions.VectorFunctions
import graft.llm.{Bpe, Clustering, Dedup, Multimodal, ShingleStore, SimSearch, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.K + training-data-pipeline extensions: dedup (exact / simhash /
  * minhash / n-gram / embedding), similarity search (exact + IVF-bucketed),
  * text analysis (lang-ID, quality, tokens, fingerprint), multimodal
  * columns. The fixtures contain no near-duplicates, so the near-dup
  * queries append deterministic mutated copies (doc_id+1e6) to have a
  * non-vacuous answer — same construction in the oracle SQL.
  */
object LlmQueries {

  /** Memoized count of the planted-copy slice (doc_id % 50 = 0) per
    * (session, sfDir). The six simhash near-dup queries all derive
    * their detector from the SAME augmented-corpus cardinality
    * |documents| + |planted|; deriving it here from Tables.countCached
    * plus this one extra filtered count means one scan per session
    * instead of a full corpus count per query invocation (ADVICE r13).
    * Exactness matters: the oracle computes its detector from the
    * exact augmented count, so an approximation could band differently
    * at a decade boundary. */
  private val plantedCounts =
    graft.SharedBuild[(SparkSession, String), Long]()()

  private def augDocCount(s: SparkSession, d: String): Long =
    graft.Tables.countCached(s, d, "documents") +
      plantedCounts((s, d))(
        t(s, d, "documents").filter(col("doc_id") % 50 === 0).count())

  /** Shared banded-simhash candidate store (optimization r15, guide §2.4
    * "two operations keyed the same way share one exchange"): six
    * oracle-checked near-dup queries — q_dedup_simhash_pairs,
    * q_dedup_detector_overlap, q_dedup_clusters_det,
    * q_dedup_rate_by_source, q_near_dup_eval, q_dedup_threshold_sweep —
    * build the IDENTICAL augmented corpus (documents ∪ planted truncated
    * copies at doc_id+1e6) and each privately re-ran the identical
    * signature pass (token explode + lanes×bits sign aggregation over
    * the whole corpus) plus the banded candidate self-join. r15.2 split:
    * ONE signature memo serves all six, and ONE pair frame materialized
    * at the DETECTOR threshold serves the five pair-consumers; the sweep
    * aggregates its own ≤ gridMax stream from the shared signatures
    * without materializing it (the first r15 cut checkpointed the
    * gridMax superset — measured 24×/decade at sf1, because the loose
    * bins are banded-collision mass only the sweep's histogram ever
    * reads). Banding is cutoff-INDEPENDENT (keep-masks derive from the
    * reported thr alone — see Dedup.simhashNearDups), so both frames are
    * row-identical to the private calls they replace (SharedStoreSpec).
    * localCheckpoint-backed per (session, sfDir), each memo owning its
    * own checkpoint; billed as the bench's `warm:simhash_cand` line. */
  private[graft] val simhashCandFrames =
    graft.SharedBuild[(SparkSession, String), DataFrame]()(
      graft.SharedBuild.frames(_))

  /** Shared signature frame (doc_id, sh0[, sh1]; one row per augmented
    * doc): the full-corpus token explode + sign aggregation that BOTH the
    * thr-pair store and the sweep's gridMax histogram consume — computed
    * once, checkpointed (dictionary-sized at any scale). Billed as the
    * bench's `warm:simhash_sigs` line. */
  private[graft] val simhashSigFrames =
    graft.SharedBuild[(SparkSession, String), DataFrame]()(
      graft.SharedBuild.frames(_))

  def warmSimhashCands(s: SparkSession, d: String): Unit = {
    simhashCands(s, d); ()
  }

  /** The planted near-dup corpus (doc_id, text): the documents plus, for
    * every 50th document, a copy at doc_id + 10⁶ without its first 10
    * characters. The simhash store and every near-dup query that plants
    * these copies read it. Oracle twin: [[ngramDocs2]]. */
  private[graft] def simhashAugDocs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    docs.select("doc_id", "text").unionByName(
      docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substr(text, 11)").as("text")))
  }

  /** DuckDB twin of [[simhashAugDocs]]: the docs2 CTE. */
  private val ngramDocs2 =
    """docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, substr(text, 11) AS text
      |  FROM documents WHERE doc_id % 50 = 0)""".stripMargin

  /** (reported detector threshold, sweep grid max) for the corpus. */
  private def simhashThrGrid(s: SparkSession, d: String): (Int, Int) = {
    val (_, _, thr, _) = Dedup.simhashParamsFor(augDocCount(s, d))
    (thr, math.max(8, thr + 2))
  }

  /** The checkpointed signature frame for the augmented corpus. */
  private[graft] def simhashSigs(s: SparkSession, d: String): DataFrame =
    simhashSigFrames((s, d)) {
      val (lanes, bits, _, _) = Dedup.simhashParamsFor(augDocCount(s, d))
      Dedup.simhashLanes(simhashAugDocs(s, d), bits, lanes).localCheckpoint()
    }

  /** (doc_a, doc_b, hamming ≤ thr) — the store frame, materialized at the
    * DETECTOR threshold (the set the five pair-consumers read; near-dup
    * output, linear-ish per decade). The sweep's gridMax superset is NOT
    * materialized — its histogram aggregates the banded-join stream
    * directly (r15.2: checkpointing the ≤ gridMax superset was measured
    * at sf1 as 24×/decade — the loose bins are banded-collision mass that
    * only ever feeds one aggregation). Row-identical to
    * `Dedup.simhashNearDups(simhashAugDocs(s, d))` (same signatures, same
    * banding, same filter; SharedStoreSpec pins the equality). */
  private[graft] def simhashCands(s: SparkSession, d: String): DataFrame =
    simhashCandFrames((s, d)) {
      val (lanes, bits, thr, blocks) = Dedup.simhashParamsFor(augDocCount(s, d))
      Dedup.simhashNearDupsFromSigs(simhashSigs(s, d), bits,
        thr, blocks, blocks - thr / lanes, lanes).localCheckpoint()
    }

  val qDedupExact = Q(
    "q_dedup_exact",
    """SELECT n_docs, n_unique, keeper_sum FROM
      |  (SELECT count(*) AS n_unique, CAST(sum(keeper) AS BIGINT) AS keeper_sum FROM
      |    (SELECT md5(text) AS h, min(doc_id) AS keeper FROM documents
      |     GROUP BY 1) g) a,
      |  (SELECT count(*) AS n_docs FROM documents) b""".stripMargin) { (s, d) =>
    Dedup.exactSummary(t(s, d, "documents"))
  }

  private val simhashBitsSql = (0 until 32)
    .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
    .mkString(",\n    ")
  private val simhashSumSql = (0 until 32)
    .map(b => s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)")
    .mkString(" + ")

  /** Count-parameterized simhash detector mirror (SQL side of
    * `Dedup.simhashParamsFor`): lane count, per-lane signature width,
    * total hamming threshold and per-lane block count derived from the
    * SAME corpus count as the engine, so both compute the identical
    * detector at every scale (1 lane × 32 bits / ≤3 / 4 blocks at
    * fixture scales — bit-identical to the historic oracles; 2 lanes ×
    * 60 bits / ≤12 / 9 blocks past 100 k docs, where narrower
    * signatures saturate on the Zipf vocabulary head). The lane-0 bit
    * sums are always computed 60 wide with terms past bit 31 gated on
    * nbits (so the d = 0 signature is exactly the historic 32-bit one);
    * the lane-1 signature is gated whole on lanes = 2. */
  private val simhashParCte =
    """par AS (
      |  SELECT CASE WHEN dd = 0 THEN 1 ELSE 2 END AS lanes,
      |    CASE WHEN dd = 0 THEN 32 ELSE 60 END AS nbits,
      |    CASE WHEN dd = 0 THEN 3 ELSE 12 END AS thr,
      |    CASE WHEN dd = 0 THEN 4 ELSE 9 END AS nblocks
      |  FROM (SELECT greatest(0, CAST(ceil(log10(count(*) / 100000.0))
      |                             AS INT)) AS dd FROM docs2))""".stripMargin
  private val simhashBitsSql60 = (0 until 60)
    .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
    .mkString(",\n    ")
  private val simhashSumSql60 = (0 until 60).map { b =>
    val t = s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)"
    if (b < 32) t else s"(CASE WHEN nbits > $b THEN $t ELSE 0 END)"
  }.mkString("\n    + ")
  private val simhashBitsSql60L1 = (0 until 60)
    .map(b => s"SUM(CASE WHEN (h1 >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS c$b")
    .mkString(",\n    ")
  private val simhashSumSql60L1 = (0 until 60)
    .map(b => s"(CASE WHEN c$b > 0 THEN ${1L << b} ELSE 0 END)")
    .mkString("\n    + ")

  /** Shared signature CTEs (toks → bits → sigs) for every
    * count-parameterized simhash oracle: per-token 60-bit lane hashes
    * from the two halves of one md5 (lane 0 = hex chars 1–15 — the
    * engine's TextOps.hash60 — lane 1 = chars 16–30), one grouped
    * aggregation carrying both lanes' sign-sums, and the two int64
    * signatures (simhash, simhash1; lane 1 is 0 when lanes = 1, so
    * its xor contributes 0 hamming). */
  private val simhashSigCtes =
    s"""toks AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h,
       |    CAST(concat('0x', substr(md5(tok), 16, 15)) AS BIGINT) AS h1
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM docs2) u),
       |bits AS (
       |  SELECT doc_id,
       |    $simhashBitsSql60,
       |    $simhashBitsSql60L1
       |  FROM toks GROUP BY doc_id),
       |sigs AS (
       |  SELECT doc_id, CAST($simhashSumSql60 AS BIGINT) AS simhash,
       |    CAST(CASE WHEN lanes = 2 THEN $simhashSumSql60L1
       |         ELSE 0 END AS BIGINT) AS simhash1
       |  FROM bits, par)""".stripMargin

  /** Total hamming distance between two (simhash, simhash1) signature
    * pairs — lane 1 is all-zero at lanes = 1, contributing 0. */
  private def simhashHamSql(a: String, b: String): String =
    s"(bit_count(xor($a.simhash, $b.simhash))" +
      s" + bit_count(xor($a.simhash1, $b.simhash1)))"

  /** Per-lane single-block banding for the threshold-FILTERED oracles:
    * a pair within total hamming <= thr has hamming <= thr / lanes in
    * SOME lane (pigeonhole), and thr / lanes <= nblocks - 1, so that
    * lane's bands surface it — candidates are a superset of the result
    * for every scale; the engine's per-lane combination tables and this
    * simpler banding may differ in CANDIDATES but provably not in the
    * filtered result. At d = 0 (1 lane, 32/4) this is exactly the
    * historic (simhash >> 8b) & 255. */
  private val simhashBandsCte =
    """bands AS (
      |  SELECT doc_id, simhash, simhash1, l * 16 + b AS bidx,
      |    ((CASE WHEN l = 0 THEN simhash ELSE simhash1 END)
      |       >> ((nbits * b) // nblocks)) &
      |      ((CAST(1 AS BIGINT) << ((nbits * (b + 1)) // nblocks
      |         - (nbits * b) // nblocks)) - 1) AS bval
      |  FROM sigs, generate_series(0, 8) t(b), generate_series(0, 1) tl(l),
      |    par
      |  WHERE b < nblocks AND l < lanes)""".stripMargin

  /** Every banded simhash candidate pair `cand` (doc_a < doc_b, with
    * both lanes' signatures) over the planted corpus, for the oracles
    * of q_dedup_simhash_pairs and q_dedup_rate_by_source. */
  private val simhashCandCtes =
    s"""$ngramDocs2,
       |$simhashParCte,
       |$simhashSigCtes,
       |$simhashBandsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
       |    a.simhash1 AS sa1,
       |    b.doc_id AS doc_b, b.simhash AS sb, b.simhash1 AS sb1
       |  FROM bands a JOIN bands b
       |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id)""".stripMargin

  val qDedupSimhash = Q(
    "q_dedup_simhash",
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents) u),
       |bits AS (
       |  SELECT doc_id,
       |    $simhashBitsSql
       |  FROM toks GROUP BY doc_id)
       |SELECT doc_id, CAST($simhashSumSql AS BIGINT) AS simhash
       |FROM bits ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    Dedup.simhash(t(s, d, "documents"))
      .orderBy("doc_id").limit(200)
  }

  /** Containment dedup (asymmetric Jaccard) over docs ∪ planted TRUNCATED
    * copies (120-char prefixes): C(A→B) = |A∩B|/|A| on rare-shingle-
    * blocked candidate pairs — catches excerpt-inside-document duplication
    * that symmetric Jaccard scores far below any dedup threshold. Same
    * subquadratic blocking as q_dedup_ngram; the planted direction
    * (copy ⊂ original) must surface with containment ≈ 1. */
  val qDedupContainment = Q(
    "q_dedup_containment",
    s"""WITH docsc AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, substr(text, 1, 120) AS text
      |  FROM documents WHERE doc_id % 40 = 0),
      |sh AS (
      |  ${ShingleStore.distinctSql("docsc", 5, 2000)}),
      |rarekeys AS (
      |  SELECT shingle FROM (
      |    SELECT shingle, count(*) AS df FROM sh GROUP BY shingle) z
      |  WHERE df <= 10),
      |rare AS (
      |  SELECT doc_id, sh.shingle FROM sh
      |  JOIN rarekeys ON sh.shingle = rarekeys.shingle),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY 1),
      |ints AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_int
      |  FROM rare a JOIN rare b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_int AS inter, cont_a, cont_b FROM (
      |  SELECT doc_a, doc_b, n_int,
      |    ROUND(CAST(n_int AS DOUBLE) / sa.sz, 4) AS cont_a,
      |    ROUND(CAST(n_int AS DOUBLE) / sb.sz, 4) AS cont_b
      |  FROM ints
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id) c
      |WHERE greatest(cont_a, cont_b) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val planted = docs.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        expr("substr(text, 1, 120)").as("text"))
    // raw-corpus shingles come from the shared k=5 memo (ShingleStore);
    // only the ~2.5% planted slice pays its own explode — the augmented
    // frame is IDENTICAL to charShingles(docs ∪ planted) because the
    // doc_id ranges are disjoint and both sides are per-doc distinct
    val shingles = ShingleStore.distinct(s, d, 5, 2000)
      .unionByName(Dedup.charShingles(planted, maxPos = 2000))
    Dedup.rareShingleContainment(shingles)
      .orderBy("doc_a", "doc_b")
  }

  /** Simhash LSH pairs over docs ∪ planted copies: banded candidates +
    * exact hamming filter — the linear-ish simhash dedup path
    * end-to-end. The DETECTOR grows with the corpus
    * (Dedup.simhashParamsFor, mirrored in simhashParCte: 1 lane ×
    * 32-bit/≤3 at fixture scales bit-identically, 2 lanes × 60-bit/≤12
    * past 100 k docs — r12's fixed 32/≤3 form was not just slow at
    * sf10, it was SATURATED: 196 M pairs at precision 4e-5, and r13's
    * single-lane 60/≤6 still carried ~29.6 M incidental pairs). The
    * threshold-filtered RESULT is banding-invariant (per-lane
    * pigeonhole superset + exact filter), so the engine's per-lane
    * combination tables and the oracle's per-lane single-block bands
    * may differ in candidates yet provably agree on the answer. */
  val qDedupSimhashPairs = Q(
    "q_dedup_simhash_pairs",
    s"""WITH $simhashCandCtes
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sa, sb)) + bit_count(xor(sa1, sb1)) AS INT)
       |    AS hamming
       |FROM cand
       |WHERE bit_count(xor(sa, sb)) + bit_count(xor(sa1, sb1))
       |  <= (SELECT thr FROM par)
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // r15: reads the shared candidate store (same corpus, same detector,
    // row-identical by filter composition — see simhashCandCache).
    simhashCands(s, d).orderBy("doc_a", "doc_b")
  }

  /** Combination-table keep-mask CTEs (the SQL mirror of
    * `Dedup.simhashKeepMasks` over the `par`-derived detector): per-block
    * masks from integer bit arithmetic, keep-masks enumerated as the
    * (nblocks − thr/lanes)-element block subsets via popcount-filtered
    * bitmask integers (the per-LANE tables — each lane bands its own
    * signature with the same mask set). Spliced only into the oracle
    * whose OUTPUT depends on which candidates the banding surfaces (the
    * threshold sweep's bins above thr); the threshold-FILTERED queries
    * are banding-invariant by pigeonhole and use `simhashBandsCte`. */
  private val simhashMaskCtes =
    """blk AS (
      |  SELECT i,
      |    ((CAST(1 AS BIGINT) << ((nbits * (i + 1)) // nblocks
      |       - (nbits * i) // nblocks)) - 1)
      |      << ((nbits * i) // nblocks) AS m
      |  FROM par, generate_series(0, 8) t(i) WHERE i < nblocks),
      |masks AS (
      |  SELECT s.m AS mid,
      |    CAST(sum(CASE WHEN (s.m >> b.i) % 2 = 1 THEN b.m ELSE 0 END)
      |      AS BIGINT) AS keep
      |  FROM generate_series(0, 511) s(m), blk b, par
      |  WHERE s.m < (1 << nblocks)
      |    AND bit_count(CAST(s.m AS BIGINT)) = nblocks - thr // lanes
      |  GROUP BY s.m)""".stripMargin

  /** Deterministic MinHash near-dup pairs under the oracle gate: the
    * affine-hash family (fixed constants mod 2^31−1) over 3-word-shingle
    * hashes is exact int64 arithmetic both engines compute identically,
    * so — unlike the seeded MLlib variant below — banding, candidate
    * generation and the Jaccard estimate all hash-match DuckDB. The
    * banding GROWS with the corpus (r12 sf10 finding: fixed 12-hash /
    * 4×3 banding is candidate-quadratic — 23×/decade): both engines
    * derive (k, bandSize) = `Dedup.minhashParamsFor(count)` from the
    * SAME corpus count — the oracle computes the hash family, bands and
    * agreement in LONG form from a generate_series over its own
    * count-derived k, so they band identically at every scale, and at
    * fixture scales d = 0 reproduces the historic 12/3 bit-exactly.
    * Shingle positions capped at 2000 per doc as the oracle
    * determinism/cost bound (the library default is uncapped — see
    * Dedup.minhashSignature). */
  val qDedupMinhashDet = Q(
    "q_dedup_minhash_det",
    s"""WITH $ngramDocs2,
       |pp AS (
       |  SELECT CAST(3 + 2 * dd AS INT) AS bs,
       |    CAST((4 + dd) * (3 + 2 * dd) AS INT) AS k
       |  FROM (SELECT least(6, greatest(0,
       |                  CAST(ceil(log10(count(*) / 100000.0)) AS INT)))
       |          AS dd FROM docs2)),
       |toks AS (
       |  SELECT DISTINCT doc_id,
       |    (CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT)
       |       % 2147483647) AS h
       |  FROM (
       |    SELECT doc_id,
       |      array_to_string(
       |        list_slice(string_split(text, ' '), s, s + 2), ' ') AS sh
       |    FROM docs2, generate_series(1, 2000) t(s)
       |    WHERE s <= greatest(len(string_split(text, ' ')) - 2, 1)) u),
       |hf AS (
       |  SELECT i,
       |    CASE WHEN (1103515245 * i + 12345) % 2147483647 = 0 THEN 1
       |         ELSE (1103515245 * i + 12345) % 2147483647 END AS a,
       |    (69069 * i + 1013904223) % 2147483647 AS b
       |  FROM generate_series(1, 200) t(i)
       |  WHERE i <= (SELECT k FROM pp)),
       |sigs AS (
       |  SELECT doc_id, i, min((a * h + b) % 2147483647) AS m
       |  FROM toks, hf GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, (i - 1) // bs AS bidx,
       |    string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS bval
       |  FROM sigs, pp GROUP BY doc_id, bidx),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id),
       |agree AS (
       |  SELECT c.doc_a, c.doc_b,
       |    sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS neq
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(neq / CAST(k AS DOUBLE), 4) AS est_jaccard
       |FROM agree, pp WHERE 2 * neq >= k
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val withDups = simhashAugDocs(s, d)
    val (k, bandSize) = Dedup.minhashParamsFor(withDups.count())
    Dedup.minhashDetPairs(withDups, k, bandSize, maxShingles = 2000)
      .orderBy("doc_a", "doc_b")
  }

  val qDedupMinhash = Q.noOracle("q_dedup_minhash") { (s, d) =>
    val withDups = simhashAugDocs(s, d)
    Dedup.minhashPairs(withDups)
      .orderBy("doc_a", "doc_b")
      .limit(500)
  }

  val qDedupNgram = Q(
    "q_dedup_ngram",
    s"""WITH $ngramDocs2,
       |sh AS (
       |  ${ShingleStore.distinctSql("docs2", 5, 2000)}),
       |rare AS (
       |  SELECT doc_id, shingle FROM
       |    (SELECT doc_id, shingle,
       |       count(*) OVER (PARTITION BY shingle) AS df FROM sh) z
       |  WHERE df <= 10),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY 1),
       |ints AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_int
       |  FROM rare a JOIN rare b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_int AS inter, jaccard FROM (
       |  SELECT doc_a, doc_b, n_int,
       |    ROUND(CAST(n_int AS DOUBLE) / (sa.sz + sb.sz - n_int), 4) AS jaccard
       |  FROM ints
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id) j
       |WHERE jaccard >= 0.3
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        expr("substr(text, 11)").as("text"))
    // maxPos 2000 mirrors the oracle's generate_series(1, 2000) bound;
    // raw-corpus shingles from the shared k=5 memo, planted slice only
    // pays its own explode (disjoint doc_ids ⇒ identical frame)
    val shingles = ShingleStore.distinct(s, d, 5, 2000)
      .unionByName(Dedup.charShingles(planted, maxPos = 2000))
    Dedup.rareShingleJaccard(shingles)
      .orderBy("doc_a", "doc_b")
  }

  private val bucketSql = (0 until 8)
    .map(i => s"(CASE WHEN CAST(embedding[${i + 1}] AS DOUBLE) > 0 " +
      s"THEN ${1 << i} ELSE 0 END)")
    .mkString(" + ")

  val qDedupEmbed = Q(
    "q_dedup_embed",
    s"""WITH embs2 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1) AS embedding
       |  FROM embeddings WHERE vec_id % 50 = 0),
       |b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embs2)
       |SELECT vec_a, vec_b, cos FROM (
       |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
       |    ${VectorFunctions.cosine4Sql("a.embedding", "b2.embedding")}
       |      AS cos
       |  FROM b a JOIN b b2
       |    ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id) p
       |WHERE cos >= 0.9 ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    val embs = t(s, d, "embeddings")
    val asDouble = transform(col("embedding"),
      x => x.cast(DoubleType)).as("embedding")
    val withDups = embs.select(col("vec_id"), asDouble).unionByName(
      embs.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x.cast(DoubleType) * 1.1)
            .as("embedding")))
    Dedup.embeddingNearDups(withDups)
      .select(col("vec_a"), col("vec_b"), col("cos"))
      .orderBy("vec_a", "vec_b")
  }

  val qSimSearch = Q(
    "q_sim_search",
    s"""SELECT vec_id, score FROM (
      |  SELECT e.vec_id,
      |    ${VectorFunctions.cosine4Sql("CAST(e.embedding AS DOUBLE[])", "p.pe")} AS score
      |  FROM embeddings e,
      |    (SELECT CAST(embedding AS DOUBLE[]) AS pe FROM embeddings
      |     WHERE vec_id = 0) p
      |  WHERE e.vec_id <> 0) q
      |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    SimSearch.cosineTopK(t(s, d, "embeddings"), 0L, 10)
  }

  val qSimSearchIvf = Q(
    "q_sim_search_ivf",
    s"""WITH b AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding,
       |    $bucketSql AS bucket
       |  FROM embeddings)
       |SELECT vec_id, score FROM (
       |  SELECT e.vec_id,
       |    ${VectorFunctions.cosine4Sql("e.embedding", "p.embedding")}
       |      AS score
       |  FROM b e JOIN (SELECT * FROM b WHERE vec_id = 0) p
       |    ON e.bucket = p.bucket
       |  WHERE e.vec_id <> 0) q
       |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin) { (s, d) =>
    SimSearch.bucketedTopK(t(s, d, "embeddings"), 0L, 5)
  }

  /** ANN index-quality audit: recall@10 of the sign-LSH bucketed search
    * (the q_sim_search_ivf index) against the exact cosine top-10, over
    * a bounded probe panel (every 100th vector), WITH the cost column —
    * the mean fraction of the corpus the bucket restriction actually
    * scans. The recall/cost readout that decides nProbe/bits before a
    * billion-vector rollout, as an oracle-checked query rather than an
    * out-of-band recall pin. ONE corpus×panel broadcast scoring pass
    * (the q_map_at_k harness shape): both rankings come from two
    * row_number windows over the same scored frame (overall, and
    * in-bucket), so the IVF path is never re-scored; bucket sizes are a
    * bounded (≤256-row) aggregate; the recall and scan-fraction means
    * are exact integer sums with final divisions. */
  val qAnnRecall = Q(
    "q_ann_recall",
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    $bucketSql AS bucket
       |  FROM embeddings),
       |p AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM e
       |  WHERE vec_id % 100 = 0),
       |pr AS (
       |  SELECT p.qid, e.vec_id,
       |    CASE WHEN e.bucket = p.qb THEN 1 ELSE 0 END AS inb,
       |    ${VectorFunctions.cosine4Sql("e.v", "p.qv")} AS score
       |  FROM e JOIN p ON e.vec_id <> p.qid),
       |rk AS (
       |  SELECT qid, inb,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, vec_id) AS rka,
       |    row_number() OVER (PARTITION BY qid, inb
       |      ORDER BY score DESC, vec_id) AS rkb
       |  FROM pr),
       |perq AS (
       |  SELECT qid, sum(CASE WHEN rka <= 10 AND inb = 1 AND rkb <= 10
       |    THEN 1 ELSE 0 END) AS m
       |  FROM rk GROUP BY 1),
       |bs AS (SELECT bucket, count(*) AS c FROM e GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM e),
       |pq AS (
       |  SELECT p.qid, perq.m, bs.c FROM p
       |  JOIN perq USING (qid) JOIN bs ON p.qb = bs.bucket)
       |SELECT count(*) AS n_queries,
       |  ROUND(CAST(sum(m) AS DOUBLE) / count(*) / 10, 6) AS recall_at_10,
       |  ROUND(CAST(sum(((c - 1) * 1000000000) // (n - 1)) AS DOUBLE)
       |    / count(*) / 1000000000, 6) AS scan_frac
       |FROM pq CROSS JOIN nn""".stripMargin) { (s, d) =>
    val e = t(s, d, "embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      Dedup.signBucket(col("embedding")).as("bucket"))
    val p = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("bucket").as("qb"))
    val pr = e.join(broadcast(p), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        when(col("bucket") === col("qb"), 1).otherwise(0).as("inb"),
        VectorFunctions.cosine4(col("v"),
          col("qv")).as("score"))
    val wa = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("score").desc, col("vec_id"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("qid", "inb").orderBy(col("score").desc, col("vec_id"))
    val perq = pr.withColumn("rka", row_number().over(wa))
      .withColumn("rkb", row_number().over(wb))
      .groupBy("qid")
      .agg(sum(when(col("rka") <= 10 && col("inb") === 1
        && col("rkb") <= 10, 1L).otherwise(0L)).as("m"))
    val bs = e.groupBy("bucket").agg(count(lit(1)).as("c"))
    val nn = e.agg(count(lit(1)).as("n"))
    p.select("qid", "qb").join(perq, "qid")
      .join(broadcast(bs), col("qb") === col("bucket"))
      .crossJoin(broadcast(nn))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("m")).cast(DoubleType) / count(lit(1)) / 10, 6)
          .as("recall_at_10"),
        round(sum(expr("((c - 1) * 1000000000) DIV (n - 1)"))
          .cast(DoubleType) / count(lit(1)) / 1000000000L, 6)
          .as("scan_frac"))
  }

  /** Dedup detector-overlap audit: pairwise Jaccard between the
    * removable-document sets of three registered detectors — prefix-64
    * hash, trailing-shingle (suffix-16) hash, and SimHash hamming ≤ 3 —
    * on the planted-variant corpus (docs ∪ head-shifted copies, whose
    * TAILS survive, so suffix and SimHash overlap while prefix sees a
    * disjoint population). The pipeline-design readout: which detector's
    * removals are subsumed by a cheaper one, and which contribute
    * uniquely. Prefix/suffix are one hash-keyed window each; SimHash
    * reuses the banded candidate path; the three sets union into one
    * fenced frame whose doc_id-keyed self-join and fixed 3-row count
    * panel (zero-removal detectors keep their row) are the only further
    * work. */
  val qDedupDetectorOverlap = Q(
    "q_dedup_detector_overlap",
    s"""WITH $ngramDocs2,
       |sx AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      min(doc_id) OVER (PARTITION BY md5(right(text, 16))) AS k
       |    FROM docs2) x
       |  WHERE doc_id <> k),
       |pf AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 64))) AS k
       |    FROM docs2) x
       |  WHERE doc_id <> k),
       |$simhashParCte,
       |$simhashSigCtes,
       |$simhashBandsCte,
       |sh AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM bands a JOIN bands b
       |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id
       |  WHERE ${simhashHamSql("a", "b")} <= (SELECT thr FROM par)),
       |sets AS (
       |  SELECT 'prefix' AS det, doc_id FROM pf
       |  UNION ALL SELECT 'simhash', doc_id FROM sh
       |  UNION ALL SELECT 'suffix', doc_id FROM sx),
       |dets AS (
       |  SELECT unnest(['prefix', 'simhash', 'suffix']) AS det),
       |cnt AS (
       |  SELECT d.det, coalesce(c.n, 0) AS n FROM dets d
       |  LEFT JOIN (SELECT det, count(*) AS n FROM sets GROUP BY 1) c
       |    USING (det)),
       |ix AS (
       |  SELECT a.det AS da, b.det AS db, count(*) AS nb
       |  FROM sets a JOIN sets b
       |    ON a.doc_id = b.doc_id AND a.det < b.det
       |  GROUP BY 1, 2)
       |SELECT ca.det AS det_a, cb.det AS det_b,
       |  CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
       |  CAST(coalesce(ix.nb, 0) AS BIGINT) AS n_both,
       |  ROUND(CAST(coalesce(ix.nb, 0) AS DOUBLE)
       |    / (ca.n + cb.n - coalesce(ix.nb, 0)), 6) AS jaccard
       |FROM cnt ca JOIN cnt cb ON ca.det < cb.det
       |LEFT JOIN ix ON ix.da = ca.det AND ix.db = cb.det
       |ORDER BY det_a, det_b""".stripMargin) { (s, d) =>
    val docs2 = simhashAugDocs(s, d)
    def removable(key: Column): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
      docs2.withColumn("k", min(col("doc_id")).over(w))
        .filter(col("doc_id") =!= col("k")).select("doc_id")
    }
    val sx = removable(md5(expr("right(text, 16)")))
    val pf = removable(md5(substring(col("text"), 1, 64)))
    val sh = simhashCands(s, d)
      .select(col("doc_b").as("doc_id")).distinct()
    val sets = pf.withColumn("det", lit("prefix"))
      .unionByName(sh.withColumn("det", lit("simhash")))
      .unionByName(sx.withColumn("det", lit("suffix")))
      .localCheckpoint()
    val spark = s
    import spark.implicits._
    val dets = Seq("prefix", "simhash", "suffix").toDF("det")
    val cnt = dets.join(
      sets.groupBy("det").agg(count(lit(1)).as("cn")), Seq("det"), "left")
      .select(col("det"), coalesce(col("cn"), lit(0L)).as("n"))
    val ix = sets.as("a")
      .join(sets.as("b"), col("a.doc_id") === col("b.doc_id")
        && col("a.det") < col("b.det"))
      .groupBy(col("a.det").as("da"), col("b.det").as("db"))
      .agg(count(lit(1)).as("nb"))
    cnt.as("ca")
      .join(broadcast(cnt).as("cb"), col("ca.det") < col("cb.det"))
      .join(broadcast(ix),
        col("da") === col("ca.det") && col("db") === col("cb.det"), "left")
      .select(col("ca.det").as("det_a"), col("cb.det").as("det_b"),
        col("ca.n").cast(LongType).as("n_a"),
        col("cb.n").cast(LongType).as("n_b"),
        coalesce(col("nb"), lit(0L)).cast(LongType).as("n_both"),
        round(coalesce(col("nb"), lit(0L)).cast(DoubleType)
          / (col("ca.n") + col("cb.n") - coalesce(col("nb"), lit(0L))), 6)
          .as("jaccard"))
      .orderBy("det_a", "det_b")
  }

  /** Embedding anisotropy diagnostic: the share of the corpus's
    * second-moment energy captured by the top eigendirection of the
    * (uncentered) Gram matrix, via TWO unrolled power-iteration rounds —
    * UNCENTERED deliberately, because origin-crossing hyperplane LSH
    * sees exactly this geometry (q_ann_recall's 0.02 recall on these
    * near-isotropic vectors is this statistic's prediction: share ≈
    * 1/64 ⇒ sign bits carry no neighborhood information). The iteration
    * never materializes the 64×64 Gram: each round is Σᵢ eᵢ(eᵢᵀv) —
    * two corpus-keyed aggregates — with the direction re-quantized to
    * ·10⁶ integers between rounds (the q_eigenvector_centrality idiom)
    * and the Rayleigh quotient taken as exact DECIMAL(38) sums, so the
    * whole readout is reduction-order-proof. Coordinates are ·10⁴
    * integers from the one fenced (vec_id, dim, e7) explode. */
  val qEmbedAnisotropy = Q(
    "q_embed_anisotropy",
    """WITH rows_ AS (
      |  SELECT vec_id, p,
      |    CAST(round(CAST(embedding[p] AS DOUBLE) * 10000) AS BIGINT)
      |      AS e7
      |  FROM embeddings, generate_series(1, 64) t(p)),
      |t0 AS (SELECT vec_id, sum(e7) AS t0 FROM rows_ GROUP BY 1),
      |u1 AS (
      |  SELECT r.p, sum(CAST(r.e7 AS HUGEINT) * t0.t0) AS u
      |  FROM rows_ r JOIN t0 ON r.vec_id = t0.vec_id GROUP BY 1),
      |m1 AS (SELECT max(abs(u)) AS m FROM u1),
      |v1 AS (
      |  SELECT p, (CASE WHEN u < 0 THEN -1 ELSE 1 END)
      |    * ((abs(u) * 1000000) // m) AS v
      |  FROM u1 CROSS JOIN m1),
      |t1 AS (
      |  SELECT r.vec_id, sum(r.e7 * v1.v) AS t1
      |  FROM rows_ r JOIN v1 ON r.p = v1.p GROUP BY 1),
      |u2 AS (
      |  SELECT r.p, sum(CAST(r.e7 AS HUGEINT) * t1.t1) AS u
      |  FROM rows_ r JOIN t1 ON r.vec_id = t1.vec_id GROUP BY 1),
      |m2 AS (SELECT max(abs(u)) AS m FROM u2),
      |v2 AS (
      |  SELECT p, (CASE WHEN u < 0 THEN -1 ELSE 1 END)
      |    * ((abs(u) * 1000000) // m) AS v
      |  FROM u2 CROSS JOIN m2),
      |t2 AS (
      |  SELECT r.vec_id, sum(r.e7 * v2.v) AS t2
      |  FROM rows_ r JOIN v2 ON r.p = v2.p GROUP BY 1),
      |num AS (SELECT sum(CAST(t2 AS HUGEINT) * t2) AS num,
      |  count(*) AS n FROM t2),
      |den AS (SELECT sum(CAST(v AS HUGEINT) * v) AS den FROM v2),
      |tr AS (SELECT sum(CAST(e7 AS HUGEINT) * e7) AS trace FROM rows_)
      |SELECT CAST(n AS BIGINT) AS n_vectors, 64 AS dims,
      |  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
      |    / CAST(trace AS DOUBLE), 6) AS top_eig_share,
      |  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
      |    / CAST(trace AS DOUBLE) * 64, 6) AS anisotropy
      |FROM num CROSS JOIN den CROSS JOIN tr""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val rows = t(s, d, "embeddings")
      .select(col("vec_id"),
        explode(sequence(lit(1), lit(64))).as("p"),
        col("embedding"))
      .select(col("vec_id"), col("p"),
        round(element_at(col("embedding"), col("p")).cast(DoubleType)
          * 10000).cast(LongType).as("e7"))
      .localCheckpoint()
    val t0 = rows.groupBy("vec_id").agg(sum("e7").as("t0"))
    def mv(coef: DataFrame, cName: String): DataFrame =
      rows.join(coef, "vec_id")
        .groupBy("p")
        .agg(sum(col("e7").cast(big38) * col(cName)).cast(big38).as("u"))
    def quantize(u: DataFrame): DataFrame = {
      val m = u.agg(max(abs(col("u"))).as("m"))
      u.crossJoin(broadcast(m))
        .select(col("p"),
          (when(col("u") < 0, -1L).otherwise(1L)
            * expr("(abs(u) * 1000000) DIV m")).as("v"))
    }
    def project(v: DataFrame, tName: String): DataFrame =
      rows.join(broadcast(v), "p")
        .groupBy("vec_id").agg(sum(col("e7") * col("v")).as(tName))
    val v1 = quantize(mv(t0, "t0"))
    val t1 = project(v1, "t1")
    val v2 = quantize(mv(t1, "t1")).localCheckpoint()
    val t2 = project(v2, "t2")
    val num = t2.agg(sum((col("t2").cast(big38) * col("t2")).cast(big38))
      .cast(big38).as("num"), count(lit(1)).as("n"))
    val den = v2.agg(sum(col("v") * col("v")).as("den"))
    val tr = rows.agg(sum((col("e7").cast(big38) * col("e7")).cast(big38))
      .cast(big38).as("trace"))
    num.crossJoin(broadcast(den)).crossJoin(broadcast(tr))
      .select(col("n").cast(LongType).as("n_vectors"),
        lit(64).as("dims"),
        round(col("num").cast(DoubleType) / col("den").cast(DoubleType)
          / col("trace").cast(DoubleType), 6).as("top_eig_share"),
        round(col("num").cast(DoubleType) / col("den").cast(DoubleType)
          / col("trace").cast(DoubleType) * 64, 6).as("anisotropy"))
  }

  val qKnnPerLabel = Q(
    "q_knn_per_label",
    """WITH c AS (
      |  SELECT label, p, avg(CAST(embedding[p] AS DOUBLE)) AS c
      |  FROM embeddings, generate_series(1, 64) t(p)
      |  GROUP BY label, p),
      |d AS (
      |  SELECT a.label AS label, b.label AS other,
      |    ROUND(sqrt(sum((a.c - b.c) * (a.c - b.c))), 4) AS dist
      |  FROM c a JOIN c b ON a.p = b.p AND a.label <> b.label
      |  GROUP BY 1, 2)
      |SELECT label, other, dist FROM (
      |  SELECT label, other, dist,
      |    row_number() OVER (PARTITION BY label ORDER BY dist, other) AS rn
      |  FROM d) r
      |WHERE rn = 1 ORDER BY label""".stripMargin) { (s, d) =>
    SimSearch.nearestOtherCentroid(t(s, d, "embeddings"))
      .orderBy("label")
  }

  /** Per-label embedding outliers (SemDeDup-style prototypicality
    * pruning): distance to the OWN-label centroid, top-5 farthest per
    * label — the curation filter that drops least-representative samples
    * per semantic cluster. Same centroid machinery as q_knn_per_label
    * (k×dim centroid table, bounded (label, dim) fan-out join, label-
    * partitioned top-N window — no global sort); round-4 distances with
    * vec_id tiebreak keep the ranking engine-stable. */
  val qEmbedOutlier = Q(
    "q_embed_outlier",
    """WITH c AS (
      |  SELECT label, p, avg(CAST(embedding[p] AS DOUBLE)) AS c
      |  FROM embeddings, generate_series(1, 64) t(p)
      |  GROUP BY label, p),
      |d AS (
      |  SELECT e.vec_id, e.label,
      |    ROUND(sqrt(sum((CAST(e.embedding[c.p] AS DOUBLE) - c.c)
      |      * (CAST(e.embedding[c.p] AS DOUBLE) - c.c))), 4) AS dist
      |  FROM embeddings e JOIN c ON e.label = c.label
      |  GROUP BY e.vec_id, e.label)
      |SELECT label, vec_id, dist FROM (
      |  SELECT label, vec_id, dist,
      |    row_number() OVER (PARTITION BY label
      |      ORDER BY dist DESC, vec_id) AS rn
      |  FROM d) r
      |WHERE rn <= 5 ORDER BY label, dist DESC, vec_id""".stripMargin) {
    (s, d) =>
      SimSearch.labelOutliers(t(s, d, "embeddings"), topN = 5)
        .orderBy(col("label"), col("dist").desc, col("vec_id"))
  }

  /** Benchmark decontamination: flag training docs sharing a character
    * 20-gram with the held-out "benchmark" slice (doc_id % 97 = 0) — the
    * standard n-gram-overlap eval-leak check. Shuffles on the shingle key
    * (bounded by distinct 20-grams); the eval side is tiny and the join is
    * shingle-bucketed, never all-pairs. */
  val qDecontaminate = Q(
    "q_decontaminate",
    s"""WITH sh AS (
      |  ${ShingleStore.distinctSql("documents", 20, 2000)}),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
      |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
      |SELECT tr.doc_id, count(*) AS n_shared
      |FROM tr JOIN ev ON tr.shingle = ev.shingle
      |GROUP BY tr.doc_id
      |ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    // maxPos = 2000 is this query's oracle determinism/cost bound, NOT a
    // library constant — Dedup.contamination defaults to scanning every
    // position (tail contamination beyond any cap is covered in LlmSpec).
    // Shingling is per-row, so filtering the SHARED raw-corpus k=20
    // shingle frame is identical to shingling the filtered corpora —
    // and the 20-gram explode is paid once per session, not per query.
    // df >= 2 prunes the store scan losslessly: a df = 1 shingle lives
    // in exactly ONE doc — either the eval or the train side, never
    // both — so it can't witness an overlap; 20-grams are mostly
    // unique, so this drops the bulk of the scanned rows at the
    // parquet filter before either side of the join materializes.
    val sh = graft.llm.ShingleStore.counted(s, d, k = 20, maxPos = 2000)
      .filter(col("df") >= 2).select("doc_id", "shingle")
    val ev = sh.filter(col("doc_id") % 97 === 0).select("shingle").distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(ev, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** PII scrubbing: regex redaction of emails and phone-shaped strings.
    * The fixture text is synthetic, so deterministic PII is appended from
    * doc_id IDENTICALLY in both engines, then scrubbed; the oracle checks
    * the scrubbed text round-trips. Regexes stay in the RE2 ∩ Java common
    * subset; DuckDB needs the 'g' flag to match Spark's replace-all. */
  val qPiiScrub = Q(
    "q_pii_scrub",
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(withpii,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]+', '<EMAIL>', 'g'),
      |    '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed,
      |  CAST(length(withpii) AS INT) AS len_before
      |FROM (
      |  SELECT doc_id,
      |    concat(text, ' contact user', doc_id, '@example.com or +1-555-',
      |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS withpii
      |  FROM documents) p
      |ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0"))
          .as("withpii"))
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("withpii"),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]+"), lit("<EMAIL>")),
          lit("\\+1-555-[0-9]{4}"), lit("<PHONE>")).as("scrubbed"),
        length(col("withpii")).as("len_before"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** Repetition scoring: duplicate-fraction of character 5-grams per doc
    * (1 − distinct/total) — the boilerplate/spam signal used in corpus
    * quality filtering. Linear explode + per-doc agg. */
  val qTextRepetition = Q(
    "q_text_repetition",
    """SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_grams,
      |  ROUND(1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
      |    AS rep_fraction
      |FROM (
      |  SELECT doc_id, substr(text, p, 5) AS g
      |  FROM documents, generate_series(1, 2000) t(p)
      |  WHERE p <= greatest(length(text) - 4, 1)) s
      |GROUP BY doc_id ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    // from the shared counted shingle frame: total grams = Σc, distinct
    // grams = row count — same numbers, explode paid once per session
    graft.llm.ShingleStore.counted(s, d, k = 5, maxPos = 2000)
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"),
        round(lit(1.0) - count(lit(1)).cast(DoubleType) /
          sum(col("c")), 6).as("rep_fraction"))
      .select(col("doc_id"), col("n_grams").cast(LongType).as("n_grams"),
        col("rep_fraction"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** Edit-distance near-dup scoring on the planted mutated copies —
    * levenshtein has identical unit-cost semantics in Spark and DuckDB,
    * so the pair scores oracle exactly. Bounded to 60-char prefixes: the
    * O(len²) DP is the reason edit distance only ever runs on CANDIDATE
    * pairs (blocked upstream), never all-pairs. */
  val qTextLevenshtein = Q(
    "q_text_levenshtein",
    """SELECT a.doc_id AS doc_a, a.doc_id + 1000000 AS doc_b,
      |  CAST(levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60))
      |       AS INT) AS dist
      |FROM documents a
      |JOIN (SELECT doc_id, substr(text, 11) AS text FROM documents) b
      |  ON b.doc_id = a.doc_id
      |WHERE a.doc_id % 50 = 0
      |ORDER BY doc_a""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val mutated = docs.select(col("doc_id"),
      expr("substr(text, 11)").as("mtext"))
    docs.filter(col("doc_id") % 50 === 0)
      .join(mutated, "doc_id")
      .select(col("doc_id").as("doc_a"),
        (col("doc_id") + 1000000L).as("doc_b"),
        levenshtein(expr("substr(text, 1, 60)"),
          expr("substr(mtext, 1, 60)")).as("dist"))
      .orderBy("doc_a")
  }

  /** Stratified (per-language) deterministic sampling: each stratum keeps
    * a different hash-threshold fraction — the corpus-rebalancing
    * primitive (downsample dominant languages, keep rare ones whole).
    * Content-hash based, so the sample is reproducible across engines
    * and partitionings. */
  val qStratifiedSample = Q(
    "q_stratified_sample",
    """SELECT lang, count(*) AS n_kept FROM documents
      |WHERE CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 100 <
      |  CASE WHEN lang = 'en' THEN 20 ELSE 80 END
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val bucket = TextOps.hash60(col("text")) % 100
    t(s, d, "documents")
      .filter(bucket < when(col("lang") === "en", 20).otherwise(80))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  /** Nearest-centroid assignment over the embedding table (centroids =
    * the 8 lowest-id vectors — deterministic Lloyd seeding). The k × dim
    * centroid table is broadcast, the squared L2 comes from three dots
    * (native graft_dot), and the argmin is a struct-min aggregate — one
    * map-side join + one shuffle, the shape that survives 100 TB. Full
    * Lloyd iteration lives in llm/Clustering.scala (ClusteringSpec). */
  val qKmeansAssign = Q(
    "q_kmeans_assign",
    s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    CAST(embedding[1] AS DOUBLE) AS dim1
      |  FROM embeddings),
      |${Clustering.lowIdCentroidsCte("e", 8)},
      |${Clustering.sqDistCte("d", "e.dim1, ")},
      |${Clustering.nearestCte("a", "d", "dim1, cid, d2")}
      |SELECT cid AS cluster, count(*) AS n_members,
      |  ROUND(avg(dim1), 6) AS mean_dim1, ROUND(avg(d2), 6) AS mean_d2
      |FROM a WHERE rk = 1
      |GROUP BY cid ORDER BY cluster""".stripMargin) { (s, d) =>
    val e = t(s, d, "embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      element_at(col("embedding"), 1).cast(DoubleType).as("dim1"))
    val cents = Clustering.lowIdCentroids(e, 8)
    Clustering.assign(e, "v", cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("dim1")), 6).as("mean_dim1"),
        round(avg(col("d2")), 6).as("mean_d2"))
      .orderBy("cluster")
  }

  /** Per-document TF-IDF top terms (idf = N/df, log-free so the score is
    * one exact int product + one correctly-rounded double division —
    * bit-identical across engines; ln() is not). df spans the FULL corpus;
    * the per-doc branch filters early (rank is per-doc, so pre-filtering
    * sampled docs is semantics-preserving and prunes the window input).
    * The toks→df join shuffles on term — at 100 TB, stopword skew there
    * wants AQE skew-join or plans.SkewJoin.saltedEquiJoin. */
  val qTfidfTopTerms = Q(
    "q_tfidf_topterms",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE doc_id % 100 = 0 GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, term, ROUND(score, 6) AS score, CAST(rk AS INT) AS rk
      |FROM (
      |  SELECT t.doc_id, t.term,
      |    CAST(t.tf * n.n AS DOUBLE) / d.df AS score,
      |    row_number() OVER (PARTITION BY t.doc_id
      |      ORDER BY CAST(t.tf * n.n AS DOUBLE) / d.df DESC, t.term) AS rk
      |  FROM tf t JOIN df d USING (term) CROSS JOIN n) x
      |WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
    val toks = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.filter(col("doc_id") % 100 === 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = t(s, d, "documents").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n")).cast(DoubleType) / col("df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), round(col("score"), 6).as("score"),
        col("rk"))
      .orderBy("doc_id", "rk")
  }

  /** Mean inverse document frequency per doc — the "how unusual is this
    * document's vocabulary" quality signal (high = rare/noisy tokens,
    * low = boilerplate). Same full-corpus df + early per-doc filter as
    * TF-IDF; the avg is the only cross-engine double sum, rounded 6. */
  val qTokenRarity = Q(
    "q_token_rarity",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT t.doc_id, count(*) AS n_tokens,
      |  ROUND(avg(CAST(n.n AS DOUBLE) / d.df), 6) AS rarity
      |FROM toks t JOIN df d USING (term) CROSS JOIN n
      |WHERE t.doc_id % 100 = 0
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    val toks = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val df = toks.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = t(s, d, "documents").agg(count(lit(1)).as("n"))
    toks.filter(col("doc_id") % 100 === 0)
      .join(df, "term").crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("n").cast(DoubleType) / col("df")), 6).as("rarity"))
      .orderBy("doc_id")
  }

  /** Frequent-terms via the Space-Saving sketch (functions/TopKSketch):
    * the token stream reduces map-side to bounded 128-counter buffers
    * that merge associatively — one narrow shuffle of constant-size
    * sketches instead of a vocabulary-wide groupBy. Estimates are
    * guaranteed overestimates and capture every term with frequency
    * > n/128; exactness guarantees are pinned in SketchSpec, so this is
    * registered rows-only (a sketch has no ANSI oracle). */
  val qHeavyHitters = Q.noOracle("q_heavy_hitters") { (s, d) =>
    val sk = udaf(new graft.functions.TopKSketch(128),
      org.apache.spark.sql.Encoders.STRING)
    t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(sk(col("term")).as("sketch"))
      .select(posexplode(col("sketch")).as(Seq("rank", "entry")))
      .select((col("rank") + 1).as("rank"),
        col("entry").getField("_1").as("term"),
        col("entry").getField("_2").as("est_count"))
      .limit(20)
  }

  /** Sliding-window document chunking (size 120, stride 100 → 20-char
    * overlap) — how long documents become training sequences. Linear
    * explode (no joins); the series bound of 50 chunks covers documents
    * to 5k chars (fixture max 553 — asserted in the WHERE, which also
    * makes the DuckDB constant-bound generate_series exact). */
  val qChunkDocs = Q(
    "q_chunk_docs",
    """SELECT doc_id, CAST(k AS INT) AS chunk_id,
      |  substr(text, k * 100 + 1, 120) AS chunk
      |FROM documents, generate_series(0, 50) AS g(k)
      |WHERE doc_id % 20 = 0 AND k <= (length(text) - 1) // 100
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"),
        explode(sequence(lit(0),
          floor((length(col("text")) - 1) / 100).cast(IntegerType)))
          .as("chunk_id"),
        col("text"))
      .select(col("doc_id"), col("chunk_id"),
        expr("substr(text, chunk_id * 100 + 1, 120)").as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Canonical text normalization (lower → strip punctuation → collapse
    * whitespace → trim): the pre-tokenization cleanup pass; the regex
    * subset used is identical in Java and RE2/DuckDB. */
  val qTextNormalize = Q(
    "q_text_normalize",
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
      |FROM documents WHERE doc_id % 100 = 0
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .filter(col("doc_id") % 100 === 0)
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " ")).as("norm"))
      .orderBy("doc_id")
  }

  /** Bigram LM estimation: count(term → next), keep the top-3 following
    * tokens with conditional probability for frequent contexts. Positions
    * come from array indexing (identical 1-based semantics both engines),
    * so no per-token window is needed; the count shuffle keys on the
    * bigram. The probability is exact-int division, rounded 6. The
    * 200-position bound covers fixture docs (max ~100 words). */
  val qBigramLm = Q(
    "q_bigram_lm",
    """WITH big AS (
      |  SELECT sp[k] AS term, sp[k+1] AS next
      |  FROM (SELECT string_split(text, ' ') AS sp FROM documents) d,
      |       generate_series(1, 200) AS g(k)
      |  WHERE k <= len(sp) - 1),
      |cnt AS (SELECT term, next, count(*) AS c FROM big GROUP BY 1, 2)
      |SELECT term, next, c, ROUND(CAST(c AS DOUBLE) / CAST(tot AS BIGINT), 6)
      |    AS p_next,
      |  CAST(rk AS INT) AS rk
      |FROM (
      |  SELECT term, next, c,
      |    row_number() OVER (PARTITION BY term ORDER BY c DESC, next) AS rk,
      |    SUM(c) OVER (PARTITION BY term) AS tot
      |  FROM cnt) x
      |WHERE rk <= 3 AND tot >= 50
      |ORDER BY term, rk""".stripMargin) { (s, d) =>
    val sp = split(col("text"), " ")
    val big = t(s, d, "documents")
      .select(sp.as("sp")).filter(size(col("sp")) >= 2)
      .select(col("sp"),
        explode(sequence(lit(1), size(col("sp")) - 1)).as("k"))
      .select(element_at(col("sp"), col("k")).as("term"),
        element_at(col("sp"), col("k") + 1).as("next"))
    val cnt = big.groupBy("term", "next").agg(count(lit(1)).as("c"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(col("c").desc, col("next"))
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy("term")
    cnt.withColumn("rk", row_number().over(wRank))
      .withColumn("tot", sum(col("c")).over(wTot))
      .filter(col("rk") <= 3 && col("tot") >= 50)
      .select(col("term"), col("next"), col("c"),
        round(col("c").cast(DoubleType) / col("tot"), 6).as("p_next"),
        col("rk"))
      .orderBy("term", "rk")
  }

  /** Deterministic corpus mixing: per-source sampling weights (the
    * training-mix knob — upsample rare sources, downsample dominant ones
    * — here: keep fractions per source bucket) applied by content hash,
    * then a reproducible pseudo-random interleave order, also by hash.
    * Fully engine/partitioning-independent: same mix, same order,
    * anywhere. */
  val qCorpusMix = Q(
    "q_corpus_mix",
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 100
      |      AS bucket,
      |    substr(md5(concat('mix', text)), 1, 16) AS ord
      |  FROM documents) x
      |WHERE bucket < CASE WHEN source = 'src0' THEN 25
      |               WHEN source = 'src1' THEN 50 ELSE 90 END
      |ORDER BY ord, doc_id LIMIT 500""".stripMargin) { (s, d) =>
    val bucket = TextOps.hash60(col("text")) % 100
    t(s, d, "documents")
      .select(col("doc_id"), col("source"), bucket.as("bucket"),
        substring(md5(concat(lit("mix"), col("text"))), 1, 16).as("ord"))
      .filter(col("bucket") <
        when(col("source") === "src0", 25)
          .when(col("source") === "src1", 50).otherwise(90))
      .select(col("doc_id"), col("source"), col("ord"))
      .orderBy("ord", "doc_id")
      .limit(500)
      .select("doc_id", "source")
  }

  /** Re-aggregatable distinct counts: HLL sketches built per (event_type,
    * day), then UNIONED up to per-type totals — the warehouse pattern that
    * makes "distinct users" maintainable at 100 TB (pre-aggregate once,
    * roll up any dimension later without touching raw data). DataSketches
    * binary images have no DuckDB analog → rows-only here; SketchSpec pins
    * the union associativity (rollup estimate == whole-table sketch
    * estimate) and accuracy vs exact. */
  val qHllReagg = Q.noOracle("q_hll_reagg") { (s, d) =>
    val ev = t(s, d, "events")
      .withColumn("day",
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"))
    val daily = ev.groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    daily.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .as("approx_users"))
      .orderBy("event_type")
  }

  val qTextTokens = Q(
    "q_text_tokens",
    """SELECT term, cnt FROM (
      |  SELECT tok AS term, count(*) AS cnt FROM
      |    (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
      |  GROUP BY tok) g
      |ORDER BY cnt DESC, term LIMIT 20""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(20)
  }

  val qTextStats = Q(
    "q_text_stats",
    """SELECT lang, count(*) AS n_docs,
      |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars,
      |  ROUND(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / count(*), 6)
      |    AS avg_words
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("n_chars")).cast(DoubleType) / count(lit(1)), 6)
          .as("avg_chars"),
        round(sum(size(split(col("text"), " "))).cast(DoubleType) /
          count(lit(1)), 6).as("avg_words"))
      .orderBy("lang")
  }

  val qTextSourcePivot = Q(
    "q_text_source_pivot",
    """SELECT lang,
      |  count(*) FILTER (WHERE source = 'src0') AS src0,
      |  count(*) FILTER (WHERE source = 'src1') AS src1,
      |  count(*) FILTER (WHERE source = 'src2') AS src2,
      |  count(*) FILTER (WHERE source = 'src3') AS src3,
      |  count(*) FILTER (WHERE source = 'src4') AS src4
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .groupBy("lang")
      .pivot("source", Seq("src0", "src1", "src2", "src3", "src4"))
      .count()
      .na.fill(0L)
      .orderBy("lang")
  }

  val qTextLangid = Q(
    "q_text_langid",
    s"""SELECT lang, predicted, count(*) AS cnt FROM (
      |  ${TextOps.predictedLangSql}) p
      |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin) {
    (s, d) =>
      TextOps.langIdConfusion(t(s, d, "documents"))
        .orderBy("lang", "predicted")
  }

  val qTextQuality = Q(
    "q_text_quality",
    """SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
      |  ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS mean_tok_len,
      |  ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stop_ratio,
      |  ROUND(least(n_tokens / 100.0, 1.0) * 0.5 +
      |        CAST(n_stop AS DOUBLE) / n_tokens * 0.5, 4) AS quality
      |FROM (
      |  SELECT doc_id, n_chars,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_filter(string_split(text, ' '),
      |        t -> t IN ('the','a','of','and','to'))) AS n_stop
      |  FROM documents) f
      |ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    TextOps.qualityScores(t(s, d, "documents"))
      .select("doc_id", "n_tokens", "mean_tok_len", "stop_ratio", "quality")
      .orderBy("doc_id")
      .limit(200)
  }

  val qTextTokenCount = Q(
    "q_text_token_count",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS alpha_tokens,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS num_tokens
      |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    TextOps.tokenCounts(t(s, d, "documents"))
      .orderBy("doc_id")
      .limit(200)
  }

  val qTextFingerprint = Q(
    "q_text_fingerprint",
    """SELECT doc_id,
      |  CAST(SUM(CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
      |           % 1099511627776) AS BIGINT) AS fp
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |      FROM documents) u
      |GROUP BY doc_id ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    TextOps.fingerprint(t(s, d, "documents"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** Sequence packing: assign docs to fixed-token-budget bins via an exact
    * integer running sum (deterministic; the distributed stand-in for
    * greedy context-window packing). The running sum is the two-pass
    * range-partitioned form (graft.plans.GlobalRank) — per-partition
    * running sums shifted by constant-size per-partition totals — so no
    * single task ever sees the whole table. */
  val qPackSequences = Q(
    "q_pack_sequences",
    """SELECT bin, count(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS bin_tokens
      |FROM (
      |  SELECT CAST(floor((SUM(toks) OVER (ORDER BY doc_id
      |                ROWS UNBOUNDED PRECEDING) - toks) / 2048) AS INT) AS bin,
      |    toks
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS toks
      |        FROM documents) t) b
      |GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("toks"))
    val (run, _) = graft.plans.GlobalRank.withGlobalRunningSum(
      docs, col("toks"), "run_toks", 32, col("doc_id"))
    run.withColumn("bin",
        floor((col("run_toks") - col("toks")) / 2048).cast(IntegerType))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"))
      .orderBy("bin")
  }

  /** Length-bucket histogram (the batching-friendly length distribution). */
  val qLengthBuckets = Q(
    "q_length_buckets",
    """SELECT CAST(floor(len(string_split(text, ' ')) / 16) AS INT) AS bucket,
      |  count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .select(floor(size(split(col("text"), " ")) / 16).cast(IntegerType)
        .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")
  }

  val qSampleHash = Q(
    "q_sample_hash",
    """SELECT doc_id, lang FROM documents
      |WHERE CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 20 = 0
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextOps.hashSample(t(s, d, "documents"), 20)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  val qSplitTrainTest = Q(
    "q_split_train_test",
    """SELECT split, count(*) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM (
      |  SELECT CASE WHEN CAST(concat('0x', substr(md5(text), 1, 15))
      |                    AS BIGINT) % 10 < 8
      |              THEN 'train' ELSE 'test' END AS split, n_chars
      |  FROM documents) s
      |GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
    TextOps.trainTestSplit(t(s, d, "documents"), 2)
      .groupBy("split")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
      .orderBy("split")
  }

  val qShuffleDet = Q(
    "q_shuffle_det",
    """SELECT doc_id, md5(text) AS h FROM documents
      |ORDER BY h, doc_id LIMIT 100""".stripMargin) { (s, d) =>
    TextOps.deterministicShuffle(t(s, d, "documents"))
      .select(col("doc_id"), md5(col("text")).as("h"))
      .limit(100)
  }

  val qMultimodalJoin = Q(
    "q_multimodal_join",
    """SELECT lang, label, count(*) AS cnt
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |GROUP BY lang, label ORDER BY lang, label""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .join(t(s, d, "embeddings"), col("doc_id") === col("vec_id"))
      .groupBy("lang", "label")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "label")
  }

  val qMultimodalMeta = Q(
    "q_multimodal_meta",
    """SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |       ELSE 'video' END AS modality,
      |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS byte_len,
      |  CAST(320 + octet_length(CAST(text AS BLOB)) % 320 AS INT) AS width,
      |  CAST(240 + octet_length(CAST(text AS BLOB)) % 240 AS INT) AS height,
      |  CAST(1 + octet_length(CAST(text AS BLOB)) % 16 AS INT) AS n_frames
      |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    Multimodal.metadata(Multimodal.mediaTable(t(s, d, "documents")))
      .orderBy("doc_id")
      .limit(200)
  }

  /** Metadata-only frame sampling (every 4th frame of each video): the
    * payload never enters the plan — PlanSpec-class pruning by
    * construction — and the sampled (index, byte offset) list is exact
    * integer arithmetic, so the op sits under the oracle gate. The
    * oracle's generate_series uses the constant-bound+WHERE trick
    * (n_frames ≤ 16 by the metadata formula). */
  val qMediaFrames = Q(
    "q_media_frames",
    """SELECT doc_id, CAST(f AS INT) AS frame_idx,
      |  CAST(f * (byte_len // n_frames) AS BIGINT) AS frame_offset
      |FROM (
      |  SELECT doc_id,
      |    CAST(octet_length(CAST(text AS BLOB)) AS INT) AS byte_len,
      |    CAST(1 + octet_length(CAST(text AS BLOB)) % 16 AS INT) AS n_frames
      |  FROM documents WHERE doc_id % 3 = 2) m,
      |  generate_series(0, 15, 4) t(f)
      |WHERE f <= n_frames - 1
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    Multimodal.sampleFrameOffsets(
      Multimodal.mediaTable(t(s, d, "documents")), stride = 4)
      .orderBy("doc_id", "frame_idx")
  }

  /** Exact binary-payload dedup per modality: md5 over the payload bytes'
    * hex encoding (computed from the binary column itself; DuckDB's md5
    * takes VARCHAR, so both engines hash the identical hex string), the
    * dedup posture for image/audio/video assets where near-dup semantics
    * don't apply until decode. Per modality: payload count, distinct
    * payloads, duplicate rows, and the largest duplicate group. The
    * payload groupBy shuffles 16-byte digests, never payloads (Catalyst
    * computes md5 map-side); at 100 TB this is the first pass before any
    * expensive perceptual hashing. */
  val qMediaDedup = Q(
    "q_media_dedup",
    """WITH m AS (
      |  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |      WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |    md5(hex(CAST(text AS BLOB))) AS h
      |  FROM documents),
      |g AS (SELECT modality, h, count(*) AS c FROM m GROUP BY modality, h)
      |SELECT modality, CAST(sum(c) AS BIGINT) AS n_payloads,
      |  count(*) AS n_distinct,
      |  CAST(sum(c - 1) AS BIGINT) AS n_dup_rows,
      |  CAST(max(c) AS BIGINT) AS max_group
      |FROM g GROUP BY modality ORDER BY modality""".stripMargin) { (s, d) =>
    val media = Multimodal.mediaTable(t(s, d, "documents"))
    val g = media
      .select(col("modality"), md5(hex(col("payload"))).as("h"))
      .groupBy("modality", "h")
      .agg(count(lit(1)).as("c"))
    g.groupBy("modality")
      .agg(sum(col("c")).cast(LongType).as("n_payloads"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") - 1).cast(LongType).as("n_dup_rows"),
        max(col("c")).cast(LongType).as("max_group"))
      .orderBy("modality")
  }

  /** Real-codec decode for the image arm: payloads are genuine PNG/BMP
    * bytes (synthesized deterministically via JDK ImageIO) and
    * width/height/checksum come out of `ImageIO.read` on those bytes;
    * audio/video stay on the documented byte-level stand-in. Rows-only
    * gate (codec output isn't ANSI-SQL-expressible); decoded dims and
    * pixel checksums are pinned against an independent in-test decode in
    * OutOfBandSpec. */
  val qMultimodalDecode = Q.noOracle("q_multimodal_decode") { (s, d) =>
    // Prune BEFORE decode (the sampleFrameOffsets lesson applied to the
    // row dimension): the panel is the first 100 doc_ids and encode/
    // decode is 1:1 per doc, so limiting the document scan first yields
    // identical rows while the codec touches 100 payloads, not the
    // corpus — at 100 TB this is the difference between a metadata-cheap
    // panel readout and a full-corpus decode.
    val docs = t(s, d, "documents").orderBy("doc_id").limit(100)
    val media = Multimodal.mediaTableReal(docs)
    Multimodal.decode(media)
      .select(col("doc_id"), col("modality"), col("byte_len"),
        col("width"), col("height"), col("n_frames"), col("checksum"),
        size(col("feature")).as("feature_dim"),
        round(element_at(col("feature"), 1).cast(DoubleType), 4).as("f0"))
      .orderBy("doc_id")
  }

  /** End-to-end near-dup pipeline: simhash-banded candidate pairs →
    * GraphX connected components → survivor set (min doc per cluster +
    * all unclustered docs). Deterministic counts, but CC isn't
    * ANSI-SQL-expressible → rows-only; cluster semantics are asserted in
    * OutOfBandSpec. */
  val qDedupClusters = Q.noOracle("q_dedup_clusters") { (s, d) =>
    val docs = t(s, d, "documents").select("doc_id", "text")
    val withDups = docs.unionByName(
      docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val pairs = Dedup.simhashNearDups(withDups, nDocs = augDocCount(s, d))
    val clusters = Dedup.nearDupClusters(pairs)
    val survivors = Dedup.survivors(withDups, clusters)
    val spark = s
    import spark.implicits._
    Seq((withDups.count(), clusters.count(), survivors.count()))
      .toDF("n_docs", "n_clustered", "n_survivors")
  }

  /** The END-TO-END near-dup pipeline UNDER THE ORACLE GATE: simhash
    * banded pairs → 3 min-label CC sweeps (`plans.LabelProp.iterate`) →
    * survivor set (min doc per label + every unclustered doc). The
    * GraphX variant above stays the deep-graph path; this one exists
    * because every stage — signature, banding, candidate join, label
    * sweeps, survivor selection — is ANSI-expressible, so the WHOLE
    * dedup pipeline hash-matches DuckDB instead of stopping at pair
    * generation. (Pair generation uses the corpus-grown detector and
    * combination tables — Dedup.simhashParamsFor — but the
    * threshold-filtered pair set is banding-invariant, so the oracle's
    * single-block bands over the same count-derived signature stay
    * correct at every scale.) The fixed-sweep labels are a
    * deterministic REFINEMENT
    * of the true components (each label group is a subset of a
    * component; the banded fixture graph chains deeper than 3 hops, so
    * this keeps MORE survivors than full convergence — measured 201 vs
    * 174 at sf0.001). Dedup-safe in the conservative direction: a
    * survivor set from refined clusters never drops a doc that full CC
    * would keep. The converged forms are `LabelProp.run` / the GraphX
    * variant above; OutOfBandSpec pins the refinement relation. */
  val qDedupClustersDet = Q(
    "q_dedup_clusters_det",
    s"""WITH $ngramDocs2,
       |$simhashParCte,
       |$simhashSigCtes,
       |$simhashBandsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id
       |  WHERE ${simhashHamSql("a", "b")} <= (SELECT thr FROM par)),
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM cand
       |        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
       |${graft.plans.LabelProp.iterateSql(3)},
       |surv AS (
       |  SELECT doc_id FROM docs2
       |  WHERE doc_id NOT IN (SELECT v FROM l3)
       |  UNION ALL
       |  SELECT min(v) AS doc_id FROM l3 GROUP BY lbl)
       |SELECT (SELECT count(*) FROM docs2) AS n_docs,
       |  (SELECT count(*) FROM l3) AS n_clustered,
       |  count(*) AS n_survivors,
       |  CAST(sum(doc_id) AS BIGINT) AS survivor_sum
       |FROM surv""".stripMargin) { (s, d) =>
    val withDups = simhashAugDocs(s, d)
    val pairs = simhashCands(s, d)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val labels = graft.plans.LabelProp.iterate(pairs, 3)
    val survivors = Dedup.survivors(withDups,
      labels.select(col("v").as("doc_id"), col("lbl").as("cluster_id")))
    val a = withDups.agg(count(lit(1)).as("n_docs"))
    val b = labels.agg(count(lit(1)).as("n_clustered"))
    val c = survivors.agg(count(lit(1)).as("n_survivors"),
      sum(col("doc_id")).cast(LongType).as("survivor_sum"))
    a.crossJoin(b).crossJoin(c)
      .select("n_docs", "n_clustered", "n_survivors", "survivor_sum")
  }

  /** Scalable-path embedding dedup: seeded hyperplane LSH (16 bits × 4
    * tables — 65k buckets/table vs the oracle variant's fixed 256).
    * Hyperplanes are driver-seeded Gaussians, not SQL-expressible →
    * rows-only; recall vs planted dups is asserted in OutOfBandSpec. */
  val qDedupEmbedLsh = Q.noOracle("q_dedup_embed_lsh") { (s, d) =>
    val embs = t(s, d, "embeddings")
    val withDups = embs.unionByName(
      embs.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          expr("transform(embedding, x -> CAST(x * 1.1 AS FLOAT))")
            .as("embedding"),
          col("label")))
    Dedup.hyperplaneNearDups(withDups, dims = 64, bits = 16, tables = 4,
        seed = 42L, minCos = 0.99)
      .filter(col("vec_b") === col("vec_a") + 1000000L)
      .orderBy("vec_a", "vec_b")
  }

  /** Multi-probe IVF search (scale path of q_sim_search_ivf): probe the
    * query bucket plus its lowest-margin bit flips. Seeded hyperplanes →
    * rows-only; top-1 hit rate is asserted in OutOfBandSpec. */
  val qSimMultiprobe = Q.noOracle("q_sim_multiprobe") { (s, d) =>
    SimSearch.multiProbeTopK(t(s, d, "embeddings"), probeId = 7L, k = 10,
      dims = 64, bits = 10, nProbe = 8, seed = 42L)
  }

  /** Trained-IVF ANN: k-means coarse quantizer (Lloyd centroids as the
    * inverted lists) + exact cosine within the probe's nProbe nearest
    * lists — the standard IVF index, robust where sign-LSH recall
    * degrades on anisotropic embeddings. Lloyd's double-mean centroids
    * aren't SQL-reproducible → rows-only; recall@10 vs exact top-k is
    * asserted in OutOfBandSpec. */
  val qSimTrainedIvf = Q.noOracle("q_sim_trained_ivf") { (s, d) =>
    val embs = t(s, d, "embeddings")
    val index = SimSearch.ivfIndexCached(embs, d, nLists = 8, lloydIters = 2)
    val probe = embs.filter(col("vec_id") === 7L)
      .select(col("embedding").as("probe_e"))
    SimSearch.ivfTopK(index, probe, k = 10, nProbe = 3, exclude = Some(7L))
  }

  /** Product-quantization ANN: per-subspace Lloyd codebooks compress each
    * vector to m codes, ADC scans the compressed table, exact cosine
    * re-ranks the shortlist — the memory-compression search path (see
    * SimSearch.PqIndex). Rows-only: Lloyd's double-mean codebooks are
    * not ANSI-expressible; recall is pinned in OutOfBandSpec. */
  val qSimPq = Q.noOracle("q_sim_pq") { (s, d) =>
    val embs = t(s, d, "embeddings")
    val pq = SimSearch.pqIndexCached(embs, d, dims = 64, m = 16,
      codebookSize = 32, lloydIters = 2)
    SimSearch.pqTopK(pq, embs, probeId = 7L, k = 10, rerank = 100)
  }

  /** IVF×PQ composed ANN (the billion-vector configuration: coarse list
    * pruning × compressed ADC scan × exact re-rank) as a registered
    * query — `SimSearch.ivfPqTopK` over indexes built in-query. Rows-only
    * (Lloyd centroids + codebooks); recall vs exact top-k is pinned in
    * OutOfBandSpec. */
  val qSimIvfPq = Q.noOracle("q_sim_ivfpq") { (s, d) =>
    val embs = t(s, d, "embeddings")
    // both sub-indexes come from the shared memo — same embeddings and
    // parameters as q_sim_trained_ivf / q_sim_pq, trained once per run
    val ivf = SimSearch.ivfIndexCached(embs, d, nLists = 8, lloydIters = 2)
    val pq = SimSearch.pqIndexCached(embs, d, dims = 64, m = 16,
      codebookSize = 32, lloydIters = 2)
    SimSearch.ivfPqTopK(ivf, pq, embs, probeId = 7L, k = 10,
      nProbe = 5, rerank = 100)
  }

  /** BPE merge learning over the corpus (llm/Bpe.scala): the learned
    * merge table in application order. Rows-only: 10 iterations of
    * vocabulary rewriting do not unroll to tractable ANSI SQL; the exact
    * merge sequence on a hand-computed corpus, tie-breaking, and
    * parallelism invariance are pinned in BpeSpec. */
  val qBpeTrain = Q.noOracle("q_bpe_train") { (s, d) =>
    val spark = s
    import spark.implicits._
    Bpe.train(t(s, d, "documents"), numMerges = 10).zipWithIndex
      .map { case (m, i) => (i + 1, m.left, m.right, m.left + m.right) }
      .toDF("rank", "left", "right", "merged")
  }

  /** Tokenizer APPLICATION at corpus scale: learn 10 BPE merges, then
    * encode every document — per-doc BPE token counts + compression
    * ratio vs characters. The apply side costs one join against the
    * vocabulary-sized segmentation table (never re-segmenting per
    * occurrence); rows-only like q_bpe_train (iterative merge learning),
    * exact encode semantics pinned in BpeSpec. */
  val qBpeEncode = Q.noOracle("q_bpe_encode") { (s, d) =>
    val docs = t(s, d, "documents")
    val merges = Bpe.train(docs, numMerges = 10)
    Bpe.encodeCounts(docs, merges)
      .select(col("doc_id"), col("n_bpe_tokens"), col("n_chars"),
        round(col("n_chars").cast(DoubleType) / col("n_bpe_tokens"), 4)
          .as("chars_per_token"))
      .orderBy("doc_id")
      .limit(100)
  }

  /** Deterministic k-fold cross-validation assignment (`TextOps.kFolds`):
    * fold = content-hash % 5, so the same document lands in the same fold
    * on ANY engine, run, or partitioning — the reproducibility property a
    * training pipeline needs to compare model runs. Output profiles each
    * fold (size, chars, source spread, corpus share) so imbalance is
    * visible; one groupBy on a 5-value key + a broadcast one-row total. */
  val qCrossvalFolds = Q(
    "q_crossval_folds",
    """WITH f AS (
      |  SELECT CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
      |           % 5 AS INT) AS fold,
      |         n_chars, source
      |  FROM documents),
      |per AS (
      |  SELECT fold, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    count(DISTINCT source) AS n_sources
      |  FROM f GROUP BY fold)
      |SELECT fold, n_docs, total_chars, n_sources,
      |  ROUND(CAST(n_docs AS DOUBLE)
      |    / (SELECT count(*) FROM documents), 6) AS share
      |FROM per ORDER BY fold""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val tot = docs.agg(count(lit(1)).as("n_tot"))
    TextOps.kFolds(docs, 5)
      .groupBy("fold")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("source")).as("n_sources"))
      .crossJoin(broadcast(tot))
      .select(col("fold"), col("n_docs"), col("total_chars"),
        col("n_sources"),
        round(col("n_docs").cast(DoubleType) / col("n_tot"), 6).as("share"))
      .orderBy("fold")
  }

  /** Pointwise mutual information for token bigrams — the collocation
    * miner (multi-word expressions, tokenizer-merge candidates). PMI =
    * ln(N·c_ab / (c_a·c_b)) with every count an exact int64 widened to
    * DECIMAL(38,0)/HUGEINT before multiplying (no overflow at corpus
    * scale), ONE double division and ONE per-row ln at the end (the same
    * per-row-ln discipline as q_math_funcs — ln never sits inside an
    * aggregate). Bigrams and unigrams are two linear explode passes; the
    * c_ab ≥ 20 support floor bounds the ranked output. */
  val qPmiBigrams = Q(
    "q_pmi_bigrams",
    """WITH toks AS (
      |  SELECT sp[k] AS term, sp[k+1] AS next, len(sp) AS n_sp, k
      |  FROM (SELECT string_split(text, ' ') AS sp FROM documents) d,
      |       generate_series(1, 4000) AS g(k)
      |  WHERE k <= len(sp)),
      |uni AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
      |n AS (SELECT CAST(sum(c) AS HUGEINT) AS n_tok FROM uni),
      |big AS (
      |  SELECT term, next, count(*) AS c_ab FROM toks
      |  WHERE next IS NOT NULL GROUP BY 1, 2 HAVING count(*) >= 20)
      |SELECT big.term, big.next, c_ab,
      |  ROUND(ln(CAST(n.n_tok * c_ab AS DOUBLE)
      |    / CAST(CAST(ua.c AS HUGEINT) * ub.c AS DOUBLE)), 6) AS pmi
      |FROM big JOIN uni ua ON big.term = ua.term
      |         JOIN uni ub ON big.next = ub.term
      |         CROSS JOIN n
      |ORDER BY pmi DESC, big.term, big.next LIMIT 50""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val toks = t(s, d, "documents")
      .select(split(col("text"), " ").as("sp"))
      .select(col("sp"), explode(sequence(lit(1), size(col("sp")))).as("k"))
      .select(element_at(col("sp"), col("k")).as("term"),
        when(col("k") < size(col("sp")),
          element_at(col("sp"), col("k") + 1)).as("next"))
    val uni = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).cast(big38).as("n_tok"))
    val big = toks.filter(col("next").isNotNull)
      .groupBy("term", "next").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 20)
    big.join(uni.select(col("term"), col("c").as("ca")), Seq("term"))
      .join(uni.select(col("term").as("next"), col("c").as("cb")), Seq("next"))
      .crossJoin(broadcast(nTok))
      .select(col("term"), col("next"), col("c_ab"),
        round(log((col("n_tok") * col("c_ab")).cast(DoubleType) /
          (col("ca").cast(big38) * col("cb")).cast(DoubleType)), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("term"), col("next"))
      .limit(50)
  }

  /** Class-balance profile + inverse-frequency reweighting factors over
    * the labeled embedding corpus — the imbalance check run before any
    * classifier/contrastive training, and the per-class weights N/(K·n_c)
    * a weighted loss consumes. Exact integer counts; the weight is one
    * double division, round 6. One groupBy on the bounded label domain. */
  val qLabelBalance = Q(
    "q_label_balance",
    """WITH per AS (
      |  SELECT label, count(*) AS n FROM embeddings GROUP BY label),
      |tot AS (SELECT count(*) AS n_tot, count(DISTINCT label) AS k
      |        FROM embeddings)
      |SELECT label, n,
      |  ROUND(CAST(n AS DOUBLE) / n_tot, 6) AS share,
      |  ROUND(CAST(n_tot AS DOUBLE) / (k * n), 6) AS weight
      |FROM per, tot ORDER BY label""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    val tot = emb.agg(count(lit(1)).as("n_tot"),
      countDistinct(col("label")).as("k"))
    emb.groupBy("label").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("label"), col("n"),
        round(col("n").cast(DoubleType) / col("n_tot"), 6).as("share"),
        round(col("n_tot").cast(DoubleType) / (col("k") * col("n")), 6)
          .as("weight"))
      .orderBy("label")
  }

  /** Zipf rank-frequency fit over the token distribution: global rank of
    * every term by frequency, then the log-log OLS slope/intercept/R² over
    * the top 1000 terms — the "is this corpus natural-language-shaped"
    * screen (natural text ⇒ slope ≈ −1; synthetic/boilerplate corpora
    * bend). The rank is a GlobalRank total order (no unpartitioned
    * window — at 100 TB the vocabulary is 10⁸ terms); ln() appears only
    * in per-row expressions, and every regression moment (Σx, Σy, Σxy,
    * Σx², Σy²) is quantize-then-summed at 10⁻⁹ so the reduction is exact
    * integer addition on both engines. */
  val qZipf = Q(
    "q_zipf",
    """WITH cnt AS (
      |  SELECT term, count(*) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term FROM documents) x
      |  GROUP BY term),
      |rk AS (
      |  SELECT row_number() OVER (ORDER BY c DESC, term) AS r, c
      |  FROM cnt),
      |pts AS (
      |  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
      |  FROM rk WHERE r <= 1000),
      |q AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(ROUND(x * 1000000000) AS HUGEINT)) AS sx9,
      |    sum(CAST(ROUND(y * 1000000000) AS HUGEINT)) AS sy9,
      |    sum(CAST(ROUND(x * y * 1000000000) AS HUGEINT)) AS sxy9,
      |    sum(CAST(ROUND(x * x * 1000000000) AS HUGEINT)) AS sxx9,
      |    sum(CAST(ROUND(y * y * 1000000000) AS HUGEINT)) AS syy9
      |  FROM pts),
      |m AS (
      |  SELECT CAST(n AS DOUBLE) AS n,
      |    CAST(sx9 AS DOUBLE) / 1000000000 AS sx,
      |    CAST(sy9 AS DOUBLE) / 1000000000 AS sy,
      |    CAST(sxy9 AS DOUBLE) / 1000000000 AS sxy,
      |    CAST(sxx9 AS DOUBLE) / 1000000000 AS sxx,
      |    CAST(syy9 AS DOUBLE) / 1000000000 AS syy
      |  FROM q)
      |SELECT CAST(n AS BIGINT) AS n_terms,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
      |    AS intercept,
      |  ROUND(((n * sxy - sx * sy) / (n * sxx - sx * sx))
      |    * ((n * sxy - sx * sy) / (n * syy - sy * sy)), 6) AS r_sq
      |FROM m""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val cnt = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    // GlobalRank range-buckets on sortCols.head, so the descending
    // frequency order is expressed as ascending −c (SortOrder columns
    // don't cast); term breaks ties into a total order.
    val (ranked, _) = graft.plans.GlobalRank.withGlobalRowNumber(
      cnt.withColumn("negc", -col("c").cast(LongType)), "r", 32,
      col("negc"), col("term"))
    val pts = ranked.filter(col("r") <= 1000)
      .select(log(col("r").cast(DoubleType)).as("x"),
        log(col("c").cast(DoubleType)).as("y"))
    def q9(c: Column): Column = sum(round(c * 1000000000).cast(big38))
    val q = pts.agg(count(lit(1)).cast(big38).as("n"),
      q9(col("x")).as("sx9"), q9(col("y")).as("sy9"),
      q9(col("x") * col("y")).as("sxy9"),
      q9(col("x") * col("x")).as("sxx9"),
      q9(col("y") * col("y")).as("syy9"))
    def dq(name: String): Column = col(name).cast(DoubleType) / 1000000000
    val m = q.select(col("n").cast(DoubleType).as("n"),
      dq("sx9").as("sx"), dq("sy9").as("sy"), dq("sxy9").as("sxy"),
      dq("sxx9").as("sxx"), dq("syy9").as("syy"))
    val num = m("n") * m("sxy") - m("sx") * m("sy")
    val denx = m("n") * m("sxx") - m("sx") * m("sx")
    val deny = m("n") * m("syy") - m("sy") * m("sy")
    m.select(col("n").cast(LongType).as("n_terms"),
      round(num / denx, 6).as("slope"),
      round((m("sy") - num / denx * m("sx")) / m("n"), 6).as("intercept"),
      round((num / denx) * (num / deny), 6).as("r_sq"))
  }

  /** The BM25 term CTEs (toks … tf) of q_bm25, q_rrf_fusion and
    * q_rank_overlap: doc lengths, the four query terms' df and idf, and
    * their per-doc tf. */
  private val bm25TermsSql =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |len AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |  FROM len),
      |qt AS (SELECT unnest(['hash', 'vector', 'stream', 'spark']) AS term),
      |df AS (
      |  SELECT term, count(DISTINCT doc_id) AS df FROM toks
      |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
      |idf AS (
      |  SELECT term, ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
      |  FROM df CROSS JOIN stats),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks
      |  WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term)""".stripMargin

  /** The two rankings q_rrf_fusion and q_rank_overlap compare: the
    * lexical BM25 rank (`lex`, over `scored`) and the cosine rank to
    * vec_id 0 (`emb`). Follows [[bm25TermsSql]]. */
  private val lexEmbSql =
    s"""scored AS (
      |  SELECT tf.doc_id,
      |    sum(CAST(ROUND(idf.idf * tf.tf * 2.2
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * len.dl / idf.avgdl))
      |      * 1000000000) AS HUGEINT)) AS score9
      |  FROM tf JOIN idf USING (term) JOIN len USING (doc_id)
      |  GROUP BY tf.doc_id),
      |lex AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY score9 DESC, doc_id) AS BIGINT)
      |      AS rk
      |  FROM scored),
      |emb AS (
      |  SELECT e.vec_id AS doc_id,
      |    CAST(row_number() OVER (ORDER BY
      |      ${VectorFunctions.cosine4Sql("CAST(e.embedding AS DOUBLE[])", "p.pe")} DESC, e.vec_id)
      |      AS BIGINT) AS rk
      |  FROM embeddings e,
      |    (SELECT CAST(embedding AS DOUBLE[]) AS pe FROM embeddings
      |     WHERE vec_id = 0) p
      |  WHERE e.vec_id <> 0)""".stripMargin

  /** BM25 relevance ranking of the corpus against a fixed term set — the
    * lexical-retrieval half of a RAG/eval pipeline (the embedding half is
    * the q_sim_* family). One token scan feeds doc lengths, per-term df,
    * and the query-term tf; idf/avglen are a ≤|query|-row broadcast. The
    * per-document score sums ≤|query| double contributions, so it is
    * quantize-then-summed at 10⁻⁹ and the top-20 ranks on the exact
    * INTEGER quantized score (deterministic under any reduction order);
    * k1 = 1.2, b = 0.75. */
  val qBm25 = Q(
    "q_bm25",
    s"""WITH $bm25TermsSql,
      |scored AS (
      |  SELECT tf.doc_id,
      |    sum(CAST(ROUND(idf.idf * tf.tf * 2.2
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * len.dl / idf.avgdl))
      |      * 1000000000) AS HUGEINT)) AS score9,
      |    count(*) AS n_hit
      |  FROM tf JOIN idf USING (term) JOIN len USING (doc_id)
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, CAST(n_hit AS BIGINT) AS n_hit,
      |  ROUND(CAST(score9 AS DOUBLE) / 1000000000, 6) AS score
      |FROM scored
      |ORDER BY score9 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
    bm25Scored(s, d)
      .select(col("doc_id"), col("n_hit").cast(LongType).as("n_hit"),
        round(col("score9").cast(DoubleType) / 1000000000, 6).as("score"),
        col("score9"))
      .orderBy(col("score9").desc, col("doc_id"))
      .limit(20)
      .drop("score9")
  }

  /** BM25-scored corpus for the fixed query-term set (shared by q_bm25
    * and q_rrf_fusion): (doc_id, n_hit, score9) with score9 the exact
    * 10⁻⁹-quantized integer score. */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big38 = DecimalType(38, 0)
    // ONE tokenize+aggregate pass feeds all three consumers (doc lengths,
    // per-term df, query-term tf) — materialized because they'd otherwise
    // each replay the corpus-wide explode+shuffle. At 100 TB the (doc,
    // term) frequency table is the artifact you persist anyway (it also
    // backs tfidf/rarity/entropy).
    val tfAll = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val len = tfAll.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = len.agg(count(lit(1)).cast(DoubleType).as("n"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val qt = Seq("hash", "vector", "stream", "spark").toDF("term")
    val df = tfAll.join(broadcast(qt), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(stats))
      .select(col("term"),
        log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
          .as("idf"),
        col("avgdl"))
    val tf = tfAll.join(broadcast(qt), "term")
    tf.join(broadcast(idf), "term").join(len, "doc_id")
      .groupBy("doc_id")
      .agg(sum(round(col("idf") * col("tf") * 2.2
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
          * 1000000000).cast(big38)).as("score9"),
        count(lit(1)).as("n_hit"))
  }

  /** Temperature-based corpus re-balancing (the multilingual-sampling
    * p_i^τ rule, τ = 0.5): per-source sampling weights w_i ∝ √p_i from
    * exact token counts, plus the boost each source gets over natural
    * sampling (w_i/p_i > 1 ⇒ upsampled). This computes the MIX — the knob
    * q_corpus_mix then applies by content hash. The fact table reduces to
    * ≤|sources| rows in one exact aggregate; √ appears per-source only
    * (sqrt is IEEE correctly-rounded on both engines, unlike pow), and
    * the weight normalizer is quantize-then-summed at 10⁻⁹ over the
    * bounded source domain. */
  val qMixWeights = Q(
    "q_mix_weights",
    """WITH src AS (
      |  SELECT source, count(*) AS n_toks FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS term
      |    FROM documents) x
      |  GROUP BY source),
      |tot AS (SELECT sum(n_toks) AS total FROM src),
      |w AS (
      |  SELECT source, n_toks,
      |    CAST(n_toks AS DOUBLE) / CAST(total AS DOUBLE) AS p,
      |    sqrt(CAST(n_toks AS DOUBLE) / CAST(total AS DOUBLE)) AS wraw
      |  FROM src CROSS JOIN tot),
      |z AS (
      |  SELECT sum(CAST(ROUND(wraw * 1000000000) AS HUGEINT)) AS z9 FROM w)
      |SELECT source, n_toks, ROUND(p, 6) AS share,
      |  ROUND(wraw / (CAST(z9 AS DOUBLE) / 1000000000), 6) AS weight,
      |  ROUND(wraw / (CAST(z9 AS DOUBLE) / 1000000000) / p, 6) AS boost
      |FROM w CROSS JOIN z
      |ORDER BY source""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    // ≤|sources| rows after the one corpus-scale aggregate; checkpointed
    // because tot and w both consume it (one explode pass, not two)
    val src = t(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source").agg(count(lit(1)).as("n_toks"))
      .localCheckpoint()
    val tot = src.agg(sum(col("n_toks")).as("total"))
    val w = src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_toks"),
        (col("n_toks").cast(DoubleType) / col("total").cast(DoubleType)).as("p"),
        sqrt(col("n_toks").cast(DoubleType) / col("total").cast(DoubleType))
          .as("wraw"))
    val z = w.agg(sum(round(col("wraw") * 1000000000).cast(big38)).as("z9"))
    w.crossJoin(broadcast(z))
      .select(col("source"), col("n_toks"), round(col("p"), 6).as("share"),
        round(col("wraw") / (col("z9").cast(DoubleType) / 1000000000), 6)
          .as("weight"),
        round(col("wraw") / (col("z9").cast(DoubleType) / 1000000000)
          / col("p"), 6).as("boost"))
      .orderBy("source")
  }

  /** Per-document token entropy (nats) + type-token ratio — the lexical
    * diversity/quality pair (low entropy = repetitive boilerplate, the
    * per-doc complement of q_text_repetition's n-gram screen). H(doc) =
    * ln n − (Σ c·ln c)/n: n and the term counts are exact; the only
    * floating-point reduction (Σ c·ln c over the doc's distinct terms) is
    * quantize-then-summed at 10⁻⁹. Same doc_id % 100 evaluation slice as
    * q_tfidf_topterms — per-doc metrics are embarrassingly parallel, so
    * the slice prunes before the groupBy. */
  val qDocEntropy = Q(
    "q_doc_entropy",
    """WITH tf AS (
      |  SELECT doc_id, term, count(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents WHERE doc_id % 100 = 0) x
      |  GROUP BY doc_id, term),
      |agg AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    count(*) AS n_types,
      |    sum(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
      |      * 1000000000) AS HUGEINT)) AS clc9
      |  FROM tf GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_types,
      |  ROUND(ln(CAST(n_tokens AS DOUBLE))
      |    - CAST(clc9 AS DOUBLE) / 1000000000 / CAST(n_tokens AS DOUBLE), 6)
      |    AS entropy,
      |  ROUND(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr
      |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val tf = t(s, d, "documents")
      .filter(col("doc_id") % 100 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val agg = tf.groupBy("doc_id")
      .agg(sum(col("c")).cast(LongType).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(round(col("c").cast(DoubleType) * log(col("c").cast(DoubleType))
          * 1000000000).cast(big38)).as("clc9"))
    agg.select(col("doc_id"), col("n_tokens"), col("n_types"),
      round(log(col("n_tokens").cast(DoubleType))
        - col("clc9").cast(DoubleType) / 1000000000
          / col("n_tokens").cast(DoubleType), 6).as("entropy"),
      round(col("n_types").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6)
        .as("ttr"))
      .orderBy("doc_id")
  }

  /** Quality-filter cascade audit: the per-rule drop accounting every
    * training-data pipeline publishes alongside its corpus. Four rules
    * applied in FIXED order (min length → language allowlist → min words →
    * max length); each stage reports input, dropped, survivors, and drop
    * rate GIVEN the earlier stages. One scan computes every stage's
    * conditional count (exact int64); the cascade itself is a 4-row
    * unpivot of the single aggregate row — fact-table work is one pass no
    * matter how many rules. Word count is exact integer arithmetic on
    * space positions. */
  val qFilterCascade = Q(
    "q_filter_cascade",
    """WITH f AS (
      |  SELECT (n_chars >= 100) AS f1,
      |    lang IN ('en', 'de', 'fr', 'es') AS f2,
      |    (length(text) - length(replace(text, ' ', '')) + 1) >= 15 AS f3,
      |    (n_chars <= 500) AS f4
      |  FROM documents),
      |a AS (
      |  SELECT count(*) AS n0,
      |    sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS n2,
      |    sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS n3,
      |    sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS n4
      |  FROM f)
      |SELECT stage, rule, CAST(input AS BIGINT) AS input,
      |  CAST(input - survivors AS BIGINT) AS dropped,
      |  CAST(survivors AS BIGINT) AS survivors,
      |  ROUND(CAST(input - survivors AS DOUBLE) / input, 6) AS drop_rate
      |FROM (
      |  SELECT 1 AS stage, 'min_length' AS rule, n0 AS input,
      |    n1 AS survivors FROM a
      |  UNION ALL SELECT 2, 'lang_allowlist', n1, n2 FROM a
      |  UNION ALL SELECT 3, 'min_words', n2, n3 FROM a
      |  UNION ALL SELECT 4, 'max_length', n3, n4 FROM a) s
      |ORDER BY stage""".stripMargin) { (s, d) =>
    val f = t(s, d, "documents").select(
      (col("n_chars") >= 100).as("f1"),
      col("lang").isin("en", "de", "fr", "es").as("f2"),
      ((length(col("text")) - length(regexp_replace(col("text"), " ", ""))
        + 1) >= 15).as("f3"),
      (col("n_chars") <= 500).as("f4"))
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val a = f.agg(count(lit(1)).as("n0"),
      cnt(col("f1")).as("n1"),
      cnt(col("f1") && col("f2")).as("n2"),
      cnt(col("f1") && col("f2") && col("f3")).as("n3"),
      cnt(col("f1") && col("f2") && col("f3") && col("f4")).as("n4"))
    a.select(expr(
        """stack(4,
          |  1, 'min_length', n0, n1,
          |  2, 'lang_allowlist', n1, n2,
          |  3, 'min_words', n2, n3,
          |  4, 'max_length', n3, n4) AS (stage, rule, input, survivors)"""
          .stripMargin))
      .select(col("stage"), col("rule"), col("input"),
        (col("input") - col("survivors")).as("dropped"), col("survivors"),
        round((col("input") - col("survivors")).cast(DoubleType)
          / col("input"), 6).as("drop_rate"))
      .orderBy("stage")
  }

  /** Contrastive hard-negative mining: for each query vector, the top-3
    * nearest neighbors with a DIFFERENT label — the negatives that teach a
    * contrastive model the most. The 8 query vectors broadcast against a
    * single linear scan of the corpus (same shape as exact top-k search:
    * no shuffle of the big side, ~km flops per row); scores are rounded
    * BEFORE ranking so the per-query top-3 is cross-engine-stable. */
  val qHardNegatives = Q(
    "q_hard_negatives",
    s"""WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings)
      |SELECT qid, rk, vec_id AS neg_id, label AS neg_label, score FROM (
      |  SELECT q.vec_id AS qid, e.vec_id, e.label,
      |    ${VectorFunctions.cosine4Sql("q.v", "e.v")} AS score,
      |    ${SimSearch.probeRankSql} AS rk
      |  FROM (SELECT * FROM e WHERE vec_id < 8) q
      |  JOIN e ON e.label <> q.label) x
      |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin) { (s, d) =>
    val embs = t(s, d, "embeddings")
    val queries = SimSearch.probePanel(embs, col("vec_id") < 8)
    val scored = embs
      .join(broadcast(queries), col("label") =!= col("q_label"))
      .select(col("qid"), col("vec_id"), col("label"),
        VectorFunctions.cosine4(col("embedding"), col("q_e")).as("score"))
    scored
      .withColumn("rk", row_number().over(SimSearch.byScore).cast(LongType))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("score"))
      .orderBy("qid", "rk")
  }

  /** Jensen-Shannon divergence between the token distributions of two
    * corpus halves (even vs odd source index) — the bounded, symmetric
    * drift measure a mixing pipeline tracks between snapshots or sources
    * (0 = identical, ln 2 = disjoint). All inputs are exact integer term
    * counts; each term's contribution is one double expression with
    * IDENTICAL op order on both engines, quantized at 10⁻⁹ and summed as
    * HUGEINT/DECIMAL(38) (the q_doc_entropy reduction-order proof). One
    * corpus scan → vocabulary-bounded term table → broadcast one-row
    * totals. */
  val qJsDivergence = Q(
    "q_js_divergence",
    """WITH tf AS (
      |  SELECT term,
      |    sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS ca,
      |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS cb
      |  FROM (
      |    SELECT CAST(substr(source, 4) AS INT) % 2 AS grp,
      |      unnest(string_split(text, ' ')) AS term
      |    FROM documents) x
      |  GROUP BY term),
      |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
      |               CAST(sum(cb) AS BIGINT) AS nb FROM tf),
      |terms AS (
      |  SELECT count(*) AS n_terms, na, nb,
      |    sum(CAST(ROUND(0.5 * (
      |      CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |        * ln((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |          / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
      |            + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2))
      |        ELSE 0 END
      |      + CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
      |        * ln((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
      |          / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
      |            + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2))
      |        ELSE 0 END) * 1000000000) AS HUGEINT)) AS js9
      |  FROM tf CROSS JOIN tot GROUP BY na, nb)
      |SELECT n_terms, na AS tokens_a, nb AS tokens_b,
      |  ROUND(CAST(js9 AS DOUBLE) / 1000000000, 6) AS js
      |FROM terms""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val tf = t(s, d, "documents")
      .select((substring(col("source"), 4, 10).cast(IntegerType) % 2)
          .as("grp"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy("term")
      .agg(sum(when(col("grp") === 0, 1).otherwise(0)).as("ca"),
        sum(when(col("grp") === 1, 1).otherwise(0)).as("cb"))
    val tot = tf.agg(sum("ca").cast(LongType).as("na"),
      sum("cb").cast(LongType).as("nb"))
    val p = col("ca").cast(DoubleType) / col("na").cast(DoubleType)
    val q = col("cb").cast(DoubleType) / col("nb").cast(DoubleType)
    val m = (p + q) / 2
    val contrib = lit(0.5) * (
      when(col("ca") > 0, p * log(p / m)).otherwise(0.0) +
        when(col("cb") > 0, q * log(q / m)).otherwise(0.0))
    tf.crossJoin(broadcast(tot))
      .groupBy("na", "nb")
      .agg(count(lit(1)).as("n_terms"),
        sum(round(contrib * 1000000000L).cast(big38)).as("js9"))
      .select(col("n_terms"), col("na").as("tokens_a"),
        col("nb").as("tokens_b"),
        round(col("js9").cast(DoubleType) / 1000000000L, 6).as("js"))
  }

  /** Per-document perplexity under the corpus-trained bigram MLE language
    * model — the LM-based quality score (high perplexity = the document's
    * transitions are atypical for the corpus: boilerplate, gibberish, or
    * off-domain). The LM is q_bigram_lm's count table (every scored bigram
    * exists in it by construction, so no smoothing is needed for
    * self-scoring); each bigram's ln p is one double expression of two
    * exact integers, quantized at 10⁻⁹ and HUGEINT-summed per document
    * (reduction-order-proof), with exp only in the final rounded
    * expression. Scoring slice doc_id % 20 = 0 — per-doc scoring is
    * embarrassingly parallel, the slice prunes the probe side while the
    * LM still trains on the full corpus. The (term,next)-keyed LM join is
    * vocabulary²-bounded, never corpus-sized. */
  val qPerplexity = Q(
    "q_perplexity",
    """WITH big AS (
      |  SELECT doc_id, sp[k] AS term, sp[k+1] AS next
      |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) d,
      |       generate_series(1, 200) AS g(k)
      |  WHERE k <= len(sp) - 1),
      |lm AS (SELECT term, next, count(*) AS c FROM big GROUP BY 1, 2),
      |lt AS (
      |  SELECT term, next, c,
      |    CAST(SUM(c) OVER (PARTITION BY term) AS BIGINT) AS tot
      |  FROM lm),
      |scored AS (
      |  SELECT b.doc_id, count(*) AS n_bigrams,
      |    sum(CAST(ROUND(ln(CAST(l.c AS DOUBLE) / CAST(l.tot AS DOUBLE))
      |      * 1000000000) AS HUGEINT)) AS lp9
      |  FROM (SELECT * FROM big WHERE doc_id % 20 = 0) b
      |  JOIN lt l ON b.term = l.term AND b.next = l.next
      |  GROUP BY b.doc_id)
      |SELECT doc_id, n_bigrams,
      |  ROUND(exp(-(CAST(lp9 AS DOUBLE) / 1000000000)
      |    / CAST(n_bigrams AS DOUBLE)), 6) AS ppl
      |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val sp = split(col("text"), " ")
    val big = t(s, d, "documents")
      .select(col("doc_id"), sp.as("sp")).filter(size(col("sp")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("sp")) - 1)).as("k"),
        col("sp"))
      .select(col("doc_id"), element_at(col("sp"), col("k")).as("term"),
        element_at(col("sp"), col("k") + 1).as("next"))
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val lt = big.groupBy("term", "next").agg(count(lit(1)).as("c"))
      .withColumn("tot", sum(col("c")).over(wTot).cast(LongType))
      .select(col("term").as("l_term"), col("next").as("l_next"),
        col("c"), col("tot"))
    val lnp = log(col("c").cast(DoubleType) / col("tot").cast(DoubleType))
    big.filter(col("doc_id") % 20 === 0)
      .join(lt, col("term") === col("l_term") && col("next") === col("l_next"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(lnp * 1000000000L).cast(big38)).as("lp9"))
      .select(col("doc_id"), col("n_bigrams"),
        round(exp(-(col("lp9").cast(DoubleType) / 1000000000L)
          / col("n_bigrams").cast(DoubleType)), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** Per-source readability profile (Flesch reading-ease): words from
    * space positions, sentences from terminal punctuation, syllables from
    * vowel-group runs (the standard heuristic) — ALL exact integer counts
    * via length arithmetic on regexp_replace marks, identical on both
    * engines. Per-document Flesch is one fixed-op-order double
    * expression, quantized at 10⁻⁶ and HUGEINT-summed per source
    * (reduction-order-proof); the readability band every corpus-quality
    * dashboard reports next to q_text_quality's surface stats. */
  val qReadability = Q(
    "q_readability",
    """WITH m AS (
      |  SELECT source,
      |    length(text) - length(replace(text, ' ', '')) + 1 AS words,
      |    GREATEST(length(regexp_replace(text, '[^.!?]', '', 'g')), 1)
      |      AS sents,
      |    GREATEST(length(regexp_replace(lower(text), '[aeiouy]+', 'V',
      |      'g')) - length(replace(regexp_replace(lower(text), '[aeiouy]+',
      |      'V', 'g'), 'V', '')), 1) AS sylls
      |  FROM documents),
      |f AS (
      |  SELECT source, words,
      |    CAST(ROUND((206.835
      |      - 1.015 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE))
      |      - 84.6 * (CAST(sylls AS DOUBLE) / CAST(words AS DOUBLE)))
      |      * 1000000) AS HUGEINT) AS flesch6
      |  FROM m)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(words) AS BIGINT) AS total_words,
      |  ROUND(CAST(sum(flesch6) AS DOUBLE) / 1000000
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_flesch
      |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val marked = regexp_replace(lower(col("text")), "[aeiouy]+", "V")
    val m = t(s, d, "documents").select(col("source"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", ""))
        + 1).as("words"),
      greatest(length(regexp_replace(col("text"), "[^.!?]", "")), lit(1))
        .as("sents"),
      greatest(length(marked) - length(regexp_replace(marked, "V", "")),
        lit(1)).as("sylls"))
    val flesch6 = round((lit(206.835)
      - lit(1.015) * (col("words").cast(DoubleType)
        / col("sents").cast(DoubleType))
      - lit(84.6) * (col("sylls").cast(DoubleType)
        / col("words").cast(DoubleType))) * 1000000L).cast(big38)
    m.select(col("source"), col("words"), flesch6.as("flesch6"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words")).cast(LongType).as("total_words"),
        round(sum(col("flesch6")).cast(DoubleType) / 1000000L
          / count(lit(1)).cast(DoubleType), 6).as("mean_flesch"))
      .orderBy("source")
  }

  /** Embedding-corpus QA profile: vector-norm distribution (mean/min/max),
    * dimension consistency, and degenerate-vector counts (zero norm, any
    * non-finite component) — the sanity gate run before any ANN index
    * build or similarity training job. Norms come off the native
    * `graft_dot` kernel; each norm is µ-quantized (1e-4, the proven
    * cross-engine float→double parity bound from q_hard_negatives) to an
    * exact integer BEFORE min/max/mean, so selection and sums are
    * order-independent. One scan, one bounded aggregate row. */
  val qEmbedNorms = Q(
    "q_embed_norms",
    """WITH n AS (
      |  SELECT vec_id, len(embedding) AS dim,
      |    CAST(ROUND(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
      |      CAST(embedding AS DOUBLE[]))) * 10000) AS BIGINT) AS nrm4
      |  FROM embeddings)
      |SELECT count(*) AS n_vecs,
      |  CAST(min(dim) AS BIGINT) AS dim_min,
      |  CAST(max(dim) AS BIGINT) AS dim_max,
      |  ROUND(CAST(min(nrm4) AS DOUBLE) / 10000, 6) AS norm_min,
      |  ROUND(CAST(max(nrm4) AS DOUBLE) / 10000, 6) AS norm_max,
      |  ROUND(CAST(sum(CAST(nrm4 AS HUGEINT)) AS DOUBLE) / 10000
      |    / CAST(count(*) AS DOUBLE), 6) AS norm_mean,
      |  CAST(sum(CASE WHEN nrm4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_zero
      |FROM n""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val dot = VectorFunctions.dot(col("embedding"),
      col("embedding"))
    val n = t(s, d, "embeddings").select(
      size(col("embedding")).as("dim"),
      round(sqrt(dot) * 10000).cast(LongType).as("nrm4"))
    n.agg(count(lit(1)).as("n_vecs"),
      min(col("dim")).cast(LongType).as("dim_min"),
      max(col("dim")).cast(LongType).as("dim_max"),
      round(min(col("nrm4")).cast(DoubleType) / 10000, 6).as("norm_min"),
      round(max(col("nrm4")).cast(DoubleType) / 10000, 6).as("norm_max"),
      round(sum(col("nrm4").cast(big38)).cast(DoubleType) / 10000
        / count(lit(1)).cast(DoubleType), 6).as("norm_mean"),
      sum(when(col("nrm4") === 0, 1).otherwise(0)).cast(LongType)
        .as("n_zero"))
  }

  /** Near-duplicate-rate attribution by source: which sources contribute
    * duplicated content (the dedup dashboard's per-source readout that
    * decides caps and re-crawl policy). Pairs come from the same banded
    * simhash pipeline as q_dedup_simhash_pairs (planted-dup convention
    * included so the rate is non-trivial at every SF); a doc counts as
    * duplicated if it appears in ≥1 pair; planted copies attribute to
    * their original's source. Candidate generation stays the banded
    * equi-join — nothing here is all-pairs. */
  val qDedupRateBySource = Q(
    "q_dedup_rate_by_source",
    s"""WITH $simhashCandCtes,
       |dup AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM cand
       |    WHERE bit_count(xor(sa, sb)) + bit_count(xor(sa1, sb1))
       |      <= (SELECT thr FROM par)
       |    UNION ALL SELECT doc_b FROM cand
       |    WHERE bit_count(xor(sa, sb)) + bit_count(xor(sa1, sb1))
       |      <= (SELECT thr FROM par)) u),
       |attributed AS (
       |  SELECT CASE WHEN d2.doc_id >= 1000000 THEN d2.doc_id - 1000000
       |    ELSE d2.doc_id END AS orig_id, d2.doc_id IN (SELECT doc_id
       |    FROM dup) AS is_dup
       |  FROM docs2 d2)
       |SELECT s.source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_docs,
       |  ROUND(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS dup_rate
       |FROM attributed a JOIN documents s ON a.orig_id = s.doc_id
       |GROUP BY s.source ORDER BY s.source""".stripMargin) { (s, d) =>
    val withDups = simhashAugDocs(s, d)
    val pairs = simhashCands(s, d)
    val dupIds = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val attributed = withDups
      .join(dupIds.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
      .select(when(col("doc_id") >= 1000000, col("doc_id") - 1000000)
        .otherwise(col("doc_id")).as("orig_id"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
    attributed
      .join(t(s, d, "documents")
        .select(col("doc_id").as("orig_id"), col("source")), Seq("orig_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1).otherwise(0)).cast(LongType)
          .as("n_dup_docs"),
        round(sum(when(col("is_dup"), 1).otherwise(0)).cast(DoubleType)
          / count(lit(1)).cast(DoubleType), 6).as("dup_rate"))
      .orderBy("source")
  }

  /** n-gram novelty of the test split vs the train split (the
    * hash-deterministic q_split_train_test partition): what fraction of
    * the held-out split's distinct 3-gram shingles never occur in
    * training data — the generalization/memorization audit run before
    * trusting any eval number. Novelty too LOW means the split leaks
    * (near-identical docs straddle it, see q_decontaminate); the overlap
    * check is a LEFT ANTI join on the shingle hash — one shuffle on a
    * 64-bit key, never document pairs. */
  val qNgramNovelty = Q(
    "q_ngram_novelty",
    """WITH sp AS (
      |  SELECT CASE WHEN CAST(concat('0x', substr(md5(text), 1, 15))
      |      AS BIGINT) % 10 < 8 THEN 'train' ELSE 'test' END AS split,
      |    string_split(text, ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT split,
      |    CAST(concat('0x', substr(md5(concat(toks[k], ' ', toks[k+1], ' ',
      |      toks[k+2])), 1, 15)) AS BIGINT) AS h
      |  FROM sp, generate_series(1, 200) g(k)
      |  WHERE k <= len(toks) - 2),
      |te AS (SELECT h FROM sh WHERE split = 'test'),
      |tr AS (SELECT h FROM sh WHERE split = 'train'),
      |m AS (
      |  SELECT (SELECT count(*) FROM te) AS n_test,
      |    (SELECT count(*) FROM te WHERE h NOT IN (SELECT h FROM tr))
      |      AS n_novel)
      |SELECT CAST(n_test AS BIGINT) AS n_test_shingles,
      |  CAST(n_novel AS BIGINT) AS n_novel,
      |  ROUND(CAST(n_novel AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
      |    AS novelty
      |FROM m""".stripMargin) { (s, d) =>
    val toks = split(col("text"), " ")
    val sp = t(s, d, "documents").select(
      when(conv(substring(md5(col("text")), 1, 15), 16, 10)
        .cast(LongType) % 10 < 8, "train").otherwise("test").as("split"),
      toks.as("toks")).filter(size(col("toks")) >= 3)
    val sh = sp
      .select(col("split"),
        explode(sequence(lit(1), least(size(col("toks")) - 2, lit(200))))
          .as("k"), col("toks"))
      .select(col("split"),
        conv(substring(md5(concat_ws(" ",
          element_at(col("toks"), col("k")),
          element_at(col("toks"), col("k") + 1),
          element_at(col("toks"), col("k") + 2))), 1, 15), 16, 10)
          .cast(LongType).as("h"))
      .distinct()
    val te = sh.filter(col("split") === "test").select("h")
    val tr = sh.filter(col("split") === "train").select(col("h").as("h2"))
    val novel = te.join(tr, col("h") === col("h2"), "left_anti")
    val nTest = te.agg(count(lit(1)).as("n_test_shingles"))
    val nNovel = novel.agg(count(lit(1)).as("n_novel"))
    nTest.crossJoin(broadcast(nNovel))
      .select(col("n_test_shingles"), col("n_novel"),
        round(col("n_novel").cast(DoubleType)
          / col("n_test_shingles").cast(DoubleType), 6).as("novelty"))
  }

  /** Context-length fit planner: against a panel of candidate sequence
    * lengths (512 / 2048 / 8192 tokens), what fraction of documents fit
    * whole, and how many tokens the overflow would truncate — the
    * capacity study behind choosing max_seq_len and the input to
    * q_pack_sequences. Token counts are exact space-split integers; the
    * panel is a 3-row broadcast crossed into ONE corpus scan (the
    * q_confusion_matrix sweep shape). */
  val qContextFit = Q(
    "q_context_fit",
    """WITH panel AS (SELECT unnest([512, 2048, 8192]) AS max_len),
      |x AS (
      |  SELECT max_len,
      |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
      |  FROM documents CROSS JOIN panel)
      |SELECT CAST(max_len AS INT) AS max_len, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_tokens <= max_len THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_fit,
      |  ROUND(CAST(sum(CASE WHEN n_tokens <= max_len THEN 1 ELSE 0 END)
      |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS fit_rate,
      |  CAST(sum(CASE WHEN n_tokens > max_len THEN n_tokens - max_len
      |    ELSE 0 END) AS BIGINT) AS truncated_tokens
      |FROM x GROUP BY max_len ORDER BY max_len""".stripMargin) { (s, d) =>
    import s.implicits._
    val panel = Seq(512, 2048, 8192).toDF("max_len")
    val x = t(s, d, "documents")
      .select((length(col("text"))
        - length(regexp_replace(col("text"), " ", "")) + 1).as("n_tokens"))
      .crossJoin(broadcast(panel))
    x.groupBy("max_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") <= col("max_len"), 1).otherwise(0))
          .cast(LongType).as("n_fit"),
        round(sum(when(col("n_tokens") <= col("max_len"), 1).otherwise(0))
          .cast(DoubleType) / count(lit(1)).cast(DoubleType), 6)
          .as("fit_rate"),
        sum(when(col("n_tokens") > col("max_len"),
          col("n_tokens") - col("max_len")).otherwise(0))
          .cast(LongType).as("truncated_tokens"))
      .select(col("max_len").cast(IntegerType).as("max_len"), col("n_docs"),
        col("n_fit"), col("fit_rate"), col("truncated_tokens"))
      .orderBy("max_len")
  }

  /** Quantile normalization of document lengths across sources — the
    * batch-effect correction that maps every source's length distribution
    * onto the POOLED distribution (so "long for src3" and "long for
    * src17" mean the same thing before length-based filtering or
    * curriculum bucketing). Entirely exact integer rank arithmetic: the
    * within-source rank rk (source-keyed window), the pooled global rank
    * (plans.GlobalRank — no unpartitioned window), and the rank→pooled
    * position map pos = 1 + round((rk−1)(N−1)/(ns−1)) computed as one
    * integer-division expression — NO quantile interpolation anywhere, so
    * cross-engine parity is structural. The position lookup is an
    * equi-join against the pooled rank table. */
  val qQuantileNorm = Q(
    "q_quantile_norm",
    """WITH src AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY source) AS ns
      |  FROM documents),
      |pooled AS (
      |  SELECT n_chars AS pooled_chars,
      |    row_number() OVER (ORDER BY n_chars, doc_id) AS gr
      |  FROM documents),
      |n AS (SELECT count(*) AS nn FROM documents),
      |mapped AS (
      |  SELECT doc_id, source, n_chars,
      |    CASE WHEN ns = 1 THEN (nn + 1) // 2
      |      ELSE 1 + ((rk - 1) * (nn - 1) * 2 + (ns - 1))
      |        // ((ns - 1) * 2) END AS pos
      |  FROM src CROSS JOIN n)
      |SELECT m.doc_id, m.source, m.n_chars, p.pooled_chars AS norm_chars
      |FROM mapped m JOIN pooled p ON m.pos = p.gr
      |ORDER BY m.doc_id""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents").select("doc_id", "source", "n_chars")
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy("n_chars", "doc_id")
    val wCnt = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val src = docs
      .withColumn("rk", row_number().over(wSrc).cast(LongType))
      .withColumn("ns", count(lit(1)).over(wCnt).cast(LongType))
    val (pooled0, nn) = graft.plans.GlobalRank.withGlobalRowNumber(
      docs.select(col("n_chars"), col("doc_id").as("p_doc")), "gr", 32,
      col("n_chars"), col("p_doc"))
    val pooled = pooled0.select(col("n_chars").as("pooled_chars"), col("gr"))
    val mapped = src.withColumn("pos",
      when(col("ns") === 1, lit((nn + 1) / 2))
        .otherwise(expr(
          s"1L + ((rk - 1) * ${nn - 1}L * 2 + (ns - 1)) DIV ((ns - 1) * 2)")))
    mapped.join(pooled, col("pos") === col("gr"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("pooled_chars").as("norm_chars"))
      .orderBy("doc_id")
  }

  /** Dedup self-evaluation: precision/recall of the banded-simhash
    * pipeline against the planted ground truth (every doc_id % 50 == 0
    * gets a known truncated copy at doc_id + 10⁶, the same convention as
    * q_dedup_simhash_pairs) — the tuning readout that justifies a
    * threshold before running dedup over 100 TB. Recovered pairs come
    * from the same banded candidate equi-join; truth is a bounded derived
    * set; both sides of precision/recall are exact counts from one
    * anti-join-free comparison. */
  val qNearDupEval = Q(
    "q_near_dup_eval",
    s"""WITH $ngramDocs2,
       |$simhashParCte,
       |$simhashSigCtes,
       |$simhashBandsCte,
       |found AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id
       |  WHERE ${simhashHamSql("a", "b")} <= (SELECT thr FROM par)),
       |truth AS (
       |  SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
       |  FROM documents WHERE doc_id % 50 = 0),
       |m AS (
       |  SELECT (SELECT count(*) FROM found) AS n_found,
       |    (SELECT count(*) FROM truth) AS n_truth,
       |    (SELECT count(*) FROM found f JOIN truth t
       |      ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b) AS n_hit)
       |SELECT CAST(n_found AS BIGINT) AS n_found,
       |  CAST(n_truth AS BIGINT) AS n_truth,
       |  CAST(n_hit AS BIGINT) AS n_hit,
       |  ROUND(CAST(n_hit AS DOUBLE) / nullif(n_found, 0), 6) AS precision,
       |  ROUND(CAST(n_hit AS DOUBLE) / nullif(n_truth, 0), 6) AS recall
       |FROM m""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val found = simhashCands(s, d)
      .select("doc_a", "doc_b")
    val truth = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("t_a"), (col("doc_id") + 1000000).as("t_b"))
    val nFound = found.agg(count(lit(1)).as("n_found"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nHit = found.join(broadcast(truth),
        col("doc_a") === col("t_a") && col("doc_b") === col("t_b"))
      .agg(count(lit(1)).as("n_hit"))
    nFound.crossJoin(broadcast(nTruth)).crossJoin(broadcast(nHit))
      .select(col("n_found"), col("n_truth"), col("n_hit"),
        round(col("n_hit").cast(DoubleType)
          / nullif(col("n_found"), lit(0L)).cast(DoubleType), 6)
          .as("precision"),
        round(col("n_hit").cast(DoubleType)
          / nullif(col("n_truth"), lit(0L)).cast(DoubleType), 6)
          .as("recall"))
  }

  /** Simhash threshold tuning curve: candidate-pair volume and planted-
    * pair recall at every hamming cutoff 0..8 — the sweep a dedup owner
    * reads before fixing the threshold (q_near_dup_eval evaluates ONE
    * point; this is the whole curve from the SAME single candidate
    * generation, no re-run per threshold). Cumulative counts over the
    * bounded threshold domain (0..max(8, thr+2), grown with the
    * detector so the curve always brackets the operating point).
    * Candidates come from the data-growing per-lane combination-table
    * banding (Dedup.simhashKeepMasks), which pigeonhole-guarantees
    * every pair within the derived threshold — curve points above it
    * count only banded collisions (documented banding-limited recall:
    * exactly what the production pipeline would see at that cutoff
    * without adding tables). Because those upper bins DEPEND on the
    * banding, this oracle mirrors the mask derivation from its own
    * corpus count (simhashMaskCtes, keepBlocks = nblocks − thr/lanes)
    * — both engines band identically at every scale; at fixture scales
    * B = 4 reproduces the historic 4×8-bit curve bit-exactly. */
  val qDedupThresholdSweep = Q(
    "q_dedup_threshold_sweep",
    s"""WITH $ngramDocs2,
       |$simhashParCte,
       |$simhashSigCtes,
       |$simhashMaskCtes,
       |bands AS (
       |  SELECT doc_id, simhash, simhash1, l AS lane, keep AS bidx,
       |    (CASE WHEN l = 0 THEN simhash ELSE simhash1 END) & keep AS bval
       |  FROM sigs, masks, generate_series(0, 1) tl(l), par
       |  WHERE l < lanes),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(${simhashHamSql("a", "b")} AS INT) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.lane = b.lane AND a.bidx = b.bidx AND a.bval = b.bval
       |      AND a.doc_id < b.doc_id),
       |hist AS (
       |  SELECT hamming, count(*) AS n_pairs,
       |    CAST(sum(CASE WHEN doc_b - doc_a = 1000000
       |      AND doc_a % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted
       |  FROM cand GROUP BY hamming),
       |grid AS (
       |  SELECT g AS thr FROM generate_series(0, 20) t(g), par
       |  WHERE g <= greatest(8, par.thr + 2)),
       |tot AS (SELECT count(*) AS n_truth FROM documents
       |        WHERE doc_id % 50 = 0)
       |SELECT CAST(thr AS INT) AS thr,
       |  CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS n_pairs,
       |  ROUND(CAST(coalesce(sum(n_planted), 0) AS DOUBLE)
       |    / CAST(n_truth AS DOUBLE), 6) AS recall
       |FROM grid LEFT JOIN hist ON hamming <= thr CROSS JOIN tot
       |GROUP BY thr, n_truth ORDER BY thr""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = t(s, d, "documents")
    // all candidates at the loosest cutoff ONCE; the sweep is arithmetic.
    // The grid tracks the detector: 0..8 at fixture scales (historic
    // curve bit-identical), 0..thr+2 once the grown threshold passes 6,
    // so the curve always brackets the operating point. r15.2: the
    // signature pass comes from the shared memo, but the ≤ gridMax
    // candidate stream feeds this histogram UNMATERIALIZED — the loose
    // bins are banded-collision mass whose only consumer is this one
    // aggregation (checkpointing them was a measured 24×/decade wall).
    val nAug = augDocCount(s, d)
    val (lanes, bits, thr, blocks) = Dedup.simhashParamsFor(nAug)
    val (_, gridMax) = simhashThrGrid(s, d)
    val cand = Dedup.simhashNearDupsFromSigs(simhashSigs(s, d), bits,
      gridMax, blocks, blocks - thr / lanes, lanes)
    val hist = cand.groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("doc_b") - col("doc_a") === 1000000 &&
          col("doc_a") % 50 === 0, 1).otherwise(0)).cast(LongType)
          .as("n_planted"))
    val grid = (0 to gridMax).toDF("thr")
    val tot = docs.filter(col("doc_id") % 50 === 0)
      .agg(count(lit(1)).as("n_truth"))
    grid.join(hist, col("hamming") <= col("thr"), "left")
      .crossJoin(broadcast(tot))
      .groupBy("thr", "n_truth")
      .agg(coalesce(sum(col("n_pairs")), lit(0L)).cast(LongType)
          .as("n_pairs"),
        round(coalesce(sum(col("n_planted")), lit(0L)).cast(DoubleType)
          / col("n_truth").cast(DoubleType), 6).as("recall"))
      .select(col("thr").cast(IntegerType).as("thr"), col("n_pairs"),
        col("recall"))
      .orderBy("thr")
  }

  /** Cohen's kappa agreement between two deterministic quality labelers
    * (char-length rule vs word-count rule) — the chance-corrected
    * agreement readout used to decide whether two filter heuristics are
    * redundant or complementary (and, with human labels, to QA
    * annotation). All four confusion cells are exact counts; kappa =
    * (pₒ−pₑ)/(1−pₑ) is one fixed-op-order double expression over
    * exact-integer cross products. */
  val qCohensKappa = Q(
    "q_cohens_kappa",
    """WITH l AS (
      |  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 >= 40
      |      THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(a * b) AS BIGINT) AS n11,
      |    CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
      |    CAST(sum((1 - a) * b) AS BIGINT) AS n01,
      |    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      |  FROM l)
      |SELECT n, n11, n10, n01, n00,
      |  ROUND(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |    AS observed_agreement,
      |  ROUND((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
      |    - CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
      |        AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))
      |    / (1 - CAST((n11 + n10) * (n11 + n01) + (n01 + n00)
      |        * (n10 + n00) AS DOUBLE) / CAST(n AS DOUBLE)
      |        / CAST(n AS DOUBLE)), 6) AS kappa
      |FROM m""".stripMargin) { (s, d) =>
    val l = t(s, d, "documents").select(
      when(col("n_chars") >= 200, 1).otherwise(0).as("a"),
      when(length(col("text"))
        - length(regexp_replace(col("text"), " ", "")) + 1 >= 40, 1)
        .otherwise(0).as("b"))
    val m = l.agg(count(lit(1)).cast(LongType).as("n"),
      sum(col("a") * col("b")).cast(LongType).as("n11"),
      sum(col("a") * (lit(1) - col("b"))).cast(LongType).as("n10"),
      sum((lit(1) - col("a")) * col("b")).cast(LongType).as("n01"),
      sum((lit(1) - col("a")) * (lit(1) - col("b"))).cast(LongType)
        .as("n00"))
    val po = (col("n11") + col("n00")).cast(DoubleType) /
      col("n").cast(DoubleType)
    val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01"))
      + (col("n01") + col("n00")) * (col("n10") + col("n00")))
      .cast(DoubleType) / col("n").cast(DoubleType) /
      col("n").cast(DoubleType)
    m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("observed_agreement"),
      round((po - pe) / (lit(1) - pe), 6).as("kappa"))
  }

  /** Effective sample size of the weighted corpus mix: ESS = (Σw)²/Σw²
    * over q_mix_weights-style per-source sampling weights applied to
    * every document — how many "equivalent unweighted documents" the
    * weighted mix actually trains on (heavy upweighting collapses ESS
    * long before token counts show it). Weights are exact integer ppm
    * (keep-fraction per source bucket), so both sums are exact
    * DECIMAL(38) and the ratio is one final double expression. */
  val qEssWeights = Q(
    "q_ess_weights",
    """WITH w AS (
      |  SELECT CASE CAST(substr(source, 4) AS INT) % 4
      |    WHEN 0 THEN 1000000 WHEN 1 THEN 500000
      |    WHEN 2 THEN 250000 ELSE 2000000 END AS w_ppm
      |  FROM documents),
      |m AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CAST(w_ppm AS HUGEINT)) AS HUGEINT) AS sw,
      |    CAST(sum(CAST(w_ppm AS HUGEINT) * w_ppm) AS HUGEINT) AS sw2
      |  FROM w)
      |SELECT n, CAST(sw AS BIGINT) AS sum_w_ppm,
      |  ROUND(CAST(sw * sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 6) AS ess,
      |  ROUND(CAST(sw * sw AS DOUBLE) / CAST(sw2 AS DOUBLE)
      |    / CAST(n AS DOUBLE), 6) AS ess_ratio
      |FROM m""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val w = t(s, d, "documents").select(
      (substring(col("source"), 4, 10).cast(IntegerType) % 4).as("k"))
      .select(when(col("k") === 0, 1000000L)
        .when(col("k") === 1, 500000L)
        .when(col("k") === 2, 250000L)
        .otherwise(2000000L).as("w_ppm"))
    val m = w.agg(count(lit(1)).as("n"),
      sum(col("w_ppm").cast(big38)).as("sw"),
      sum((col("w_ppm") * col("w_ppm")).cast(big38)).as("sw2"))
    m.select(col("n"), col("sw").cast(LongType).as("sum_w_ppm"),
      round((col("sw") * col("sw")).cast(DoubleType)
        / col("sw2").cast(DoubleType), 6).as("ess"),
      round((col("sw") * col("sw")).cast(DoubleType)
        / col("sw2").cast(DoubleType) / col("n").cast(DoubleType), 6)
        .as("ess_ratio"))
  }

  /** Lexical diversity per source: corpus type-token ratio (distinct
    * terms / total tokens) plus the mean per-document TTR — the
    * template/boilerplate detector that separates "many documents, few
    * phrasings" sources from genuinely diverse ones. Token explodes are
    * linear; distincts key on (source, term); the per-doc mean is an
    * exact (distinct·10⁹) DIV tokens integer sum with one final
    * division. */
  val qTypeTokenRatio = Q(
    "q_type_token_ratio",
    """WITH tok AS (
      |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |perdoc AS (
      |  SELECT source, doc_id, count(*) AS n_tok,
      |    count(DISTINCT term) AS n_distinct
      |  FROM tok GROUP BY source, doc_id),
      |src AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS toks,
      |    CAST(sum((n_distinct * 1000000000) // n_tok) AS BIGINT) AS ttr9
      |  FROM perdoc GROUP BY source),
      |srcd AS (
      |  SELECT source, count(DISTINCT term) AS distinct_terms
      |  FROM tok GROUP BY source)
      |SELECT s.source, s.n_docs, s.toks, d.distinct_terms,
      |  ROUND(CAST(d.distinct_terms AS DOUBLE) / s.toks, 6) AS corpus_ttr,
      |  ROUND(CAST(s.ttr9 AS DOUBLE) / s.n_docs / 1000000000, 6)
      |    AS mean_doc_ttr
      |FROM src s JOIN srcd d ON s.source = d.source
      |ORDER BY s.source""".stripMargin) { (s, d) =>
    val tok = t(s, d, "documents").select(col("source"), col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val perdoc = tok.groupBy("source", "doc_id")
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("term")).as("n_distinct"))
    val src = perdoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("toks"),
        sum(expr("(n_distinct * 1000000000) DIV n_tok")).cast(LongType)
          .as("ttr9"))
    val srcd = tok.groupBy("source")
      .agg(countDistinct(col("term")).as("distinct_terms"))
    src.join(srcd.withColumnRenamed("source", "s2"),
        col("source") === col("s2"))
      .select(col("source"), col("n_docs"), col("toks"),
        col("distinct_terms"),
        round(col("distinct_terms").cast(DoubleType) / col("toks"), 6)
          .as("corpus_ttr"),
        round(col("ttr9").cast(DoubleType) / col("n_docs") / 1000000000L, 6)
          .as("mean_doc_ttr"))
      .orderBy("source")
  }

  /** Vocabulary growth (Heaps-law) curve: cumulative distinct terms vs
    * cumulative tokens at every-50-documents checkpoints in doc_id order —
    * "is the corpus still adding new vocabulary or repeating itself?",
    * the corpus-level saturation readout feeding crawl-more/dedup-more
    * decisions. Per-term FIRST-occurrence rank (one groupBy over the
    * vocabulary) replaces any cumulative-distinct window, so both curves
    * are bounded-grid conditional sums against the broadcast checkpoint
    * list; document ranks come from GlobalRank (no unpartitioned
    * window). */
  val qVocabGrowth = Q(
    "q_vocab_growth",
    """WITH ord AS (
      |  SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS rk
      |  FROM documents),
      |toks AS (
      |  SELECT rk, unnest(string_split(text, ' ')) AS term FROM ord),
      |ntok AS (SELECT rk, count(*) AS n_tok FROM toks GROUP BY rk),
      |fo AS (SELECT term, min(rk) AS first_rk FROM toks GROUP BY term),
      |grid AS (
      |  SELECT unnest(generate_series(50,
      |    (SELECT CAST(max(rk) AS BIGINT) FROM ord), 50)) AS cp),
      |ct AS (
      |  SELECT g.cp, CAST(sum(n.n_tok) AS BIGINT) AS cum_tokens
      |  FROM grid g JOIN ntok n ON n.rk <= g.cp GROUP BY g.cp),
      |cd AS (
      |  SELECT g.cp, count(*) AS cum_distinct
      |  FROM grid g JOIN fo f ON f.first_rk <= g.cp GROUP BY g.cp)
      |SELECT ct.cp AS n_docs, ct.cum_tokens, cd.cum_distinct,
      |  ROUND(CAST(cd.cum_distinct AS DOUBLE) / ct.cum_tokens, 6) AS ttr
      |FROM ct JOIN cd ON ct.cp = cd.cp ORDER BY n_docs""".stripMargin) {
    (s, d) =>
    val docs = t(s, d, "documents").select("doc_id", "text")
    val (ord, nDocs) = graft.plans.GlobalRank.withGlobalRowNumber(
      docs, "rk", 32, col("doc_id"))
    val toks = ord.select(col("rk"),
      explode(split(col("text"), " ")).as("term"))
    val ntok = toks.groupBy("rk").agg(count(lit(1)).as("n_tok"))
    val fo = toks.groupBy("term").agg(min(col("rk")).as("first_rk"))
    val spark = s
    import spark.implicits._
    val grid = broadcast(
      (50L to nDocs by 50L).toDF("cp"))
    val ct = ntok.join(grid, col("rk") <= col("cp"))
      .groupBy("cp").agg(sum(col("n_tok")).cast(LongType).as("cum_tokens"))
    val cd = fo.join(grid, col("first_rk") <= col("cp"))
      .groupBy("cp").agg(count(lit(1)).as("cum_distinct"))
    ct.join(cd.withColumnRenamed("cp", "cp2"), col("cp") === col("cp2"))
      .select(col("cp").as("n_docs"), col("cum_tokens"), col("cum_distinct"),
        round(col("cum_distinct").cast(DoubleType) / col("cum_tokens"), 6)
          .as("ttr"))
      .orderBy("n_docs")
  }

  /** Pairwise earth-mover's distance between per-source document-length
    * distributions (10 data-derived bins): the top-20 most-different
    * source pairs — the distribution-shift matrix deciding which sources
    * can share a sampling policy (the corpus-level generalization of
    * q_t_closeness's per-group EMD). All mass comparisons are exact
    * cross-multiplied integer counts (|cumA·nB − cumB·nA|); the pairwise
    * stage runs on the BOUNDED source×bin table, never documents. */
  val qEmdSources = Q(
    "q_emd_sources",
    """WITH mx AS (SELECT max(n_chars) AS m FROM documents),
      |b AS (
      |  SELECT source,
      |    LEAST(CAST((n_chars * 10) // (m + 1) AS BIGINT), 9) AS bin
      |  FROM documents, mx),
      |cnt AS (SELECT source, bin, count(*) AS c FROM b GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.source, g.bin, COALESCE(c.c, 0) AS c
      |  FROM (SELECT DISTINCT source FROM documents) s
      |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) g
      |  LEFT JOIN cnt c ON c.source = s.source AND c.bin = g.bin),
      |cum AS (
      |  SELECT source, bin,
      |    sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
      |    sum(c) OVER (PARTITION BY source) AS n
      |  FROM grid),
      |pairs AS (
      |  SELECT a.source AS src_a, b2.source AS src_b,
      |    CAST(sum(abs(a.cum * b2.n - b2.cum * a.n)) AS HUGEINT) AS num,
      |    max(a.n) AS na, max(b2.n) AS nb
      |  FROM cum a JOIN cum b2
      |    ON a.bin = b2.bin AND a.source < b2.source
      |  GROUP BY a.source, b2.source)
      |SELECT src_a, src_b,
      |  ROUND(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb) / 10, 6)
      |    AS emd
      |FROM pairs ORDER BY emd DESC, src_a, src_b LIMIT 20""".stripMargin) {
    (s, d) =>
    val big38 = DecimalType(38, 0)
    val docs = t(s, d, "documents").select("source", "n_chars")
    val mx = docs.agg(max("n_chars").as("m"))
    val b = docs.crossJoin(broadcast(mx))
      .select(col("source"),
        least(expr("(n_chars * 10) DIV (m + 1)"), lit(9L)).as("bin"))
    val cnt = b.groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val srcs = docs.select("source").distinct()
    val bins = s.range(0, 10).toDF("bin")
    // cnt and the cum self-join side are (source × 10-bin) DOMAIN panels
    // — broadcast explicitly so scale-grown estimates can't demote them
    // to SMJ (the sf0.1 audit caught one doing so unhinted)
    val grid = srcs.crossJoin(broadcast(bins))
      .join(broadcast(cnt.withColumnRenamed("source", "s2")
        .withColumnRenamed("bin", "b2")),
        col("source") === col("s2") && col("bin") === col("b2"), "left")
      .select(col("source"), col("bin"), coalesce(col("c"), lit(0L)).as("c"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bin")
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val cum = grid.select(col("source"), col("bin"),
      sum(col("c")).over(wc).as("cum"), sum(col("c")).over(wn).as("n"))
    val pairs = cum.as("a")
      .join(broadcast(cum.select(col("source").as("sb"),
        col("bin").as("binb"),
        col("cum").as("cumb"), col("n").as("nb"))),
        col("a.bin") === col("binb") && col("a.source") < col("sb"))
      .groupBy(col("a.source").as("src_a"), col("sb").as("src_b"))
      .agg(sum(abs(col("a.cum") * col("nb") - col("cumb") * col("a.n")))
        .cast(big38).as("num"),
        max(col("a.n")).as("na"), max(col("nb")).as("nb2"))
    pairs.select(col("src_a"), col("src_b"),
      round(col("num").cast(DoubleType)
        / (col("na").cast(DoubleType) * col("nb2")) / 10, 6).as("emd"))
      .orderBy(col("emd").desc, col("src_a"), col("src_b"))
      .limit(20)
  }

  /** Cross-source vocabulary overlap: Jaccard similarity of the distinct
    * term sets of every source pair, top-20 — which sources are
    * near-mirrors of each other (candidate collapse targets) vs
    * genuinely distinct, the set-based complement of q_emd_sources'
    * length-shape distance. Intersections come from the term-keyed
    * inverted-index equi-join (each term contributes its source pairs —
    * never source × source over documents); set sizes and intersection
    * counts are exact integers. */
  val qSourceOverlap = Q(
    "q_source_overlap",
    """WITH st AS (
      |  SELECT DISTINCT source, term FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS term
      |    FROM documents) u),
      |sz AS (SELECT source, count(*) AS n FROM st GROUP BY source),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS common
      |  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT i.src_a, i.src_b, i.common,
      |  ROUND(CAST(i.common AS DOUBLE)
      |    / CAST(za.n + zb.n - i.common AS DOUBLE), 6) AS jaccard
      |FROM inter i
      |JOIN sz za ON i.src_a = za.source
      |JOIN sz zb ON i.src_b = zb.source
      |ORDER BY jaccard DESC, i.src_a, i.src_b LIMIT 20""".stripMargin) {
    (s, d) =>
    val st = t(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val sz = st.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = st.select(col("source").as("src_a"), col("term"))
      .join(st.select(col("source").as("src_b"), col("term").as("t2")),
        col("term") === col("t2") && col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("common"))
    inter
      .join(broadcast(sz.select(col("source").as("sa"), col("n").as("na"))),
        col("src_a") === col("sa"))
      .join(broadcast(sz.select(col("source").as("sb"), col("n").as("nb"))),
        col("src_b") === col("sb"))
      .select(col("src_a"), col("src_b"), col("common"),
        round(col("common").cast(DoubleType)
          / (col("na") + col("nb") - col("common")).cast(DoubleType), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
      .limit(20)
  }

  /** Distinctive vocabulary per language by smoothed log-odds ratio
    * (term's odds in the language vs the rest of the corpus, +1
    * smoothing): top-5 terms per language — the corpus-contrast readout
    * behind "what makes this slice different", sharper than raw tf-idf
    * for comparative profiling. The score table is vocabulary×lang
    * bounded; each log-odds is quantized to a 10⁻⁶ integer before
    * ranking so ordering is engine-independent. */
  val qLogOddsTerms = Q(
    "q_log_odds_terms",
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |cl AS (SELECT lang, term, count(*) AS c FROM tok GROUP BY 1, 2),
      |nl AS (SELECT lang, count(*) AS n FROM tok GROUP BY 1),
      |tot AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM cl
      |  GROUP BY term),
      |gn AS (SELECT CAST(sum(n) AS BIGINT) AS g FROM nl),
      |sc AS (
      |  SELECT cl.lang, cl.term, cl.c,
      |    CAST(ROUND((ln((CAST(cl.c AS DOUBLE) + 1)
      |        / (CAST(nl.n - cl.c AS DOUBLE) + 1))
      |      - ln((CAST(tot.ct - cl.c AS DOUBLE) + 1)
      |        / (CAST(gn.g - nl.n - (tot.ct - cl.c) AS DOUBLE) + 1)))
      |      * 1000000) AS BIGINT) AS lo6
      |  FROM cl JOIN nl ON cl.lang = nl.lang
      |  JOIN tot ON cl.term = tot.term CROSS JOIN gn),
      |r AS (
      |  SELECT lang, term, c, lo6,
      |    row_number() OVER (PARTITION BY lang ORDER BY lo6 DESC, term)
      |      AS rk
      |  FROM sc)
      |SELECT lang, CAST(rk AS BIGINT) AS rk, term, c AS cnt,
      |  ROUND(CAST(lo6 AS DOUBLE) / 1000000, 6) AS log_odds
      |FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin) { (s, d) =>
    val tok = t(s, d, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
    val cl = tok.groupBy("lang", "term").agg(count(lit(1)).as("c"))
    val nl = tok.groupBy("lang").agg(count(lit(1)).as("n"))
    val tot = cl.groupBy("term").agg(sum(col("c")).cast(LongType).as("ct"))
    val gn = nl.agg(sum(col("n")).cast(LongType).as("g"))
    val lo6 = round((log((col("c").cast(DoubleType) + 1)
      / ((col("n") - col("c")).cast(DoubleType) + 1))
      - log(((col("ct") - col("c")).cast(DoubleType) + 1)
        / ((col("g") - col("n") - (col("ct") - col("c")))
          .cast(DoubleType) + 1)))
      * 1000000L).cast(LongType)
    val sc = cl
      .join(broadcast(nl.withColumnRenamed("lang", "l2")),
        col("lang") === col("l2"))
      .join(tot.withColumnRenamed("term", "t2"), col("term") === col("t2"))
      .crossJoin(broadcast(gn))
      .select(col("lang"), col("term"), col("c"), lo6.as("lo6"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("lo6").desc, col("term"))
    sc.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("term"), col("c").as("cnt"),
        round(col("lo6").cast(DoubleType) / 1000000L, 6).as("log_odds"))
      .orderBy("lang", "rk")
  }

  /** Lexical near-duplicate scoring: tf-idf cosine over char-5-gram
    * shingle vectors between document pairs that share a RARE shingle
    * (2 ≤ df ≤ 10 blocking — candidate generation is the inverted-index
    * equi-join, never all-pairs), top-20 pairs — the sparse-vector
    * complement to q_dedup_embed's dense cosine and the weighted
    * refinement of q_dedup_ngram's set Jaccard. Weights quantize to
    * 10⁻⁴ integers so dots and norms are exact integer sums (DECIMAL 38
    * against overflow); the cosine is one final double expression. */
  val qTfidfCosinePairs = Q(
    "q_tfidf_cosine_pairs",
    """WITH tok AS (
      |  SELECT doc_id, substr(text, p, 5) AS term, count(*) AS c
      |  FROM documents, generate_series(1, 2000) t(p)
      |  WHERE p <= greatest(length(text) - 4, 1)
      |  GROUP BY doc_id, substr(text, p, 5)),
      |df AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
      |nd AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
      |w AS (
      |  SELECT tok.doc_id, tok.term,
      |    CAST(ROUND(tok.c * ln(CAST(nd.n AS DOUBLE) / df.df) * 10000)
      |      AS BIGINT) AS w4
      |  FROM tok JOIN df ON tok.term = df.term CROSS JOIN nd),
      |norms AS (
      |  SELECT doc_id, CAST(sum(w4 * w4) AS HUGEINT) AS n2
      |  FROM w GROUP BY doc_id),
      |rare AS (SELECT term FROM df WHERE df BETWEEN 2 AND 10),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      |  JOIN rare r ON a.term = r.term),
      |dots AS (
      |  SELECT c.da, c.db, CAST(sum(wa.w4 * wb.w4) AS HUGEINT) AS dot
      |  FROM cand c JOIN w wa ON wa.doc_id = c.da
      |  JOIN w wb ON wb.doc_id = c.db AND wb.term = wa.term
      |  GROUP BY c.da, c.db)
      |SELECT d.da AS doc_a, d.db AS doc_b,
      |  ROUND(CAST(d.dot AS DOUBLE)
      |    / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
      |    AS cosine
      |FROM dots d JOIN norms na ON d.da = na.doc_id
      |JOIN norms nb ON d.db = nb.doc_id
      |ORDER BY cosine DESC, doc_a, doc_b LIMIT 20""".stripMargin) {
    (s, d) =>
    val big38 = DecimalType(38, 0)
    // the corpus explode+count AND the per-term document frequency come
    // straight from the shared bucketed store (df persisted at build),
    // eliminating this query's df aggregation, its join back onto the
    // full weight table, and the corpus-sized lineage fence that pushed
    // ~10⁹ rows through one block manager at sf10
    val tok = graft.llm.ShingleStore.counted(s, d, k = 5, maxPos = 2000)
      .withColumnRenamed("shingle", "term")
    // |docs with ≥1 shingle| = |documents| — every doc yields at least
    // one position (the explode floor is greatest(len−4, 1)) — so the
    // idf numerator is the memoized table count, not a countDistinct
    // pass over the store
    val n = graft.Tables.countCached(s, d, "documents")
    def w4(cc: Column, dfc: Column): Column =
      round(cc * log(lit(n.toDouble) / dfc) * 10000L).cast(LongType)
    // rare-blocked candidates from the PRUNED slice: the 2 ≤ df ≤ 10
    // block is now a parquet-scan filter, not a derived join (candidates
    // need a shared RARE shingle, so the full-table self-join on term
    // would blow up on high-df shingles — df² pairs per term)
    val wr = tok.filter(col("df").between(2, 10)).select("doc_id", "term")
    // fence the PAIR-ID set (2 int64s per candidate — bounded, nothing
    // corpus-sized): three consumers (candDocs, both dot-join probes)
    // would otherwise each replay the rare-slice self-join. The corpus-
    // sized weight table stays UNfenced — its consumers re-scan the
    // bucketed store (columnar, pruned) instead of pushing ~10⁹ rows
    // through one block manager, which was this query's sf10 wall.
    val cand = wr.select(col("doc_id").as("da"), col("term"))
      .join(wr.select(col("doc_id").as("db"), col("term").as("tb")),
        col("term") === col("tb") && col("da") < col("db"))
      .select("da", "db").distinct()
      .localCheckpoint()
    // full term vectors of exactly the docs that appear in a candidate
    // pair: doc ids are a bounded broadcast (≤ |documents| int64s), so
    // each use is a store scan + broadcast semi-join — never a shuffle
    // of the corpus-sized weight table. Norms over these docs equal the
    // oracle's full-corpus norms for every doc the output touches.
    val candDocs = cand.select(col("da").as("doc_id"))
      .unionByName(cand.select(col("db").as("doc_id"))).distinct()
    val wc = tok.join(broadcast(candDocs), "doc_id")
      .select(col("doc_id"), col("term"), w4(col("c"), col("df")).as("w4"))
    val norms = wc.groupBy("doc_id")
      .agg(sum(col("w4").cast(big38) * col("w4").cast(big38)).as("n2"))
    val dots = cand
      .join(wc.select(col("doc_id").as("da"), col("term"),
        col("w4").as("w4a")), Seq("da"))
      .join(wc.select(col("doc_id").as("db2"), col("term").as("termb"),
        col("w4").as("w4b")),
        col("db") === col("db2") && col("term") === col("termb"))
      .groupBy("da", "db")
      .agg(sum(col("w4a").cast(big38) * col("w4b").cast(big38)).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("da"), col("n2").as("na2")),
        Seq("da"))
      .join(norms.select(col("doc_id").as("db"), col("n2").as("nb2")),
        Seq("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        round(col("dot").cast(DoubleType)
          / sqrt(col("na2").cast(DoubleType) * col("nb2").cast(DoubleType)),
          6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Shingle document-frequency spectrum: how many char-5-gram shingles
    * fall in each power-of-two df bucket — the heavy-tail profile that
    * justifies every rare-shingle blocking threshold in the dedup family
    * (a df≤10 block only works if the df histogram says most shingles
    * ARE rare). Bucketing uses binary-string length (exact integer
    * log2 — no float log at bucket boundaries); one vocabulary-bounded
    * aggregation. */
  val qShingleDfProfile = Q(
    "q_shingle_df_profile",
    s"""WITH sh AS (
      |  ${ShingleStore.distinctSql("documents", 5, 2000)}),
      |d AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      |tot AS (SELECT count(*) AS n_shingles FROM d),
      |b AS (SELECT length(bin(df)) - 1 AS bucket, df FROM d)
      |SELECT CAST(bucket AS BIGINT) AS log2_df,
      |  count(*) AS n_shingles,
      |  CAST(min(df) AS BIGINT) AS min_df, CAST(max(df) AS BIGINT) AS max_df,
      |  ROUND(CAST(count(*) AS DOUBLE) / (SELECT n_shingles FROM tot), 6)
      |    AS shingle_share
      |FROM b GROUP BY bucket ORDER BY log2_df""".stripMargin) { (s, d) =>
    val sh = graft.llm.ShingleStore.distinct(s, d, k = 5, maxPos = 2000)
    val dd = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val tot = dd.agg(count(lit(1)).as("n_tot"))
    dd.select((length(bin(col("df"))) - 1).cast(LongType).as("log2_df"),
        col("df"))
      .groupBy("log2_df")
      .agg(count(lit(1)).as("n_shingles"),
        min(col("df")).cast(LongType).as("min_df"),
        max(col("df")).cast(LongType).as("max_df"))
      .crossJoin(broadcast(tot))
      .select(col("log2_df"), col("n_shingles"), col("min_df"),
        col("max_df"),
        round(col("n_shingles").cast(DoubleType) / col("n_tot"), 6)
          .as("shingle_share"))
      .orderBy("log2_df")
  }

  /** Reciprocal-rank fusion of the two retrieval halves: the q_bm25
    * lexical ranking and the q_sim_search embedding-cosine ranking over
    * the same corpus (documents.doc_id = embeddings.vec_id). Each system
    * contributes 1/(60+rank) for its top-50; ranks are integers under a
    * total (exact-score, id) order, each contribution is the exact
    * integer 10⁹ DIV (60+rk), so the fused score is a reduction-order-
    * proof integer sum. Both per-system top-50s come from TakeOrdered
    * (never a corpus-wide window); ranking the 50-row bounded sets with a
    * single-partition window is a constant-size post-agg step. */
  val qRrfFusion = Q(
    "q_rrf_fusion",
    s"""WITH $bm25TermsSql,
      |$lexEmbSql,
      |fused AS (
      |  SELECT doc_id, count(*) AS n_systems, min(rk) AS best_rank,
      |    sum(1000000000 // (60 + rk)) AS rrf9
      |  FROM (SELECT * FROM lex WHERE rk <= 50
      |        UNION ALL SELECT * FROM emb WHERE rk <= 50) u
      |  GROUP BY doc_id)
      |SELECT doc_id, CAST(n_systems AS INT) AS n_systems,
      |  CAST(best_rank AS BIGINT) AS best_rank,
      |  ROUND(CAST(rrf9 AS DOUBLE) / 1000000000, 6) AS rrf
      |FROM fused
      |ORDER BY rrf9 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
    lexTop50Ranks(s, d).unionByName(embTop50Ranks(s, d))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(IntegerType).as("n_systems"),
        min(col("rk")).as("best_rank"),
        sum(expr("1000000000 DIV (60 + rk)")).as("rrf9"))
      .select(col("doc_id"), col("n_systems"), col("best_rank"),
        round(col("rrf9").cast(DoubleType) / 1000000000, 6).as("rrf"),
        col("rrf9"))
      .orderBy(col("rrf9").desc, col("doc_id"))
      .limit(20)
      .drop("rrf9")
  }

  /** Lexical top-50 (doc_id, rank) under the exact (score9 desc, doc_id)
    * order — TakeOrdered then a 50-row bounded-set window. Shared by the
    * hybrid-retrieval combiners (q_rrf_fusion, q_rank_overlap). */
  private def lexTop50Ranks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25Scored(s, d)
      .orderBy(col("score9").desc, col("doc_id")).limit(50)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("score9").desc, col("doc_id")))
          .cast(LongType).as("rk"))
  }

  /** Embedding top-50 (doc_id, rank) by 4dp-rounded cosine to probe
    * vec_id = 0 — same TakeOrdered + bounded-window shape. */
  private def embTop50Ranks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val embs = t(s, d, "embeddings")
    val probe = embs.filter(col("vec_id") === 0)
      .select(col("embedding").as("pe"))
    embs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        VectorFunctions.cosine4(col("embedding"), col("pe")).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(50)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast(LongType).as("rk"))
  }

  /** SemDeDup-style semantic dedup: partition the embedding space with
    * k = 64 deterministic centroids (lowest-id seeding, the
    * q_kmeans_assign construction), then drop any vector that has a
    * lower-id cluster-mate with cosine ≥ 0.99. The cluster id is the
    * blocking key, so the candidate join is a k-way bucketed equi-join
    * (never all-pairs): expected pairs ≈ N²/k per corpus — at larger N,
    * raise k (k ≈ N/1000 keeps within-cluster populations flat) or chain
    * the sign-LSH sub-bucket the q_dedup_embed family uses. Planted
    * duplicates (every 50th vector, re-scaled ×1.1 — cosine-invariant)
    * verify removal end-to-end; d2 rounded at 6 dp and cosine at 4 dp
    * before any comparison, so assignment and verdicts are bit-identical
    * across engines. */
  val qSemdedup = Q(
    "q_semdedup",
    s"""WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1) AS v
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |${Clustering.lowIdCentroidsCte("e", 64)},
      |${Clustering.sqDistCte("dist")},
      |${Clustering.nearestCte("a", "dist", "cid")},
      |asg AS (
      |  SELECT e.vec_id, e.v, a.cid AS cluster
      |  FROM e JOIN a ON e.vec_id = a.vec_id AND a.rk = 1),
      |rem AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM asg a JOIN asg b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE ${VectorFunctions.cosine4Sql("a.v", "b.v")} >= 0.99)
      |SELECT cluster, count(*) AS n_members,
      |  CAST(count(r.vec_id) AS BIGINT) AS n_removed,
      |  CAST(count(*) - count(r.vec_id) AS BIGINT) AS n_kept
      |FROM asg LEFT JOIN rem r ON asg.vec_id = r.vec_id
      |GROUP BY cluster ORDER BY cluster""".stripMargin) { (s, d) =>
    val embs = t(s, d, "embeddings")
    val asDbl = transform(col("embedding"), x => x.cast(DoubleType))
    val e = embs.select(col("vec_id"), asDbl.as("v")).unionByName(
      embs.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x.cast(DoubleType) * 1.1)
            .as("v")))
    val cents = Clustering.lowIdCentroids(e, 64)
    val asg = Clustering.assign(e, "v", cents)
      .join(e, Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("cluster"))
      .localCheckpoint()
    val a = asg.select(col("cluster"), col("vec_id").as("ida"),
      col("v").as("va"))
    val b = asg.select(col("cluster"), col("vec_id").as("idb"),
      col("v").as("vb"))
    val removed = a.join(b, Seq("cluster"))
      .filter(col("ida") < col("idb"))
      .filter(VectorFunctions.cosine4(col("va"), col("vb")) >= 0.99)
      .select(col("idb").as("vec_id")).distinct()
    asg.join(removed.withColumn("is_rem", lit(1)), Seq("vec_id"), "left")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        count(col("is_rem")).cast(LongType).as("n_removed"),
        (count(lit(1)) - count(col("is_rem"))).cast(LongType).as("n_kept"))
      .orderBy("cluster")
  }

  /** Tokenizer-fertility profile per language: subword tokens per word
    * and chars per word under a deterministic 4-chars-per-piece subword
    * proxy (⌈len/4⌉ pieces per word — the plumbing a real BPE fertility
    * audit runs, with the trained tokenizer swapped in for the proxy;
    * the trained path is llm/Bpe.encode, q_bpe_encode). All counts are
    * exact integer sums via array HOFs (no explode shuffle — the corpus
    * reduces to |lang| rows in one pass); divisions happen once per
    * output row. */
  val qTokenizerFertility = Q(
    "q_tokenizer_fertility",
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(words) AS BIGINT) AS n_words,
      |  CAST(sum(subs) AS BIGINT) AS n_subwords,
      |  CAST(sum(chars) AS BIGINT) AS n_chars,
      |  ROUND(CAST(sum(subs) AS DOUBLE) / sum(words), 6) AS fertility,
      |  ROUND(CAST(sum(chars) AS DOUBLE) / sum(words), 6) AS chars_per_word
      |FROM (
      |  SELECT lang, len(string_split(text, ' ')) AS words,
      |    list_sum(list_transform(string_split(text, ' '),
      |      t -> (length(t) + 3) // 4)) AS subs,
      |    list_sum(list_transform(string_split(text, ' '),
      |      t -> length(t))) AS chars
      |  FROM documents) x
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .select(col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("words"),
        expr("aggregate(split(text, ' '), 0L, " +
          "(acc, x) -> acc + (length(x) + 3) DIV 4)").as("subs"),
        expr("aggregate(split(text, ' '), 0L, " +
          "(acc, x) -> acc + length(x))").as("chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words")).cast(LongType).as("n_words"),
        sum(col("subs")).cast(LongType).as("n_subwords"),
        sum(col("chars")).cast(LongType).as("n_chars"),
        round(sum(col("subs")).cast(DoubleType) / sum(col("words")), 6)
          .as("fertility"),
        round(sum(col("chars")).cast(DoubleType) / sum(col("words")), 6)
          .as("chars_per_word"))
      .orderBy("lang")
  }

  /** Rank-biased overlap (p = 0.9, depth 50) between the lexical and
    * embedding rankings q_rrf_fusion fuses — "how much do the two
    * retrieval systems even agree?", the diagnostic read before trusting
    * a fusion. Overlap-at-depth comes from each shared doc's
    * max(rank_a, rank_b) (an integer), each RBO term is quantized to
    * ·10¹² before summing over the bounded 50-depth grid, and the inputs
    * are the same TakeOrdered top-50s — nothing here ever rescans the
    * corpus. */
  val qRankOverlap = Q(
    "q_rank_overlap",
    s"""WITH $bm25TermsSql,
      |$lexEmbSql,
      |shared AS (
      |  SELECT l.doc_id, GREATEST(l.rk, e.rk) AS md
      |  FROM (SELECT * FROM lex WHERE rk <= 50) l
      |  JOIN (SELECT * FROM emb WHERE rk <= 50) e USING (doc_id)),
      |xd AS (
      |  SELECT d, count(b.doc_id) AS x
      |  FROM generate_series(1, 50) t(d)
      |  LEFT JOIN shared b ON b.md <= d
      |  GROUP BY d),
      |terms AS (
      |  SELECT d, x,
      |    CAST(ROUND(0.1 * POWER(0.9, d - 1) * (CAST(x AS DOUBLE) / d)
      |      * 1000000000000) AS BIGINT) AS t12
      |  FROM xd)
      |SELECT
      |  CAST(max(CASE WHEN d = 10 THEN x END) AS BIGINT) AS overlap_at_10,
      |  ROUND(CAST(max(CASE WHEN d = 50 THEN x END) AS DOUBLE)
      |    / (100 - max(CASE WHEN d = 50 THEN x END)), 6) AS jaccard_at_50,
      |  ROUND(CAST(sum(t12) AS DOUBLE) / 1000000000000, 6) AS rbo
      |FROM terms""".stripMargin) { (s, d) =>
    val both = lexTop50Ranks(s, d).withColumnRenamed("rk", "rka")
      .join(embTop50Ranks(s, d).withColumnRenamed("rk", "rkb"), "doc_id")
      .select(col("doc_id"), greatest(col("rka"), col("rkb")).as("md"))
    val depths = s.range(1, 51).select(col("id").as("d"))
    val xd = depths
      .join(broadcast(both), col("md") <= col("d"), "left")
      .groupBy("d").agg(count(col("doc_id")).as("x"))
    val terms = xd.withColumn("t12",
      round(lit(0.1) * pow(lit(0.9), col("d") - 1)
        * (col("x").cast(DoubleType) / col("d")) * 1000000000000L)
        .cast(LongType))
    terms.agg(
      max(when(col("d") === 10, col("x"))).cast(LongType)
        .as("overlap_at_10"),
      round(max(when(col("d") === 50, col("x"))).cast(DoubleType)
        / (lit(100) - max(when(col("d") === 50, col("x")))), 6)
        .as("jaccard_at_50"),
      round(sum(col("t12")).cast(DoubleType) / 1000000000000L, 6)
        .as("rbo"))
  }

  /** Simplified silhouette per cluster (centroid form: a = distance to
    * own centroid, b = distance to nearest other centroid,
    * s = (b−a)/max(a,b)) over the q_kmeans_assign partition — the
    * cluster-quality score that says whether the semantic-dedup buckets
    * are real. Per-point distances come from the same broadcast k×dim
    * centroid table; the two nearest centroids per point fall out of one
    * bounded k-list sort (no window over data); s quantizes to ·10⁹
    * before the per-cluster mean so the aggregation is exact. */
  val qSilhouette = Q(
    "q_silhouette",
    s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${Clustering.lowIdCentroidsCte("e", 8)},
      |${Clustering.sqDistCte("dist")},
      |${Clustering.nearestCte("r", "dist", "cid, d2")},
      |ab AS (
      |  SELECT a.vec_id, a.cid AS cluster, a.d2 AS a2, b.d2 AS b2
      |  FROM r a JOIN r b ON a.vec_id = b.vec_id
      |  WHERE a.rk = 1 AND b.rk = 2),
      |sil AS (
      |  SELECT cluster,
      |    CAST(ROUND((sqrt(b2) - sqrt(a2))
      |      / GREATEST(sqrt(a2), sqrt(b2)) * 1000000000) AS BIGINT) AS s9
      |  FROM ab WHERE GREATEST(a2, b2) > 0)
      |SELECT cluster, count(*) AS n_points,
      |  ROUND(CAST(sum(s9) AS DOUBLE) / count(*) / 1000000000, 6)
      |    AS mean_silhouette
      |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin) { (s, d) =>
    val e = t(s, d, "embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val cents = Clustering.lowIdCentroids(e, 8)
    val dist = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        col("cid"), Clustering.sqDist(col("v"), col("cvec")).as("d2"))
    val ab = dist.groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("d2"), col("cid"))))
        .as("ds"))
      .select(col("vec_id"),
        col("ds").getItem(0).getField("cid").as("cluster"),
        col("ds").getItem(0).getField("d2").as("a2"),
        col("ds").getItem(1).getField("d2").as("b2"))
    ab.filter(greatest(col("a2"), col("b2")) > 0)
      .select(col("cluster"),
        round((sqrt(col("b2")) - sqrt(col("a2")))
          / greatest(sqrt(col("a2")), sqrt(col("b2"))) * 1000000000L)
          .cast(LongType).as("s9"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"),
        round(sum(col("s9")).cast(DoubleType) / count(lit(1))
          / 1000000000L, 6).as("mean_silhouette"))
      .orderBy("cluster")
  }

  /** Canonical-document selection — the curation ACTION the dedup
    * family's pair/cluster detectors feed: cluster by stopword-stripped
    * content hash (so near-identical variants collide) and keep the
    * highest-quality member (q_text_quality's score, quantized to an
    * integer; ties break on the lowest doc_id). Planted variants
    * (every 50th doc + appended stopwords) verify the keeper is chosen
    * by QUALITY, not id. One shuffle on the 16-byte cluster key; the
    * keeper argmax is a key-partitioned window over cluster-sized
    * groups. */
  val qDedupCanonical = Q(
    "q_dedup_canonical",
    """WITH docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |    concat(text, ' the of the a') AS text
      |  FROM documents WHERE doc_id % 50 = 0),
      |feats AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_filter(string_split(text, ' '),
      |      t -> t NOT IN ('the', 'a', 'of', 'and', 'to')), ' '))
      |      AS cluster_key,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_filter(string_split(text, ' '),
      |      t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
      |  FROM docs2),
      |q AS (
      |  SELECT doc_id, cluster_key,
      |    CAST(ROUND((least(n_tokens / 100.0, 1.0) * 0.5
      |      + CAST(n_stop AS DOUBLE) / n_tokens * 0.5) * 1000000)
      |      AS BIGINT) AS q6
      |  FROM feats),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY cluster_key
      |      ORDER BY q6 DESC, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY cluster_key) AS n_members
      |  FROM q)
      |SELECT cluster_key, CAST(n_members AS BIGINT) AS n_members,
      |  doc_id AS keeper_doc_id,
      |  ROUND(CAST(q6 AS DOUBLE) / 1000000, 6) AS keeper_quality
      |FROM r WHERE rk = 1 AND n_members > 1
      |ORDER BY cluster_key""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val stops = Seq("the", "a", "of", "and", "to")
    val docs = t(s, d, "documents")
    val docs2 = docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" the of the a")).as("text")))
    val toks = split(col("text"), " ")
    val q = docs2.select(col("doc_id"),
        md5(array_join(filter(toks,
          tk => !tk.isin(stops: _*)), " ")).as("cluster_key"),
        size(toks).as("n_tokens"),
        size(filter(toks, tk => tk.isin(stops: _*))).as("n_stop"))
      .select(col("doc_id"), col("cluster_key"),
        round((least(col("n_tokens") / 100.0, lit(1.0)) * 0.5
          + col("n_stop").cast(DoubleType) / col("n_tokens") * 0.5)
          * 1000000).cast(LongType).as("q6"))
    val wK = Window.partitionBy("cluster_key")
      .orderBy(col("q6").desc, col("doc_id"))
    val wC = Window.partitionBy("cluster_key")
    q.withColumn("rk", row_number().over(wK))
      .withColumn("n_members", count(lit(1)).over(wC))
      .filter(col("rk") === 1 && col("n_members") > 1)
      .select(col("cluster_key"),
        col("n_members").cast(LongType).as("n_members"),
        col("doc_id").as("keeper_doc_id"),
        round(col("q6").cast(DoubleType) / 1000000, 6)
          .as("keeper_quality"))
      .orderBy("cluster_key")
  }

  /** Hashing-trick featurization audit: per document (first 200), the
    * 4096-bucket feature-hash load — distinct terms, occupied buckets,
    * and collisions (terms sharing a bucket) — the signature every
    * hashed bag-of-words / Vowpal-style featurizer needs checked before
    * training. Bucket = md5-hash(term) mod 4096 (engine-identical); one
    * tokenize pass, doc-keyed exact distinct aggregates, nothing wider
    * than the (doc, term) table. */
  val qFeatureHashing = Q(
    "q_feature_hashing",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE doc_id < 200),
      |tc AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1),
      |d AS (SELECT DISTINCT doc_id, term FROM toks),
      |b AS (
      |  SELECT doc_id, term,
      |    CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) % 4096
      |      AS bucket
      |  FROM d),
      |x AS (
      |  SELECT doc_id, count(*) AS n_terms,
      |    count(DISTINCT bucket) AS nnz
      |  FROM b GROUP BY 1)
      |SELECT x.doc_id, CAST(tc.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(x.n_terms AS BIGINT) AS n_terms,
      |  CAST(x.nnz AS BIGINT) AS nnz,
      |  CAST(x.n_terms - x.nnz AS BIGINT) AS collisions
      |FROM x JOIN tc ON x.doc_id = tc.doc_id
      |ORDER BY x.doc_id""".stripMargin) { (s, d) =>
    val toks = t(s, d, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val b = toks.distinct()
      .withColumn("bucket", TextOps.hash60(col("term")) % 4096L)
    val x = b.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        countDistinct(col("bucket")).as("nnz"))
    x.join(tc, "doc_id")
      .select(col("doc_id"), col("n_tokens").cast(LongType).as("n_tokens"),
        col("n_terms").cast(LongType).as("n_terms"),
        col("nnz").cast(LongType).as("nnz"),
        (col("n_terms") - col("nnz")).cast(LongType).as("collisions"))
      .orderBy("doc_id")
  }

  /** Dunning log-likelihood-ratio collocations over adjacent bigrams —
    * the significance-tested complement to q_pmi_bigrams (PMI over-ranks
    * rare pairs; LLR weighs the full 2×2 contingency). Counts (c_ab,
    * first-position c_a, second-position c_b, N) are exact integers from
    * the same position-explode; the 2×2 x·ln x assembly is one double
    * expression per surviving bigram row (never summed across rows),
    * quantized ·10⁶ for the total output order. */
  val qLlrBigrams = Q(
    "q_llr_bigrams",
    """WITH toks AS (
      |  SELECT sp[k] AS term, sp[k+1] AS next
      |  FROM (SELECT string_split(text, ' ') AS sp FROM documents) d,
      |       generate_series(1, 4000) AS g(k)
      |  WHERE k < len(sp)),
      |big AS (
      |  SELECT term, next, CAST(count(*) AS HUGEINT) AS c_ab
      |  FROM toks GROUP BY 1, 2),
      |ua AS (SELECT term, CAST(sum(c_ab) AS HUGEINT) AS c_a
      |       FROM big GROUP BY term),
      |ub AS (SELECT next, CAST(sum(c_ab) AS HUGEINT) AS c_b
      |       FROM big GROUP BY next),
      |n AS (SELECT CAST(sum(c_ab) AS HUGEINT) AS nn FROM big),
      |k AS (
      |  SELECT big.term, big.next, c_ab, c_a, c_b, nn,
      |    c_a - c_ab AS k12, c_b - c_ab AS k21,
      |    nn - c_a - c_b + c_ab AS k22
      |  FROM big JOIN ua ON big.term = ua.term
      |           JOIN ub ON big.next = ub.next
      |           CROSS JOIN n
      |  WHERE c_ab >= 20),
      |llr AS (
      |  SELECT term, next, c_ab,
      |    CAST(round(2 * (
      |      (CASE WHEN c_ab > 0 THEN CAST(c_ab AS DOUBLE)
      |        * ln(CAST(c_ab AS DOUBLE)) ELSE 0 END)
      |      + (CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE)
      |        * ln(CAST(k12 AS DOUBLE)) ELSE 0 END)
      |      + (CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE)
      |        * ln(CAST(k21 AS DOUBLE)) ELSE 0 END)
      |      + (CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE)
      |        * ln(CAST(k22 AS DOUBLE)) ELSE 0 END)
      |      - CAST(c_a AS DOUBLE) * ln(CAST(c_a AS DOUBLE))
      |      - CAST(c_b AS DOUBLE) * ln(CAST(c_b AS DOUBLE))
      |      - CAST(nn - c_a AS DOUBLE) * ln(CAST(nn - c_a AS DOUBLE))
      |      - CAST(nn - c_b AS DOUBLE) * ln(CAST(nn - c_b AS DOUBLE))
      |      + CAST(nn AS DOUBLE) * ln(CAST(nn AS DOUBLE))
      |    ) * 1000000) AS BIGINT) AS llr6
      |  FROM k)
      |SELECT term, next, CAST(c_ab AS BIGINT) AS c_ab,
      |  ROUND(CAST(llr6 AS DOUBLE) / 1000000, 6) AS llr
      |FROM llr ORDER BY llr6 DESC, term, next LIMIT 20""".stripMargin) {
    (s, d) =>
    val big38 = DecimalType(38, 0)
    val toks = t(s, d, "documents")
      .select(split(col("text"), " ").as("sp"))
      .select(col("sp"), explode(sequence(lit(1), size(col("sp")) - 1))
        .as("k"))
      .select(element_at(col("sp"), col("k")).as("term"),
        element_at(col("sp"), col("k") + 1).as("next"))
    // 4 consumers (marginals ×2, N, candidate filter) — fence the corpus
    // explode once (the q_tfidf_cosine_pairs lesson, PERF.md)
    val big = toks.groupBy("term", "next")
      .agg(count(lit(1)).cast(big38).as("c_ab"))
      .localCheckpoint()
    val ua = big.groupBy("term").agg(sum(col("c_ab")).as("c_a"))
    val ub = big.groupBy("next").agg(sum(col("c_ab")).as("c_b"))
    val n = big.agg(sum(col("c_ab")).as("nn"))
    val k = big.filter(col("c_ab") >= 20)
      .join(ua, Seq("term")).join(ub, Seq("next"))
      .crossJoin(broadcast(n))
      .withColumn("k12", col("c_a") - col("c_ab"))
      .withColumn("k21", col("c_b") - col("c_ab"))
      .withColumn("k22", col("nn") - col("c_a") - col("c_b") + col("c_ab"))
    def xlx(c: org.apache.spark.sql.Column) =
      when(c > 0, c.cast(DoubleType) * log(c.cast(DoubleType)))
        .otherwise(lit(0.0))
    val llr6 = round(lit(2) * (
      xlx(col("c_ab")) + xlx(col("k12")) + xlx(col("k21")) + xlx(col("k22"))
        - col("c_a").cast(DoubleType) * log(col("c_a").cast(DoubleType))
        - col("c_b").cast(DoubleType) * log(col("c_b").cast(DoubleType))
        - (col("nn") - col("c_a")).cast(DoubleType)
          * log((col("nn") - col("c_a")).cast(DoubleType))
        - (col("nn") - col("c_b")).cast(DoubleType)
          * log((col("nn") - col("c_b")).cast(DoubleType))
        + col("nn").cast(DoubleType) * log(col("nn").cast(DoubleType)))
      * 1000000).cast(LongType)
    k.withColumn("llr6", llr6)
      .orderBy(col("llr6").desc, col("term"), col("next")).limit(20)
      .select(col("term"), col("next"), col("c_ab").cast(LongType).as("c_ab"),
        round(col("llr6").cast(DoubleType) / 1000000L, 6).as("llr"))
  }

  /** Hapax-legomenon profile per source: token/type counts and the share
    * of types seen exactly once WITHIN that source — the
    * vocabulary-freshness / OCR-noise dial (hapax-heavy sources are
    * either creative or broken; both matter before training). One
    * explode → one (source, term) count → one bounded per-source agg. */
  val qHapaxRatio = Q(
    "q_hapax_ratio",
    """WITH tt AS (
      |  SELECT source, t.term, count(*) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
      |        FROM documents) t
      |  GROUP BY source, t.term)
      |SELECT source,
      |  CAST(sum(c) AS BIGINT) AS n_tokens,
      |  count(*) AS n_types,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  ROUND(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS hapax_share
      |FROM tt GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val tt = t(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    tt.groupBy("source")
      .agg(sum(col("c")).cast(LongType).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1).otherwise(0)).cast(LongType)
          .as("n_hapax"),
        round(sum(when(col("c") === 1, 1).otherwise(0)).cast(DoubleType)
          / count(lit(1)), 6).as("hapax_share"))
      .orderBy("source")
  }

  /** Embedding-space decontamination: test-split vectors whose cosine to
    * ANY train-split vector reaches 0.99 are contamination the n-gram
    * screen (q_decontaminate) cannot see (paraphrases, translations,
    * format shifts). Same centroid-bucket blocking as q_semdedup (the
    * candidate join is cluster-keyed, never all-pairs); the train/test
    * split is the deterministic vec_id hash; planted ×1.05 twins of
    * every 40th train vector (cosine-invariant rescale) verify recall
    * end-to-end. */
  val qDecontaminateEmbed = Q(
    "q_decontaminate_embed",
    s"""WITH base AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    CASE WHEN vec_id % 10 < 8 THEN 1 ELSE 0 END AS is_train
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, v, is_train FROM base
      |  UNION ALL
      |  SELECT vec_id + 2000000 AS vec_id,
      |    list_transform(v, x -> x * 1.05) AS v, 0 AS is_train
      |  FROM base WHERE is_train = 1 AND vec_id % 40 = 0),
      |${Clustering.lowIdCentroidsCte("e", 64)},
      |${Clustering.sqDistCte("dist")},
      |${Clustering.nearestCte("a", "dist", "cid")},
      |asg AS (
      |  SELECT e.vec_id, e.v, e.is_train, a.cid AS cluster
      |  FROM e JOIN a ON e.vec_id = a.vec_id AND a.rk = 1),
      |hits AS (
      |  SELECT DISTINCT te.vec_id
      |  FROM asg tr JOIN asg te
      |    ON tr.cluster = te.cluster AND tr.is_train = 1
      |      AND te.is_train = 0
      |  WHERE ${VectorFunctions.cosine4Sql("tr.v", "te.v")} >= 0.99)
      |SELECT
      |  CAST((SELECT count(*) FROM asg WHERE is_train = 1) AS BIGINT)
      |    AS n_train,
      |  CAST((SELECT count(*) FROM asg WHERE is_train = 0) AS BIGINT)
      |    AS n_test,
      |  CAST(count(*) AS BIGINT) AS n_contaminated,
      |  CAST(sum(CASE WHEN vec_id >= 2000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_planted_caught
      |FROM hits""".stripMargin) { (s, d) =>
    val embs = t(s, d, "embeddings")
    val base = embs.select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("v"),
      when(col("vec_id") % 10 < 8, 1).otherwise(0).as("is_train"))
    val e = base.unionByName(
      base.filter(col("is_train") === 1 && col("vec_id") % 40 === 0)
        .select((col("vec_id") + 2000000).as("vec_id"),
          transform(col("v"), x => x * 1.05).as("v"),
          lit(0).as("is_train")))
    val cents = Clustering.lowIdCentroids(e, 64)
    val asg = Clustering.assign(e.select("vec_id", "v"), "v", cents)
      .join(e, Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("is_train"), col("cluster"))
      .localCheckpoint()
    val tr = asg.filter(col("is_train") === 1)
      .select(col("cluster"), col("v").as("vtr"))
    val te = asg.filter(col("is_train") === 0)
      .select(col("cluster"), col("vec_id").as("te_id"), col("v").as("vte"))
    val hits = tr.join(te, Seq("cluster"))
      .filter(VectorFunctions.cosine4(col("vtr"), col("vte")) >= 0.99)
      .select(col("te_id")).distinct()
    val counts = asg.agg(
      sum(col("is_train")).cast(LongType).as("n_train"),
      sum(lit(1) - col("is_train")).cast(LongType).as("n_test"))
    hits.agg(count(lit(1)).cast(LongType).as("n_contaminated"),
        sum(when(col("te_id") >= 2000000, 1).otherwise(0)).cast(LongType)
          .as("n_planted_caught"))
      .crossJoin(broadcast(counts))
      .select(col("n_train"), col("n_test"), col("n_contaminated"),
        col("n_planted_caught"))
  }

  /** The MMR query's round k ≥ 2 (its `s`k, `w`k and, below k = 5, the
    * `pk`k CTEs): the best 2·rel4 − maxsim4 candidate not yet picked. */
  private def mmrRoundSql(k: Int): String = {
    val pk = s"pk${k - 1}"
    s"""s$k AS (
       |  SELECT c.vec_id,
       |    2 * max(c.rel4) - max(${rel4Sql("c.v", "p.v")})
       |      AS score2
       |  FROM pool c CROSS JOIN $pk p
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $pk)
       |  GROUP BY c.vec_id),
       |w$k AS (SELECT * FROM s$k ORDER BY score2 DESC, vec_id LIMIT 1)""".stripMargin +
      (if (k == 5) "" else
        s""",
           |pk$k AS (SELECT * FROM $pk UNION ALL
           |        SELECT p.vec_id, p.v FROM pool p JOIN w$k USING (vec_id))""".stripMargin)
  }

  /** The 4-dp cosine as an integer count of 10⁻⁴, MMR's exact score unit. */
  private def rel4Sql(a: String, b: String): String =
    s"CAST(round(${VectorFunctions.cosine4Sql(a, b)} * 10000) AS BIGINT)"

  /** Maximal-marginal-relevance (MMR, λ = 0.5) diverse top-5 selection
    * from the 20-candidate relevance pool of probe vec 0 — the
    * diversity-aware re-ranker a retrieval-augmented pipeline (or a
    * dedup-aware few-shot example picker) runs instead of naive top-k.
    * Five unrolled argmax rounds over the BOUNDED pool (the q_anomaly_esd
    * contract): every relevance and pairwise similarity is a 4-dp-rounded
    * cosine scaled to an integer, the MMR score is the exact integer
    * 2·rel4 − maxsim4, and every pick breaks ties by vec_id. */
  val qMmrSelect = Q(
    "q_mmr_select",
    s"""WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
      |pool AS (
      |  SELECT e.vec_id, e.v,
      |    ${rel4Sql("e.v", "probe.pv")} AS rel4
      |  FROM e, probe WHERE e.vec_id <> 0
      |  ORDER BY rel4 DESC, e.vec_id LIMIT 20),
      |w1 AS (SELECT vec_id, 2 * rel4 AS score2 FROM pool
      |       ORDER BY rel4 DESC, vec_id LIMIT 1),
      |pk1 AS (SELECT p.vec_id, p.v FROM pool p JOIN w1 USING (vec_id)),
      |${(2 to 5).map(mmrRoundSql).mkString(",\n")},
      |ranked AS (
      |  SELECT 1 AS rank, vec_id, score2 FROM w1
      |  UNION ALL SELECT 2, vec_id, score2 FROM w2
      |  UNION ALL SELECT 3, vec_id, score2 FROM w3
      |  UNION ALL SELECT 4, vec_id, score2 FROM w4
      |  UNION ALL SELECT 5, vec_id, score2 FROM w5)
      |SELECT r.rank, r.vec_id,
      |  ROUND(CAST(p.rel4 AS DOUBLE) / 10000, 4) AS relevance,
      |  ROUND(CAST(r.score2 AS DOUBLE) / 20000, 6) AS mmr_score
      |FROM ranked r JOIN pool p ON r.vec_id = p.vec_id
      |ORDER BY r.rank""".stripMargin) { (s, d) =>
    val embs = t(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val probe = embs.filter(col("vec_id") === 0).select(col("v").as("pv"))
    def sim4(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round(VectorFunctions.cosine4(a, b) * 10000).cast(LongType)
    val pool = embs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("v"), sim4(col("v"), col("pv")).as("rel4"))
      .orderBy(col("rel4").desc, col("vec_id")).limit(20)
      .localCheckpoint()
    def mmrRound(picked: DataFrame): DataFrame = {
      // picked: (vec_id, v); pool is 20 rows, picked ≤ 4 — all broadcast
      val cand = pool.join(picked.select(col("vec_id").as("px")),
        col("vec_id") === col("px"), "left_anti")
      cand.crossJoin(broadcast(picked.select(col("v").as("pv2"))))
        .groupBy("vec_id")
        .agg((lit(2) * max(col("rel4"))
          - max(sim4(col("v"), col("pv2")))).as("score2"))
        .orderBy(col("score2").desc, col("vec_id")).limit(1)
    }
    val w1 = pool.orderBy(col("rel4").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), (lit(2) * col("rel4")).as("score2"))
    def pickedSet(ws: Seq[DataFrame]): DataFrame =
      ws.map(w => pool.join(w.select("vec_id"), Seq("vec_id"))
        .select("vec_id", "v")).reduce(_ unionAll _)
    val w2 = mmrRound(pickedSet(Seq(w1)))
    val w3 = mmrRound(pickedSet(Seq(w1, w2)))
    val w4 = mmrRound(pickedSet(Seq(w1, w2, w3)))
    val w5 = mmrRound(pickedSet(Seq(w1, w2, w3, w4)))
    val ranked = Seq(w1, w2, w3, w4, w5).zipWithIndex
      .map { case (w, i) =>
        w.select(lit(i + 1).as("rank"), col("vec_id"), col("score2")) }
      .reduce(_ unionAll _)
    ranked.join(pool.select(col("vec_id"), col("rel4")), Seq("vec_id"))
      .select(col("rank"), col("vec_id"),
        round(col("rel4").cast(DoubleType) / 10000, 4).as("relevance"),
        round(col("score2").cast(DoubleType) / 20000, 6).as("mmr_score"))
      .orderBy("rank")
  }

  /** Curriculum ordering: rank the corpus by a difficulty proxy (mean
    * token length, the exact integer (chars·10⁴) DIV tokens) and cut it
    * into 4 curriculum phases with per-phase volume/difficulty stats —
    * the easy→hard schedule builder (swap in any difficulty score; the
    * phase-cut plumbing is this query). GlobalRank ntile, never a
    * corpus-sized unpartitioned window. */
  val qCurriculumOrder = Q(
    "q_curriculum_order",
    """WITH x AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_tok,
      |    (n_chars * 10000) // len(string_split(text, ' ')) AS d4
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_tok, d4,
      |    ntile(4) OVER (ORDER BY d4, doc_id) AS phase
      |  FROM x)
      |SELECT phase, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(sum(d4) AS DOUBLE) / count(*) / 10000, 6)
      |    AS mean_difficulty,
      |  ROUND(CAST(min(d4) AS DOUBLE) / 10000, 4) AS min_difficulty,
      |  ROUND(CAST(max(d4) AS DOUBLE) / 10000, 4) AS max_difficulty
      |FROM r GROUP BY phase ORDER BY phase""".stripMargin) { (s, d) =>
    import graft.plans.GlobalRank
    val x = t(s, d, "documents").select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("n_tok"),
      expr("(n_chars * 10000) DIV size(split(text, ' '))").as("d4"))
    val (ranked, n) = GlobalRank.withGlobalRowNumber(x, "rk", 16,
      col("d4"), col("doc_id"))
    ranked
      .withColumn("phase",
        GlobalRank.ntileFromRank(col("rk"), n, 4).cast(LongType))
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("n_tokens"),
        round(sum(col("d4")).cast(DoubleType) / count(lit(1)) / 10000L, 6)
          .as("mean_difficulty"),
        round(min(col("d4")).cast(DoubleType) / 10000L, 4)
          .as("min_difficulty"),
        round(max(col("d4")).cast(DoubleType) / 10000L, 4)
          .as("max_difficulty"))
      .orderBy("phase")
  }

  /** Burrows' Delta authorship/register distance between corpus sources:
    * per-source rates (per-1000-token, exact integer DIV) of eight
    * function words, z-scored across the bounded source panel, then
    * Δ(a,b) = mean |z_a − z_b| per source pair — the stylometry screen
    * that flags a source whose "voice" shifted (scraper broke, new
    * upstream, template change). All cross-row sums are exact integers
    * (rates and z·10⁶ quantized per row); σ per word comes from exact
    * 5-row moments. */
  val qBurrowsDelta = Q(
    "q_burrows_delta",
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |st AS (SELECT source, count(*) AS nt FROM toks GROUP BY 1),
      |fw AS (
      |  SELECT source, term, count(*) AS c FROM toks
      |  WHERE term IN ('scan','column','window','order','sort','part',
      |    'agg','key')
      |  GROUP BY 1, 2),
      |rate AS (
      |  SELECT st.source, w.term,
      |    COALESCE(fw.c, 0) * 1000000 // st.nt AS r6
      |  FROM st CROSS JOIN (
      |    SELECT unnest(['scan','column','window','order','sort','part',
      |      'agg','key']) AS term) w
      |  LEFT JOIN fw ON fw.source = st.source AND fw.term = w.term),
      |mo AS (
      |  SELECT term, count(*) AS k, sum(r6) AS s,
      |    sum(CAST(r6 AS HUGEINT) * r6) AS sq
      |  FROM rate GROUP BY 1),
      |z AS (
      |  SELECT rate.source, rate.term,
      |    CASE WHEN k * sq - s * s <= 0 THEN 0
      |      ELSE CAST(round((r6 - CAST(s AS DOUBLE) / k)
      |        / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / k) / k)
      |        * 1000000) AS BIGINT) END AS z6
      |  FROM rate JOIN mo ON rate.term = mo.term),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    sum(abs(a.z6 - b.z6)) // count(*) AS d6
      |  FROM z a JOIN z b ON a.term = b.term AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b,
      |  ROUND(CAST(d6 AS DOUBLE) / 1e6, 6) AS burrows_delta
      |FROM pairs ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
    val words = Seq("scan", "column", "window", "order", "sort", "part",
      "agg", "key")
    val toks = t(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
    val st = toks.groupBy("source").agg(count(lit(1)).as("nt"))
    val fw = toks.filter(col("term").isin(words: _*))
      .groupBy(col("source").as("fsource"), col("term").as("fterm"))
      .agg(count(lit(1)).as("c"))
    import s.implicits._
    val w = words.toDF("term")
    // st/fw/z are (source × 8-term) DOMAIN panels — broadcast explicitly
    // so scale-grown size estimates never demote these joins to SMJ (the
    // sf0.1 audit caught exactly that on the unhinted pairs join)
    val rate = st.crossJoin(broadcast(w))
      .join(broadcast(fw), col("source") === col("fsource")
        && col("term") === col("fterm"), "left")
      .select(col("source"), col("term"),
        expr("coalesce(c, 0) * 1000000 DIV nt").as("r6"))
    val mo = rate.groupBy(col("term").as("mterm")).agg(
      count(lit(1)).as("k"), sum(col("r6")).as("s"),
      sum(col("r6").cast(DecimalType(38, 0)) * col("r6")).as("sq"))
    val z = rate.join(broadcast(mo), col("term") === col("mterm"))
      .select(col("source"), col("term"),
        when(col("k") * col("sq") - col("s") * col("s") <= 0, lit(0L))
          .otherwise(round((col("r6") - col("s").cast(DoubleType) / col("k"))
            / sqrt((col("sq").cast(DoubleType)
              - col("s").cast(DoubleType) * col("s") / col("k"))
              / col("k"))
            * 1000000).cast(LongType)).as("z6"))
    val a = z.select(col("source").as("source_a"), col("term"),
      col("z6").as("za"))
    val b = z.select(col("source").as("source_b"),
      col("term").as("bterm"), col("z6").as("zb"))
    val pairs = a.join(broadcast(b), col("term") === col("bterm")
        && col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(expr("sum(abs(za - zb)) DIV count(*)").as("d6"))
    pairs.select(col("source_a"), col("source_b"),
        round(col("d6").cast(DoubleType) / 1e6, 6).as("burrows_delta"))
      .orderBy("source_a", "source_b")
  }

  /** Per-class precision/recall/F1 + overall accuracy for the
    * q_text_langid heuristic against the labeled lang column — closing
    * the eval loop on the engine's own classifier (the confusion matrix
    * q_text_langid emits, priced into the metrics every model card
    * wants). Exact integer TP/FP/FN; metrics are ·10⁶ integer DIVs. */
  val qLangidMetrics = Q(
    "q_langid_metrics",
    s"""WITH p AS (
      |  ${TextOps.predictedLangSql}),
      |cls AS (SELECT DISTINCT lang AS c FROM p),
      |m AS (
      |  SELECT cls.c,
      |    (SELECT count(*) FROM p WHERE lang = cls.c
      |      AND predicted = cls.c) AS tp,
      |    (SELECT count(*) FROM p WHERE lang <> cls.c
      |      AND predicted = cls.c) AS fp,
      |    (SELECT count(*) FROM p WHERE lang = cls.c
      |      AND predicted <> cls.c) AS fn
      |  FROM cls),
      |acc AS (
      |  SELECT sum(CASE WHEN lang = predicted THEN 1 ELSE 0 END)
      |    * 1000000 // count(*) AS a6
      |  FROM p)
      |SELECT c AS lang, CAST(tp AS BIGINT) AS tp,
      |  CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
      |  ROUND(CAST(CASE WHEN tp + fp > 0
      |    THEN tp * 1000000 // (tp + fp) ELSE 0 END AS DOUBLE) / 1e6, 6)
      |    AS precision,
      |  ROUND(CAST(CASE WHEN tp + fn > 0
      |    THEN tp * 1000000 // (tp + fn) ELSE 0 END AS DOUBLE) / 1e6, 6)
      |    AS recall,
      |  ROUND(CAST(CASE WHEN 2 * tp + fp + fn > 0
      |    THEN 2 * tp * 1000000 // (2 * tp + fp + fn) ELSE 0 END
      |    AS DOUBLE) / 1e6, 6) AS f1,
      |  ROUND(CAST(a6 AS DOUBLE) / 1e6, 6) AS overall_accuracy
      |FROM m, acc ORDER BY lang""".stripMargin) { (s, d) =>
    val p = graft.llm.TextOps.langIdConfusion(t(s, d, "documents"))
    // confusion counts → per-class tp/fp/fn by conditional sums
    val perClass = p
      .select(col("lang"), col("predicted"), col("cnt"))
    val classes = perClass.select(col("lang").as("c")).distinct()
    val m = classes
      .crossJoin(broadcast(perClass))
      .groupBy("c")
      .agg(
        sum(when(col("lang") === col("c")
          && col("predicted") === col("c"), col("cnt")).otherwise(0L))
          .as("tp"),
        sum(when(col("lang") =!= col("c")
          && col("predicted") === col("c"), col("cnt")).otherwise(0L))
          .as("fp"),
        sum(when(col("lang") === col("c")
          && col("predicted") =!= col("c"), col("cnt")).otherwise(0L))
          .as("fn"))
    val acc = perClass.agg(
      expr("sum(CASE WHEN lang = predicted THEN cnt ELSE 0 END)" +
        " * 1000000 DIV sum(cnt)").as("a6"))
    m.crossJoin(broadcast(acc))
      .select(col("c").as("lang"), col("tp").cast(LongType).as("tp"),
        col("fp").cast(LongType).as("fp"),
        col("fn").cast(LongType).as("fn"),
        round(expr("CASE WHEN tp + fp > 0" +
          " THEN tp * 1000000 DIV (tp + fp) ELSE 0 END")
          .cast(DoubleType) / 1e6, 6).as("precision"),
        round(expr("CASE WHEN tp + fn > 0" +
          " THEN tp * 1000000 DIV (tp + fn) ELSE 0 END")
          .cast(DoubleType) / 1e6, 6).as("recall"),
        round(expr("CASE WHEN 2 * tp + fp + fn > 0" +
          " THEN 2 * tp * 1000000 DIV (2 * tp + fp + fn) ELSE 0 END")
          .cast(DoubleType) / 1e6, 6).as("f1"),
        round(col("a6").cast(DoubleType) / 1e6, 6).as("overall_accuracy"))
      .orderBy("lang")
  }

  /** Int8 symmetric-quantization audit of the embedding corpus — the
    * compression decision every billion-vector ANN index makes (4×
    * smaller, how much recall risk?): per vector, scale = 127/max|x|,
    * q_i = round(x_i·scale), and the reconstruction's cosine + max
    * absolute error vs the original. Per-vector doubles (identical op
    * order) quantize to ·10⁶/·10⁹ integers BEFORE the corpus sums;
    * the worst-vector argmax is an integer argmax. */
  val qEmbedQuantizeAudit = Q(
    "q_embed_quantize_audit",
    s"""WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings),
      |sc AS (
      |  SELECT vec_id, e,
      |    127.0 / list_max(list_transform(e, x -> abs(x))) AS scale
      |  FROM v),
      |rc AS (
      |  SELECT vec_id, e,
      |    list_transform(e, x -> round(x * scale) / scale) AS r
      |  FROM sc),
      |pv AS (
      |  SELECT vec_id,
      |    CAST(round(${VectorFunctions.cosineSql("e", "r")} * 1000000) AS BIGINT) AS c6,
      |    CAST(round(list_max(list_transform(
      |      generate_series(1, len(e)), i -> abs(e[i] - r[i])))
      |      * 1000000000) AS BIGINT) AS me9
      |  FROM rc)
      |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  ROUND(CAST(sum(c6) AS DOUBLE) / count(*) / 1e6, 6)
      |    AS mean_cosine,
      |  ROUND(CAST(max(me9) AS DOUBLE) / 1e9, 6) AS worst_abs_err,
      |  ROUND(CAST(sum(me9) AS DOUBLE) / count(*) / 1e9, 6)
      |    AS mean_max_abs_err
      |FROM pv""".stripMargin) { (s, d) =>
    val v = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val sc = v.withColumn("scale",
      lit(127.0) / array_max(transform(col("e"), x => abs(x))))
    val rc = sc.withColumn("r",
      transform(col("e"), x => round(x * col("scale")) / col("scale")))
    val dot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val pv = rc.select(col("vec_id"),
      round(dot(col("e"), col("r"))
        / sqrt(dot(col("e"), col("e")))
        / sqrt(dot(col("r"), col("r"))) * 1000000).cast(LongType).as("c6"),
      round(array_max(zip_with(col("e"), col("r"),
        (x, y) => abs(x - y))) * 1000000000L).cast(LongType).as("me9"))
    pv.agg(count(lit(1)).cast(LongType).as("n_vectors"),
      round(sum(col("c6")).cast(DoubleType) / count(lit(1)) / 1e6, 6)
        .as("mean_cosine"),
      round(max(col("me9")).cast(DoubleType) / 1e9, 6).as("worst_abs_err"),
      round(sum(col("me9")).cast(DoubleType) / count(lit(1)) / 1e9, 6)
        .as("mean_max_abs_err"))
  }

  /** TextRank keyword extraction: PageRank (d = 0.85, two quantized
    * rounds) over the symmetric adjacent-token co-occurrence graph
    * (edge weight = bigram count, edges below 5 pruned) — the zero-model
    * graph-ranking complement to q_rake_keywords and q_tfidf_topterms.
    * Scores live as exact ·10¹² integers: per-edge contributions are
    * (q12·w) DIV outw, teleport is an integer DIV, every round's state
    * is exactly reproducible at any parallelism (the
    * q_eigenvector_centrality contract on an UNBOUNDED vocabulary graph
    * — all joins are term-keyed shuffles, no driver state). */
  val qTextrank = Q(
    "q_textrank",
    """WITH sp AS (SELECT string_split(text, ' ') AS sp FROM documents),
      |toks AS (
      |  SELECT sp[k] AS a, sp[k+1] AS b
      |  FROM sp, generate_series(1, 4000) AS g(k)
      |  WHERE k < len(sp)),
      |big AS (
      |  SELECT a, b, count(*) AS c FROM toks WHERE a <> b GROUP BY 1, 2),
      |sym AS (
      |  SELECT u, v, sum(c) AS w FROM (
      |    SELECT a AS u, b AS v, c FROM big
      |    UNION ALL SELECT b, a, c FROM big) x
      |  GROUP BY 1, 2 HAVING sum(c) >= 5),
      |ow AS (SELECT u, CAST(sum(w) AS HUGEINT) AS outw FROM sym
      |       GROUP BY 1),
      |nv AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM ow),
      |r0 AS (
      |  SELECT u AS id, CAST(1000000000000 AS HUGEINT) // n AS q12
      |  FROM ow, nv),
      |c1 AS (
      |  SELECT sym.v AS id,
      |    sum((r0.q12 * sym.w) // ow.outw) AS infl
      |  FROM sym JOIN r0 ON sym.u = r0.id JOIN ow ON sym.u = ow.u
      |  GROUP BY sym.v),
      |r1 AS (
      |  SELECT ow.u AS id,
      |    CAST(15000000000000 AS HUGEINT) // (100 * nv.n)
      |      + (85 * COALESCE(c1.infl, 0)) // 100 AS q12
      |  FROM ow CROSS JOIN nv LEFT JOIN c1 ON c1.id = ow.u),
      |c2 AS (
      |  SELECT sym.v AS id,
      |    sum((r1.q12 * sym.w) // ow.outw) AS infl
      |  FROM sym JOIN r1 ON sym.u = r1.id JOIN ow ON sym.u = ow.u
      |  GROUP BY sym.v),
      |r2 AS (
      |  SELECT ow.u AS id,
      |    CAST(15000000000000 AS HUGEINT) // (100 * nv.n)
      |      + (85 * COALESCE(c2.infl, 0)) // 100 AS q12
      |  FROM ow CROSS JOIN nv LEFT JOIN c2 ON c2.id = ow.u)
      |SELECT id AS term, ROUND(CAST(q12 AS DOUBLE) / 1e12, 6) AS textrank
      |FROM r2 ORDER BY q12 DESC, id LIMIT 20""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val toks = t(s, d, "documents")
      .select(split(col("text"), " ").as("sp"))
      .select(col("sp"), explode(sequence(lit(1), size(col("sp")) - 1))
        .as("k"))
      .select(element_at(col("sp"), col("k")).as("a"),
        element_at(col("sp"), col("k") + 1).as("b"))
    val big = toks.filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val sym = big.select(col("a").as("u"), col("b").as("v"), col("c"))
      .unionByName(big.select(col("b").as("u"), col("a").as("v"),
        col("c")))
      .groupBy("u", "v").agg(sum(col("c")).as("w"))
      .filter(col("w") >= 5)
      .localCheckpoint()
    val ow = sym.groupBy("u").agg(sum(col("w")).cast(big38).as("outw"))
    val nv = ow.agg(count(lit(1)).cast(big38).as("n"))
    val r0 = ow.crossJoin(broadcast(nv))
      .select(col("u").as("id"),
        expr("CAST(1000000000000 AS DECIMAL(38,0)) DIV n").as("q12"))
    def step(r: DataFrame): DataFrame = {
      val infl = sym
        .join(r.withColumnRenamed("id", "rid"), col("u") === col("rid"))
        .join(ow.withColumnRenamed("u", "ou").withColumnRenamed(
          "outw", "outw2"), col("u") === col("ou"))
        .groupBy(col("v").as("iid"))
        .agg(sum(expr("(CAST(q12 AS DECIMAL(38,0)) * w) DIV outw2"))
          .as("infl"))
      ow.crossJoin(broadcast(nv))
        .join(infl, col("u") === col("iid"), "left")
        .select(col("u").as("id"),
          (expr("CAST(15000000000000 AS DECIMAL(38,0)) DIV (100 * n)")
            + expr("(85 * coalesce(infl, 0)) DIV 100")).as("q12"))
    }
    val r2 = step(step(r0))
    r2.orderBy(col("q12").desc, col("id")).limit(20)
      .select(col("id").as("term"),
        round(col("q12").cast(DoubleType) / 1e12, 6).as("textrank"))
  }

  /** Test-set bigram coverage by the train split (token-occurrence AND
    * type coverage) — the n-gram-LM counterpart of q_ngram_novelty's
    * shingle leakage audit: how much of the held-out text will a model
    * trained on the 80% split even have conditioning context for. Same
    * md5-hash-deterministic split as q_split_train_test; coverage
    * shares are exact (cov·10⁶) DIV totals. */
  val qNgramCoverage = Q(
    "q_ngram_coverage",
    """WITH sp AS (
      |  SELECT string_split(text, ' ') AS sp,
      |    CASE WHEN CAST(concat('0x', substr(md5(text), 1, 15))
      |      AS BIGINT) % 10 < 8 THEN 'train' ELSE 'test' END AS split
      |  FROM documents),
      |toks AS (
      |  SELECT split, sp[k] || ' ' || sp[k+1] AS bg
      |  FROM sp, generate_series(1, 4000) AS g(k)
      |  WHERE k < len(sp)),
      |tr AS (SELECT DISTINCT bg FROM toks WHERE split = 'train'),
      |te AS (
      |  SELECT toks.bg, count(*) AS c,
      |    CASE WHEN tr.bg IS NOT NULL THEN 1 ELSE 0 END AS covered
      |  FROM toks LEFT JOIN tr ON toks.bg = tr.bg
      |  WHERE split = 'test'
      |  GROUP BY toks.bg, covered),
      |ag AS (
      |  SELECT sum(c) AS n_tok, sum(covered * c) AS cov_tok,
      |    count(*) AS n_typ, sum(covered) AS cov_typ
      |  FROM te)
      |SELECT CAST(n_tok AS BIGINT) AS test_bigram_tokens,
      |  CAST(n_typ AS BIGINT) AS test_bigram_types,
      |  ROUND(CAST(cov_tok * 1000000 // n_tok AS DOUBLE) / 1e6, 6)
      |    AS token_coverage,
      |  ROUND(CAST(cov_typ * 1000000 // n_typ AS DOUBLE) / 1e6, 6)
      |    AS type_coverage
      |FROM ag""".stripMargin) { (s, d) =>
    val sp = t(s, d, "documents")
      .select(split(col("text"), " ").as("sp"),
        when(graft.llm.TextOps.hash60(col("text")) % 10 < 8, "train")
          .otherwise("test").as("split"))
    val toks = sp
      .select(col("split"),
        explode(sequence(lit(1), size(col("sp")) - 1)).as("k"),
        col("sp"))
      .select(col("split"),
        concat(element_at(col("sp"), col("k")), lit(" "),
          element_at(col("sp"), col("k") + 1)).as("bg"))
    val tr = toks.filter(col("split") === "train")
      .select(col("bg").as("tbg")).distinct()
    val te = toks.filter(col("split") === "test")
      .join(tr, col("bg") === col("tbg"), "left")
      .groupBy(col("bg"),
        when(col("tbg").isNotNull, 1).otherwise(0).as("covered"))
      .agg(count(lit(1)).as("c"))
    val ag = te.agg(sum(col("c")).as("n_tok"),
      sum(col("covered") * col("c")).as("cov_tok"),
      count(lit(1)).as("n_typ"), sum(col("covered")).as("cov_typ"))
    ag.select(col("n_tok").cast(LongType).as("test_bigram_tokens"),
      col("n_typ").cast(LongType).as("test_bigram_types"),
      round(expr("cov_tok * 1000000 DIV n_tok").cast(DoubleType) / 1e6, 6)
        .as("token_coverage"),
      round(expr("cov_typ * 1000000 DIV n_typ").cast(DoubleType) / 1e6, 6)
        .as("type_coverage"))
  }

  /** Prefix-duplication audit: documents sharing an identical 64-char
    * prefix — the boilerplate/mirror signature exact-hash dedup misses
    * when tails differ (truncated mirrors, templated intros). Clusters
    * keyed by the md5 of the prefix (16 hex chars in the output, not
    * raw text); top 20 by size under a total order. One groupBy — at
    * 100 TB this is the cheapest dedup screen that exists. */
  val qDedupPrefix = Q(
    "q_dedup_prefix",
    """WITH g AS (
      |  SELECT substr(md5(substr(text, 1, 64)), 1, 16) AS prefix_key,
      |    count(*) AS n_docs, min(doc_id) AS keeper
      |  FROM documents GROUP BY 1)
      |SELECT prefix_key, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(keeper AS BIGINT) AS keeper_doc,
      |  CAST(n_docs - 1 AS BIGINT) AS removable
      |FROM g WHERE n_docs > 1
      |ORDER BY n_docs DESC, prefix_key LIMIT 20""".stripMargin) { (s, d) =>
    val g = t(s, d, "documents")
      .groupBy(substring(md5(substring(col("text"), 1, 64)), 1, 16)
        .as("prefix_key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
    g.filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("prefix_key"))
      .limit(20)
      .select(col("prefix_key"), col("n_docs").cast(LongType).as("n_docs"),
        col("keeper").cast(LongType).as("keeper_doc"),
        (col("n_docs") - 1).cast(LongType).as("removable"))
  }

  /** Longest identical-consecutive-token run per document, rolled into a
    * bounded run-length histogram — the degenerate-generation /
    * stuck-scraper detector ("the the the the") that q_text_repetition's
    * shingle-share misses for SHORT loops in long docs. Position explode
    * + per-doc lag comparison; run lengths via the gaps-and-islands
    * running sum; all integers. */
  val qTokenRuns = Q(
    "q_token_runs",
    """WITH toks AS (
      |  SELECT doc_id, k, sp[k] AS term,
      |    CASE WHEN k > 1 AND sp[k] = sp[k-1] THEN 0 ELSE 1 END
      |      AS new_run
      |  FROM (SELECT doc_id, string_split(text, ' ') AS sp
      |        FROM documents) d,
      |       generate_series(1, 4000) AS g(k)
      |  WHERE k <= len(sp)),
      |runs AS (
      |  SELECT doc_id,
      |    sum(new_run) OVER (PARTITION BY doc_id ORDER BY k) AS run_id
      |  FROM toks),
      |rl AS (
      |  SELECT doc_id, run_id, count(*) AS run_len
      |  FROM runs GROUP BY 1, 2),
      |md AS (SELECT doc_id, max(run_len) AS max_run FROM rl GROUP BY 1)
      |SELECT CAST(max_run AS BIGINT) AS max_run,
      |  CAST(count(*) AS BIGINT) AS n_docs
      |FROM md GROUP BY max_run ORDER BY max_run""".stripMargin) { (s, d) =>
    val toks = t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("sp"))
      .select(col("doc_id"), col("sp"),
        explode(sequence(lit(1), size(col("sp")))).as("k"))
      .select(col("doc_id"), col("k"),
        when(col("k") > 1 && element_at(col("sp"), col("k"))
          === element_at(col("sp"), col("k") - 1), 0).otherwise(1)
          .as("new_run"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("k")
    val runs = toks.withColumn("run_id", sum(col("new_run")).over(w))
    val rl = runs.groupBy("doc_id", "run_id")
      .agg(count(lit(1)).as("run_len"))
    val md = rl.groupBy("doc_id").agg(max(col("run_len")).as("max_run"))
    md.groupBy(col("max_run").cast(LongType).as("max_run"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"))
      .orderBy("max_run")
  }

  /** Pairwise cosine between per-label embedding centroids — the
    * class-geometry map (which labels are near-synonyms, which are
    * isolated) that explains q_knn_per_label's confusions and predicts
    * where IVF cells will mix classes. Per-element values quantize to
    * ·10⁶ integers BEFORE the per-(label, dim) sums, centroids are
    * exact integer DIVs, and the 45-pair cosine matrix is exact-int dot
    * products — no double is ever summed. */
  val qCentroidDrift = Q(
    "q_centroid_drift",
    """WITH el AS (
      |  SELECT label, i,
      |    CAST(round(list_extract(CAST(embedding AS DOUBLE[]), i)
      |      * 1000000) AS BIGINT) AS x6
      |  FROM embeddings, generate_series(1, 64) AS g(i)),
      |cen AS (
      |  -- +2e6/row offset keeps the dividend positive so floor (//) and
      |  -- truncate (Spark DIV) agree; the shift cancels exactly
      |  SELECT label, i,
      |    (sum(x6) + count(*) * 2000000) // count(*) - 2000000 AS c6
      |  FROM el GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.label AS label_a, b.label AS label_b,
      |    sum(CAST(a.c6 AS HUGEINT) * b.c6) AS dot,
      |    sum(CAST(a.c6 AS HUGEINT) * a.c6) AS na,
      |    sum(CAST(b.c6 AS HUGEINT) * b.c6) AS nb
      |  FROM cen a JOIN cen b ON a.i = b.i AND a.label < b.label
      |  GROUP BY 1, 2)
      |SELECT label_a, label_b,
      |  ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE))
      |    / sqrt(CAST(nb AS DOUBLE)), 6) AS centroid_cosine
      |FROM pairs ORDER BY label_a, label_b""".stripMargin) { (s, d) =>
    val el = t(s, d, "embeddings")
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("i0", "x")))
      .select(col("label"), (col("i0") + 1).as("i"),
        round(col("x") * 1000000).cast(LongType).as("x6"))
    val cen = el.groupBy("label", "i")
      .agg(expr("(sum(x6) + count(*) * 2000000) DIV count(*) - 2000000")
        .as("c6"))
    val a = cen.select(col("label").as("label_a"), col("i"),
      col("c6").as("ca"))
    val b = cen.select(col("label").as("label_b"), col("i").as("bi"),
      col("c6").as("cb"))
    val pairs = a.join(b, col("i") === col("bi")
        && col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("ca").cast(DecimalType(38, 0)) * col("cb")).as("dot"),
        sum(col("ca").cast(DecimalType(38, 0)) * col("ca")).as("na"),
        sum(col("cb").cast(DecimalType(38, 0)) * col("cb")).as("nb"))
    pairs.select(col("label_a"), col("label_b"),
        round(col("dot").cast(DoubleType) / sqrt(col("na").cast(DoubleType))
          / sqrt(col("nb").cast(DoubleType)), 6).as("centroid_cosine"))
      .orderBy("label_a", "label_b")
  }

  /** Per-dimension embedding statistics (mean, σ, min, max, dead-dim
    * flag) — the whitening/pruning pre-pass every retrieval stack runs:
    * a near-zero-variance dimension wastes index bytes, a huge-variance
    * one dominates every L2 distance. 64-row bounded output; per-element
    * ·10⁶ quantization before the per-dim exact sums (offset-DIV means,
    * exact integer moments). */
  val qEmbedDimStats = Q(
    "q_embed_dim_stats",
    """WITH el AS (
      |  SELECT i,
      |    CAST(round(list_extract(CAST(embedding AS DOUBLE[]), i)
      |      * 1000000) AS BIGINT) AS x6
      |  FROM embeddings, generate_series(1, 64) AS g(i)),
      |st AS (
      |  SELECT i, count(*) AS n,
      |    (sum(x6) + count(*) * 2000000) // count(*) - 2000000 AS m6,
      |    sum(CAST(x6 AS HUGEINT) * x6) AS sq, sum(x6) AS s,
      |    min(x6) AS mn, max(x6) AS mx
      |  FROM el GROUP BY i)
      |SELECT CAST(i AS BIGINT) AS dim,
      |  ROUND(CAST(m6 AS DOUBLE) / 1e6, 6) AS mean,
      |  ROUND(sqrt((CAST(sq AS DOUBLE)
      |    - CAST(s AS DOUBLE) * s / n) / n) / 1e6, 6) AS stddev,
      |  ROUND(CAST(mn AS DOUBLE) / 1e6, 6) AS min_v,
      |  ROUND(CAST(mx AS DOUBLE) / 1e6, 6) AS max_v,
      |  CASE WHEN CAST(sq AS HUGEINT) * n - CAST(s AS HUGEINT) * s
      |    < CAST(n AS HUGEINT) * n * 100000000 THEN 1 ELSE 0 END
      |    AS near_dead
      |FROM st ORDER BY dim""".stripMargin) { (s, d) =>
    val el = t(s, d, "embeddings")
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("i0", "x")))
      .select((col("i0") + 1).as("i"),
        round(col("x") * 1000000).cast(LongType).as("x6"))
    val st = el.groupBy("i").agg(count(lit(1)).as("n"),
      expr("(sum(x6) + count(*) * 2000000) DIV count(*) - 2000000")
        .as("m6"),
      sum(col("x6").cast(DecimalType(38, 0)) * col("x6")).as("sq"),
      sum(col("x6")).as("s"), min(col("x6")).as("mn"),
      max(col("x6")).as("mx"))
    st.select(col("i").cast(LongType).as("dim"),
        round(col("m6").cast(DoubleType) / 1e6, 6).as("mean"),
        round(sqrt((col("sq").cast(DoubleType)
          - col("s").cast(DoubleType) * col("s") / col("n")) / col("n"))
          / 1e6, 6).as("stddev"),
        round(col("mn").cast(DoubleType) / 1e6, 6).as("min_v"),
        round(col("mx").cast(DoubleType) / 1e6, 6).as("max_v"),
        when(col("sq").cast(DecimalType(38, 0)) * col("n")
          - col("s").cast(DecimalType(38, 0)) * col("s")
          < col("n").cast(DecimalType(38, 0)) * col("n") * 100000000L, 1)
          .otherwise(0).as("near_dead"))
      .orderBy("dim")
  }

  /** Chunk-level redundancy audit over the q_chunk_docs grid (stride
    * 100, window 120, ALL docs): distinct-chunk share and the largest
    * duplicate-chunk clusters — how much near-boilerplate a RAG index
    * would store twice. md5 chunk keys; exact integer ratios. */
  val qChunkDedup = Q(
    "q_chunk_dedup",
    """WITH ch AS (
      |  SELECT substr(md5(substr(text, k * 100 + 1, 120)), 1, 16) AS ck
      |  FROM documents, generate_series(0, 50) AS g(k)
      |  WHERE k <= (length(text) - 1) // 100),
      |g AS (SELECT ck, count(*) AS c FROM ch GROUP BY ck),
      |ag AS (
      |  SELECT sum(c) AS n_chunks, count(*) AS n_distinct,
      |    max(c) AS biggest_cluster
      |  FROM g)
      |SELECT CAST(n_chunks AS BIGINT) AS n_chunks,
      |  CAST(n_distinct AS BIGINT) AS n_distinct,
      |  CAST(biggest_cluster AS BIGINT) AS biggest_cluster,
      |  ROUND(CAST((n_chunks - n_distinct) * 1000000 // n_chunks
      |    AS DOUBLE) / 1e6, 6) AS dup_share
      |FROM ag""".stripMargin) { (s, d) =>
    val ch = t(s, d, "documents")
      .select(col("text"),
        explode(sequence(lit(0), lit(50))).as("k"))
      .filter(col("k") <= expr("(length(text) - 1) DIV 100"))
      .select(substring(md5(expr("substr(text, k * 100 + 1, 120)")),
        1, 16).as("ck"))
    val g = ch.groupBy("ck").agg(count(lit(1)).as("c"))
    val ag = g.agg(sum(col("c")).as("n_chunks"),
      count(lit(1)).as("n_distinct"), max(col("c")).as("biggest_cluster"))
    ag.select(col("n_chunks").cast(LongType).as("n_chunks"),
      col("n_distinct").cast(LongType).as("n_distinct"),
      col("biggest_cluster").cast(LongType).as("biggest_cluster"),
      round(expr("(n_chunks - n_distinct) * 1000000 DIV n_chunks")
        .cast(DoubleType) / 1e6, 6).as("dup_share"))
  }

  /** External clustering validation: purity and normalized mutual
    * information of the q_kmeans_assign partition against the embedding
    * ground-truth labels — the label-aware complement to q_silhouette's
    * geometry-only score (a clustering can be tight yet split every
    * class). Assignment is the same broadcast-centroid argmin; the
    * contingency table is one (cluster × label) count aggregate on a
    * bounded domain, and MI/H use the q_mutual_info quantized-ln idiom
    * (per-cell round(·10⁹) integers summed, divisions in the final
    * one-row select) so the result is reduction-order-proof. */
  val qClusterPurity = Q(
    "q_cluster_purity",
    s"""WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |${Clustering.lowIdCentroidsCte("e", 8)},
      |${Clustering.sqDistCte("dd", "e.label, ")},
      |${Clustering.nearestCte("a", "dd", "label, cid")},
      |o AS (SELECT cid, label, count(*) AS o FROM a WHERE rk = 1
      |  GROUP BY 1, 2),
      |marg AS (
      |  SELECT o.cid, o.label, o.o, r.r, l.c, n.n FROM o
      |  JOIN (SELECT cid, sum(o) AS r FROM o GROUP BY 1) r USING (cid)
      |  JOIN (SELECT label, sum(o) AS c FROM o GROUP BY 1) l USING (label)
      |  CROSS JOIN (SELECT sum(o) AS n FROM o) n),
      |pur AS (
      |  SELECT sum(mx) AS pure_n FROM
      |    (SELECT cid, max(o) AS mx FROM o GROUP BY 1) z),
      |${AnalyticsQueries.mutualInfo9Sql},
      |${AnalyticsQueries.marginalEntropy9Sql("hc", "cid", "r")},
      |${AnalyticsQueries.marginalEntropy9Sql("hl", "label", "c")}
      |SELECT CAST(mi.n AS BIGINT) AS n,
      |  ROUND(CAST(pur.pure_n AS DOUBLE) / CAST(mi.n AS DOUBLE), 6)
      |    AS purity,
      |  ROUND(CAST(mi.mi9 AS DOUBLE) / 1000000000, 6) AS mi,
      |  ROUND(CAST(hc.h9 AS DOUBLE) / 1000000000, 6) AS h_cluster,
      |  ROUND(CAST(hl.h9 AS DOUBLE) / 1000000000, 6) AS h_label,
      |  ROUND(CAST(mi.mi9 AS DOUBLE) / 1000000000
      |    / sqrt(CAST(hc.h9 AS DOUBLE) / 1000000000
      |         * (CAST(hl.h9 AS DOUBLE) / 1000000000)), 6) AS nmi
      |FROM mi, hc, hl, pur""".stripMargin) { (s, d) =>
    val e = t(s, d, "embeddings").select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val cents = Clustering.lowIdCentroids(e, 8)
    // the contingency panel feeds SEVEN bounded consumers (margins, n,
    // purity, MI, two entropies) — without a fence each re-runs the
    // corpus-sized centroid argmin (the q_bradley_terry lesson)
    val o = Clustering.assign(e, "v", cents)
      .groupBy(col("cluster").as("cid"), col("label"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val r = o.groupBy("cid").agg(sum("o").as("r"))
    val l = o.groupBy("label").agg(sum("o").as("c"))
    val n = o.agg(sum("o").as("n"))
    val marg = o.join(broadcast(r), "cid").join(broadcast(l), "label")
      .crossJoin(broadcast(n))
    val pur = o.groupBy("cid").agg(max("o").as("mx"))
      .agg(sum("mx").as("pure_n"))
    AnalyticsQueries.mutualInfo9(marg)
      .crossJoin(broadcast(AnalyticsQueries.marginalEntropy9(marg, "cid", "r")
        .select(col("h9").as("hc9"))))
      .crossJoin(broadcast(
        AnalyticsQueries.marginalEntropy9(marg, "label", "c")
          .select(col("h9").as("hl9"))))
      .crossJoin(broadcast(pur))
      .select(col("n").cast(LongType).as("n"),
        round(col("pure_n").cast(DoubleType) / col("n").cast(DoubleType), 6)
          .as("purity"),
        round(col("mi9").cast(DoubleType) / 1000000000, 6).as("mi"),
        round(col("hc9").cast(DoubleType) / 1000000000, 6).as("h_cluster"),
        round(col("hl9").cast(DoubleType) / 1000000000, 6).as("h_label"),
        round(col("mi9").cast(DoubleType) / 1000000000
          / sqrt(col("hc9").cast(DoubleType) / 1000000000
               * (col("hl9").cast(DoubleType) / 1000000000)), 6).as("nmi"))
  }

  /** Suffix-duplicate detection — the trailing-boilerplate complement to
    * q_dedup_prefix: scraped corpora share FOOTERS (copyright lines,
    * navigation text, signature blocks) as often as headers, and a
    * leading-key detector cannot see them. Same one-shuffle shape: group
    * on the trailing shingle (last 16 chars here — the synthetic corpus
    * plants prefix twins but no footers, so a 64-char key would be
    * vacuously empty; production corpora want 64+), keep the lowest
    * doc_id, count the removable tail-duplicates. */
  val qDedupSuffix = Q(
    "q_dedup_suffix",
    """WITH g AS (
      |  SELECT substr(md5(right(text, 16)), 1, 16) AS suffix_key,
      |    count(*) AS n_docs, min(doc_id) AS keeper
      |  FROM documents GROUP BY 1)
      |SELECT suffix_key, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(keeper AS BIGINT) AS keeper_doc,
      |  CAST(n_docs - 1 AS BIGINT) AS removable
      |FROM g WHERE n_docs > 1
      |ORDER BY n_docs DESC, suffix_key LIMIT 20""".stripMargin) { (s, d) =>
    val g = t(s, d, "documents")
      .groupBy(substring(md5(expr("right(text, 16)")), 1, 16)
        .as("suffix_key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
    g.filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("suffix_key"))
      .limit(20)
      .select(col("suffix_key"), col("n_docs").cast(LongType).as("n_docs"),
        col("keeper").cast(LongType).as("keeper_doc"),
        (col("n_docs") - 1).cast(LongType).as("removable"))
  }

  /** Interpolated trigram language model self-perplexity — the smoothing
    * family's third member beside q_kneser_ney (absolute discounting)
    * and q_good_turing (count re-estimation): fixed-weight Jelinek-Mercer
    * interpolation p = .6·p₃ + .3·p₂ + .1·p₁ scored over the corpus's own
    * trigram tokens. All counts reduce to vocabulary-bounded tables
    * BEFORE any join (trigram/bigram/unigram types, never positions), so
    * every join is type-keyed and the corpus explode is linear; the score
    * is Σ c₃·round(ln p·10⁹) — an exact integer sum with the divisions
    * and one exp in the final one-row select. */
  val qTrigramLm = Q(
    "q_trigram_lm",
    """WITH toks AS (SELECT string_split(text, ' ') AS sp FROM documents),
      |tri AS (
      |  SELECT sp[k] AS w1, sp[k+1] AS w2, sp[k+2] AS w3
      |  FROM toks, generate_series(1, 200) AS g(k)
      |  WHERE k <= len(sp) - 2),
      |t3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri GROUP BY 1, 2, 3),
      |big AS (
      |  SELECT sp[k] AS a, sp[k+1] AS b
      |  FROM toks, generate_series(1, 200) AS g(k)
      |  WHERE k <= len(sp) - 1),
      |b2 AS (SELECT a, b, count(*) AS cb FROM big GROUP BY 1, 2),
      |uni AS (
      |  SELECT sp[k] AS w, count(*) AS cu
      |  FROM toks, generate_series(1, 200) AS g(k)
      |  WHERE k <= len(sp) GROUP BY 1),
      |nn AS (SELECT sum(cu) AS nt FROM uni),
      |sc AS (
      |  SELECT t3.c3,
      |    0.6 * CAST(t3.c3 AS DOUBLE) / cb12.cb
      |    + 0.3 * CAST(cb23.cb AS DOUBLE) / u2.cu
      |    + 0.1 * CAST(u3.cu AS DOUBLE) / nn.nt AS p
      |  FROM t3
      |  JOIN b2 cb12 ON t3.w1 = cb12.a AND t3.w2 = cb12.b
      |  JOIN b2 cb23 ON t3.w2 = cb23.a AND t3.w3 = cb23.b
      |  JOIN uni u2 ON t3.w2 = u2.w
      |  JOIN uni u3 ON t3.w3 = u3.w
      |  CROSS JOIN nn),
      |ag AS (
      |  SELECT sum(CAST(c3 AS HUGEINT)) AS tt,
      |    sum(CAST(c3 AS HUGEINT)
      |      * CAST(ROUND(ln(p) * 1000000000) AS HUGEINT)) AS lp9
      |  FROM sc)
      |SELECT CAST(tt AS BIGINT) AS n_trigrams,
      |  (SELECT count(*) FROM uni) AS vocab,
      |  ROUND(CAST(lp9 AS DOUBLE) / 1000000000 / CAST(tt AS DOUBLE), 6)
      |    AS avg_logp,
      |  ROUND(exp(-(CAST(lp9 AS DOUBLE) / 1000000000
      |    / CAST(tt AS DOUBLE))), 6) AS perplexity
      |FROM ag""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val toks = t(s, d, "documents").select(split(col("text"), " ").as("sp"))
    def grams(n: Int, names: Seq[String]): DataFrame =
      toks.filter(size(col("sp")) >= n)
        .select(col("sp"),
          explode(sequence(lit(1), size(col("sp")) - (n - 1))).as("k"))
        .select(names.zipWithIndex.map { case (nm, i) =>
          element_at(col("sp"), col("k") + i).as(nm) }: _*)
    // b2/uni are vocabulary-bounded but each is consumed TWICE by the
    // interpolation join — fence them so the corpus explode runs once
    // per n-gram order, not once per consumer
    val t3 = grams(3, Seq("w1", "w2", "w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val b2 = grams(2, Seq("a", "b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cb"))
      .localCheckpoint()
    val uni = grams(1, Seq("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
      .localCheckpoint()
    val nn = uni.agg(sum("cu").as("nt"), count(lit(1)).as("vocab"))
    val sc = t3
      .join(b2.select(col("a").as("a12"), col("b").as("b12"),
        col("cb").as("cb12")),
        col("w1") === col("a12") && col("w2") === col("b12"))
      .join(b2.select(col("a").as("a23"), col("b").as("b23"),
        col("cb").as("cb23")),
        col("w2") === col("a23") && col("w3") === col("b23"))
      .join(uni.select(col("w").as("wu2"), col("cu").as("cu2")),
        col("w2") === col("wu2"))
      .join(uni.select(col("w").as("wu3"), col("cu").as("cu3")),
        col("w3") === col("wu3"))
      .crossJoin(broadcast(nn))
      .select(col("c3"), col("vocab"),
        (lit(0.6) * col("c3").cast(DoubleType) / col("cb12")
          + lit(0.3) * col("cb23").cast(DoubleType) / col("cu2")
          + lit(0.1) * col("cu3").cast(DoubleType) / col("nt")).as("p"))
    sc.agg(
      sum(col("c3").cast(big38)).as("tt"),
      sum(col("c3").cast(big38)
        * round(log(col("p")) * 1000000000).cast(big38)).as("lp9"),
      max(col("vocab")).as("vocab"))
      .select(col("tt").cast(LongType).as("n_trigrams"),
        col("vocab").cast(LongType).as("vocab"),
        round(col("lp9").cast(DoubleType) / 1000000000
          / col("tt").cast(DoubleType), 6).as("avg_logp"),
        round(exp(-(col("lp9").cast(DoubleType) / 1000000000
          / col("tt").cast(DoubleType))), 6).as("perplexity"))
  }

  val all: Seq[Q] = Seq(
    qClusterPurity, qDedupSuffix, qTrigramLm,
    qEmbedDimStats, qChunkDedup,
    qNgramCoverage, qDedupPrefix, qTokenRuns, qCentroidDrift,
    qBurrowsDelta, qLangidMetrics, qEmbedQuantizeAudit, qTextrank,
    qLlrBigrams, qHapaxRatio, qDecontaminateEmbed, qMmrSelect,
    qCurriculumOrder,
    qRrfFusion, qSemdedup, qTokenizerFertility,
    qRankOverlap, qSilhouette, qDedupCanonical, qFeatureHashing,
    qTypeTokenRatio, qVocabGrowth, qEmdSources, qSourceOverlap,
    qLogOddsTerms, qTfidfCosinePairs, qShingleDfProfile,
    qJsDivergence, qPerplexity, qReadability, qEmbedNorms,
    qDedupRateBySource, qNgramNovelty, qContextFit, qQuantileNorm,
    qNearDupEval, qDedupThresholdSweep, qCohensKappa, qEssWeights,
    qFilterCascade, qHardNegatives,
    qCrossvalFolds, qPmiBigrams, qLabelBalance, qZipf, qBm25, qMixWeights,
    qDocEntropy,
    qDedupExact, qDedupSimhash, qDedupSimhashPairs, qDedupMinhash,
    qDedupMinhashDet,
    qDedupNgram, qDedupContainment, qDedupEmbed, qDedupEmbedLsh,
    qDedupDetectorOverlap, qEmbedAnisotropy,
    qDedupClusters, qDedupClustersDet,
    qSimSearch, qSimSearchIvf, qSimMultiprobe, qSimTrainedIvf, qSimPq,
    qSimIvfPq, qAnnRecall,
    qBpeTrain, qBpeEncode, qKnnPerLabel, qEmbedOutlier,
    qTextTokens, qTextStats, qTextSourcePivot, qTextLangid, qTextQuality,
    qTextTokenCount, qTextFingerprint,
    qDecontaminate, qPiiScrub, qTextRepetition, qTextLevenshtein,
    qStratifiedSample, qKmeansAssign, qTfidfTopTerms, qTokenRarity,
    qHeavyHitters, qChunkDocs, qTextNormalize, qBigramLm, qCorpusMix,
    qHllReagg,
    qSampleHash, qSplitTrainTest, qShuffleDet, qPackSequences, qLengthBuckets,
    qMultimodalJoin, qMultimodalMeta, qMultimodalDecode, qMediaFrames,
    qMediaDedup)
}
