package graft.operators

import graft.Q
import graft.Dsl._
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation / retention additions (round-7 continuation):
  * within-source boilerplate detection, recommendation novelty, and
  * retention-policy sweeps. House determinism contract throughout.
  */
object CurationQueries {

  /** Within-source boilerplate profile: the share of a source's distinct
    * (doc, 5-gram-shingle) occurrences whose shingle repeats across ≥25%
    * of that source's documents — headers, footers and templates show up
    * as exactly this inter-document repetition. Shingle work is the
    * shared `Dedup.charShingles` primitive (bounded explode, distinct
    * per doc); everything aggregates on (source, shingle) — no pairwise
    * doc comparison anywhere, so the profile stays linear at corpus
    * scale. The curation readout that says WHICH sources need template
    * stripping before dedup/training. */
  val qBoilerplate = Q(
    "q_boilerplate",
    """WITH sh AS (
      |  SELECT DISTINCT d.source, s.doc_id, s.shingle FROM (
      |    SELECT doc_id, substr(text, p, 5) AS shingle
      |    FROM documents, generate_series(1, 2000) t(p)
      |    WHERE p <= greatest(length(text) - 4, 1)) s
      |  JOIN documents d ON s.doc_id = d.doc_id),
      |nd AS (
      |  SELECT source, count(DISTINCT doc_id) AS n_docs FROM sh
      |  GROUP BY source),
      |df AS (
      |  SELECT source, shingle, count(*) AS df FROM sh GROUP BY 1, 2),
      |m AS (
      |  SELECT df.source, max(nd.n_docs) AS n_docs,
      |    count(*) AS n_shingles,
      |    sum(CASE WHEN df.df * 4 >= nd.n_docs THEN 1 ELSE 0 END)
      |      AS n_boiler,
      |    sum(df.df) AS n_occ,
      |    sum(CASE WHEN df.df * 4 >= nd.n_docs THEN df.df ELSE 0 END)
      |      AS boiler_occ
      |  FROM df JOIN nd ON df.source = nd.source
      |  GROUP BY df.source)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_shingles AS BIGINT) AS n_shingles,
      |  CAST(n_boiler AS BIGINT) AS n_boiler,
      |  ROUND(CAST(boiler_occ AS DOUBLE) / CAST(n_occ AS DOUBLE), 6)
      |    AS boiler_occ_share
      |FROM m ORDER BY source""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    // doc → source is a broadcast map (one row per doc, two thin
    // columns), so tagging the store scan never shuffles it
    val sh = graft.llm.ShingleStore.distinct(s, d, k = 5, maxPos = 2000)
      .join(broadcast(docs.select("doc_id", "source")), "doc_id")
    // per-source doc counts from the documents table itself — every doc
    // yields ≥ 1 shingle row (the explode floor is greatest(len−4, 1)),
    // so this equals the oracle's count(DISTINCT doc_id) over sh without
    // a distinct-aggregation pass over the corpus-sized store
    val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val df = sh.groupBy("source", "shingle").agg(count(lit(1)).as("df"))
    df.join(broadcast(nd), "source")
      .groupBy("source")
      .agg(max(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") * 4 >= col("n_docs"), 1).otherwise(0))
          .as("n_boiler"),
        sum(col("df")).as("n_occ"),
        sum(when(col("df") * 4 >= col("n_docs"), col("df")).otherwise(0L))
          .as("boiler_occ"))
      .select(col("source"), col("n_docs").cast(LongType).as("n_docs"),
        col("n_shingles").cast(LongType).as("n_shingles"),
        col("n_boiler").cast(LongType).as("n_boiler"),
        round(col("boiler_occ").cast(DoubleType)
          / col("n_occ").cast(DoubleType), 6).as("boiler_occ_share"))
      .orderBy("source")
  }

  /** Novelty of the co-occurrence top-5 recommendations: mean
    * self-information −log2(item's order-share) of recommended items,
    * against the catalog mean — the long-tail exposure metric that
    * complements q_pop_bias's popularity lift (same candidate plumbing:
    * bounded per-order co-occurrence join, top-5 per item, never
    * all-pairs). Each item's bits term quantizes to ·10⁹ integers before
    * any sum (adamic-adar idiom), so the means are reduction-order-proof. */
  val qNoveltyRecs = Q(
    "q_novelty_recs",
    s"""WITH ${PairStore.coPairsSymCte("pairs")},
      |pop AS (
      |  SELECT l_partkey, count(DISTINCT l_orderkey) AS p
      |  FROM lineitem GROUP BY 1),
      |no AS (SELECT count(DISTINCT l_orderkey) AS n_ord FROM lineitem),
      |recs AS (
      |  SELECT pa, pb,
      |    row_number() OVER (PARTITION BY pa ORDER BY w DESC, pb) AS rk
      |  FROM pairs),
      |top5 AS (SELECT pa, pb FROM recs WHERE rk <= 5),
      |bits AS (
      |  SELECT t.pa, CAST(ROUND(
      |      -ln(CAST(pp.p AS DOUBLE) / no.n_ord) / ln(2) * 1000000000)
      |    AS BIGINT) AS b9
      |  FROM top5 t JOIN pop pp ON t.pb = pp.l_partkey, no),
      |cat AS (
      |  SELECT sum(CAST(ROUND(
      |      -ln(CAST(p AS DOUBLE) / no.n_ord) / ln(2) * 1000000000)
      |    AS BIGINT)) AS cb9, count(*) AS np
      |  FROM pop, no)
      |SELECT count(*) AS n_recs,
      |  ROUND(CAST(sum(b9) AS DOUBLE) / count(*) / 1000000000, 6)
      |    AS mean_novelty_bits,
      |  ROUND(CAST(max(c.cb9) AS DOUBLE) / max(c.np) / 1000000000, 6)
      |    AS catalog_novelty_bits
      |FROM bits CROSS JOIN cat c""".stripMargin) { (s, d) =>
    // r14: pairs, popularity and the order count all derive from the
    // shared PairStore (the q_pop_bias conversion) — coPairsSym IS the
    // pa ≠ pb raw pair-count matrix, and the store's deduped (ok, pk)
    // cells give per-part distinct-order counts and the distinct-order
    // total without another fact scan. Exact integers, same values.
    val cells = PairStore.liCounts(s, d)
    val pairs = PairStore.coPairsSym(s, d)
    val pop = cells.groupBy(col("pk").as("l_partkey"))
      .agg(count(lit(1)).as("p"))
    val no = cells.agg(countDistinct(col("ok")).as("n_ord"))
    val w = Window.partitionBy("pa").orderBy(col("w").desc, col("pb"))
    val top5 = pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5).select("pa", "pb")
    val bits = top5
      .join(pop.withColumnRenamed("l_partkey", "pk"), col("pb") === col("pk"))
      .crossJoin(broadcast(no))
      .select(round(-log(col("p").cast(DoubleType)
          / col("n_ord")) / math.log(2.0) * 1000000000L)
        .cast(LongType).as("b9"))
    val cat = pop.crossJoin(broadcast(no))
      .agg(sum(round(-log(col("p").cast(DoubleType)
            / col("n_ord")) / math.log(2.0) * 1000000000L)
          .cast(LongType)).as("cb9"),
        count(lit(1)).as("np"))
    bits.crossJoin(broadcast(cat))
      .agg(count(lit(1)).as("n_recs"),
        round(sum(col("b9")).cast(DoubleType) / count(lit(1))
          / 1000000000L, 6).as("mean_novelty_bits"),
        round(max(col("cb9")).cast(DoubleType) / max(col("np"))
          / 1000000000L, 6).as("catalog_novelty_bits"))
  }

  /** Retention-policy sweep: rows per event type older than a 90-day
    * window behind the table's global high-water mark — the deletion
    * blast radius a GDPR/TTL compaction job plans with BEFORE rewriting
    * files (complements q_erasure_audit's per-user view and
    * q_compaction_plan's file packing). One scan + one broadcast
    * watermark row; all cutoff arithmetic on exact µs integers. */
  val qRetentionSweep = Q(
    "q_retention_sweep",
    """WITH hw AS (SELECT max(epoch_us(ts)) AS wm_us FROM events),
      |x AS (
      |  SELECT event_type,
      |    CASE WHEN epoch_us(ts) < wm_us - 7776000000000
      |      THEN 1 ELSE 0 END AS expired
      |  FROM events, hw)
      |SELECT event_type, count(*) AS n_rows,
      |  CAST(sum(expired) AS BIGINT) AS n_expired,
      |  ROUND(CAST(sum(expired) AS DOUBLE) / count(*), 6)
      |    AS expired_share
      |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
    val ev = t(s, d, "events").select(col("event_type"),
      unix_micros(col("ts").cast(TimestampType)).as("us"))
    val hw = ev.agg(max(col("us")).as("wm_us"))
    ev.crossJoin(broadcast(hw))
      .select(col("event_type"),
        when(col("us") < col("wm_us") - 7776000000000L, 1).otherwise(0)
          .as("expired"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("expired")).cast(LongType).as("n_expired"),
        round(sum(col("expired")).cast(DoubleType) / count(lit(1)), 6)
          .as("expired_share"))
      .orderBy("event_type")
  }

  /** MLM masking plan audit: deterministic 15% token masking (mask iff
    * md5(doc_id:pos) mod 100 < 15 — the seeded-PRNG house pattern, so
    * the plan is reproducible run-over-run and auditable before any
    * training job), summarized per source. The pre-training check that
    * the masking rate actually lands near the configured rate per slice
    * and no source is systematically under-masked. Linear explode over
    * token positions; everything aggregates on source. */
  val qMaskPlan = Q(
    "q_mask_plan",
    """WITH tok AS (
      |  SELECT d.source, d.doc_id,
      |    len(string_split(d.text, ' ')) AS n_tok
      |  FROM documents d),
      |pos AS (
      |  SELECT source, doc_id, p,
      |    CASE WHEN CAST(concat('0x',
      |        substr(md5(concat(doc_id, ':', p)), 1, 15)) AS BIGINT)
      |      % 100 < 15 THEN 1 ELSE 0 END AS m
      |  FROM tok, generate_series(1, 4000) t(p)
      |  WHERE p <= n_tok)
      |SELECT source, count(DISTINCT doc_id) AS n_docs,
      |  count(*) AS n_tokens, CAST(sum(m) AS BIGINT) AS n_masked,
      |  ROUND(CAST(sum(m) AS DOUBLE) / count(*), 6) AS mask_rate
      |FROM pos GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val tok = t(s, d, "documents").select(col("source"), col("doc_id"),
      size(split(col("text"), " ")).as("n_tok"))
    val pos = tok.select(col("source"), col("doc_id"),
        explode(sequence(lit(1), least(col("n_tok"), lit(4000)))).as("p"))
      .select(col("source"), col("doc_id"),
        when(conv(substring(md5(concat(col("doc_id"), lit(":"), col("p"))),
          1, 15), 16, 10).cast(LongType) % 100 < 15, 1).otherwise(0)
          .as("m"))
    pos.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(col("m")).cast(LongType).as("n_masked"),
        round(sum(col("m")).cast(DoubleType) / count(lit(1)), 6)
          .as("mask_rate"))
      .orderBy("source")
  }

  /** Skip-gram co-occurrence matrix builder (window ±2, unordered
    * pairs) with PMI — the count table every GloVe/word2vec-style
    * embedding train starts from, and the corpus-association readout
    * beyond q_pmi_bigrams' adjacent-only view. Pair generation is an
    * array transform INSIDE each document row (fan-out ≤ 2 per token —
    * linear, no self-join); counts aggregate on the bounded (w1, w2)
    * vocabulary domain, marginals broadcast, and the top-20 readout has
    * a total (count desc, w1, w2) order. */
  val qSkipgramCooccur = Q(
    "q_skipgram_cooccur",
    """WITH l AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |pr AS (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |      i -> least(w[i], w[i+1]))) AS w1,
      |    unnest(list_transform(range(1, len(w)),
      |      i -> greatest(w[i], w[i+1]))) AS w2
      |  FROM l WHERE len(w) >= 2
      |  UNION ALL
      |  SELECT unnest(list_transform(range(1, len(w) - 1),
      |      i -> least(w[i], w[i+2]))),
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> greatest(w[i], w[i+2])))
      |  FROM l WHERE len(w) >= 3),
      |g AS (SELECT w1, w2, count(*) AS c FROM pr GROUP BY 1, 2),
      |tp AS (SELECT sum(c) AS tp FROM g),
      |mg AS (
      |  SELECT w, sum(c) AS mw FROM (
      |    SELECT w1 AS w, c FROM g UNION ALL SELECT w2, c FROM g)
      |  GROUP BY w)
      |SELECT g.w1, g.w2, CAST(g.c AS BIGINT) AS n_cooccur,
      |  ROUND(ln(4.0 * CAST(g.c AS DOUBLE) * CAST(tp.tp AS DOUBLE)
      |    / (CAST(m1.mw AS DOUBLE) * CAST(m2.mw AS DOUBLE))), 6) AS pmi
      |FROM g
      |JOIN mg m1 ON g.w1 = m1.w JOIN mg m2 ON g.w2 = m2.w
      |CROSS JOIN tp
      |ORDER BY g.c DESC, g.w1, g.w2 LIMIT 20""".stripMargin) { (s, d) =>
    val l = t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val p1 = l.filter(size(col("w")) >= 2).select(explode(expr(
      "transform(sequence(0, size(w) - 2), i -> " +
        "struct(least(w[i], w[i+1]) AS w1, greatest(w[i], w[i+1]) AS w2))"))
      .as("p"))
    val p2 = l.filter(size(col("w")) >= 3).select(explode(expr(
      "transform(sequence(0, size(w) - 3), i -> " +
        "struct(least(w[i], w[i+2]) AS w1, greatest(w[i], w[i+2]) AS w2))"))
      .as("p"))
    val pr = p1.unionByName(p2)
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val g = pr.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val tp = g.agg(sum(col("c")).as("tp"))
    val mg = g.select(col("w1").as("w"), col("c"))
      .unionByName(g.select(col("w2").as("w"), col("c")))
      .groupBy("w").agg(sum(col("c")).as("mw"))
    g.crossJoin(broadcast(tp))
      .join(broadcast(mg.select(col("w").as("mw1k"), col("mw").as("m1"))),
        col("w1") === col("mw1k"))
      .join(broadcast(mg.select(col("w").as("mw2k"), col("mw").as("m2"))),
        col("w2") === col("mw2k"))
      .select(col("w1"), col("w2"), col("c").cast(LongType).as("n_cooccur"),
        round(log(lit(4.0) * col("c").cast(DoubleType)
          * col("tp").cast(DoubleType)
          / (col("m1").cast(DoubleType) * col("m2").cast(DoubleType))), 6)
          .as("pmi"))
      .orderBy(col("n_cooccur").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Corpus bigram counts g (w1, w2, c) over whitespace tokens: the
    * shared input of q_kneser_ney and q_good_turing. */
  private def bigramCounts(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> " +
          "struct(w[i] AS w1, w[i+1] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))

  /** DuckDB twin of [[bigramCounts]]: the CTEs `l`, `pr` and `g`. */
  private val bigramCountsSql =
    """l AS (
      |  SELECT string_split(text, ' ') AS w FROM documents),
      |pr AS (
      |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
      |    unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
      |  FROM l WHERE len(w) >= 2),
      |g AS (SELECT w1, w2, count(*) AS c FROM pr GROUP BY 1, 2)""".stripMargin

  /** Interpolated Kneser–Ney bigram probabilities (D = 0.75) over the
    * corpus — the smoothing q_bigram_lm's raw MLE lacks: continuation
    * counts (HOW MANY distinct histories precede a word) replace raw
    * frequency in the backoff, the fix for "Francisco is frequent but
    * only ever follows San". All building blocks are exact integer
    * counts on the bounded (w1, w2) vocabulary domain; p_KN is one
    * per-row double with identical op order; top-20 by count with a
    * total order. */
  val qKneserNey = Q(
    "q_kneser_ney",
    s"""WITH $bigramCountsSql,
      |hist AS (
      |  SELECT w1, sum(c) AS c1, count(*) AS nfollow FROM g GROUP BY w1),
      |cont AS (SELECT w2, count(*) AS ncont FROM g GROUP BY w2),
      |b AS (SELECT count(*) AS b FROM g)
      |SELECT g.w1, g.w2, CAST(g.c AS BIGINT) AS n_bigram,
      |  ROUND((CAST(g.c AS DOUBLE) - 0.75) / hist.c1
      |    + 0.75 * hist.nfollow / hist.c1
      |      * (CAST(cont.ncont AS DOUBLE) / b.b), 6) AS p_kn
      |FROM g
      |JOIN hist ON g.w1 = hist.w1 JOIN cont ON g.w2 = cont.w2
      |CROSS JOIN b
      |ORDER BY g.c DESC, g.w1, g.w2 LIMIT 20""".stripMargin) { (s, d) =>
    val g = bigramCounts(s, d)
    val hist = g.groupBy("w1")
      .agg(sum(col("c")).as("c1"), count(lit(1)).as("nfollow"))
    val cont = g.groupBy("w2").agg(count(lit(1)).as("ncont"))
    val b = g.agg(count(lit(1)).as("b"))
    g.join(broadcast(hist), "w1")
      .join(broadcast(cont), "w2")
      .crossJoin(broadcast(b))
      .select(col("w1"), col("w2"), col("c").cast(LongType).as("n_bigram"),
        round((col("c").cast(DoubleType) - lit(0.75)) / col("c1")
          + lit(0.75) * col("nfollow") / col("c1")
            * (col("ncont").cast(DoubleType) / col("b")), 6).as("p_kn"))
      .orderBy(col("n_bigram").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Good–Turing count-of-counts over the bigram frequency spectrum:
    * N_r (how many bigram types occur exactly r times), the GT adjusted
    * count r* = (r+1)·N_{r+1}/N_r, and the unseen-mass estimate
    * N_1/N — the smoothing diagnostic that says how much probability a
    * corpus LM should reserve for bigrams it has never seen (the
    * companion to q_kneser_ney's trained-form smoothing). Everything is
    * exact integer counts on the bounded frequency spectrum; r* and p0
    * are per-row final doubles. */
  val qGoodTuring = Q(
    "q_good_turing",
    s"""WITH $bigramCountsSql,
      |coc AS (SELECT c AS r, count(*) AS n_r FROM g GROUP BY c),
      |tot AS (
      |  SELECT sum(r * n_r) AS n_tokens,
      |    max(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS n1
      |  FROM coc)
      |SELECT CAST(a.r AS BIGINT) AS r, CAST(a.n_r AS BIGINT) AS n_r,
      |  ROUND(CAST((a.r + 1) * b.n_r AS DOUBLE) / a.n_r, 6) AS r_star,
      |  ROUND(CAST(tot.n1 AS DOUBLE) / tot.n_tokens, 6) AS p_unseen
      |FROM coc a
      |LEFT JOIN coc b ON b.r = a.r + 1
      |CROSS JOIN tot
      |WHERE a.r <= 10 ORDER BY a.r""".stripMargin) { (s, d) =>
    val g = bigramCounts(s, d)
    val coc = g.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
    val tot = coc.agg(sum(col("r") * col("n_r")).as("n_tokens"),
      max(when(col("r") === 1, col("n_r")).otherwise(0L)).as("n1"))
    coc.join(broadcast(coc.select(col("r").as("r1"),
        col("n_r").as("n_r1"))), col("r1") === col("r") + 1, "left")
      .crossJoin(broadcast(tot))
      .filter(col("r") <= 10)
      .select(col("r").cast(LongType).as("r"),
        col("n_r").cast(LongType).as("n_r"),
        round(((col("r") + 1) * col("n_r1")).cast(DoubleType) / col("n_r"),
          6).as("r_star"),
        round(col("n1").cast(DoubleType) / col("n_tokens"), 6)
          .as("p_unseen"))
      .orderBy("r")
  }

  /** Cross-lingual near-duplicate detection: embedding pairs in the
    * SAME semantic cluster but DIFFERENT languages with cosine ≥ 0.99 —
    * translated copies inflate multilingual corpora invisibly to every
    * text-hash dedup, and this is the embedding-space sweep that finds
    * them. Same scale shape as q_semdedup: 64 deterministic centroid
    * buckets as the blocking key (never an all-pairs join), planted
    * ·1.05-scaled twins under a synthetic 'xx' language verify the path
    * end-to-end; output is the per-language-pair dup count. */
  val qCrosslingualDups = Q(
    "q_crosslingual_dups",
    s"""WITH e0 AS (
      |  SELECT e.vec_id, d.lang,
      |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
      |e AS (
      |  SELECT vec_id, lang, v FROM e0
      |  UNION ALL
      |  SELECT vec_id + 2000000, 'xx', list_transform(v, x -> x * 1.05)
      |  FROM e0 WHERE vec_id % 40 = 0),
      |${graft.llm.Clustering.lowIdCentroidsCte("e0", 64)},
      |${graft.llm.Clustering.sqDistCte("dist")},
      |${graft.llm.Clustering.nearestCte("a0", "dist", "cid")},
      |asg AS (
      |  SELECT e.vec_id, e.lang, e.v, a0.cid AS cluster
      |  FROM e JOIN a0 ON e.vec_id = a0.vec_id AND a0.rk = 1),
      |dup AS (
      |  SELECT least(a.lang, b.lang) AS lang_a,
      |    greatest(a.lang, b.lang) AS lang_b
      |  FROM asg a JOIN asg b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE a.lang <> b.lang
      |    AND ${VectorFunctions.cosine4Sql("a.v", "b.v")} >= 0.99)
      |SELECT lang_a, lang_b, count(*) AS n_pairs
      |FROM dup GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val asDbl = transform(col("embedding"), x => x.cast(DoubleType))
    val orig = t(s, d, "embeddings")
      .join(t(s, d, "documents").select("doc_id", "lang"),
        col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("lang"), asDbl.as("v"))
    val twins = orig.filter(col("vec_id") % 40 === 0)
      .select((col("vec_id") + 2000000).as("vec_id"),
        lit("xx").as("lang"),
        transform(col("v"), x => x * 1.05).as("v"))
    val e = orig.unionByName(twins)
    val cents = graft.llm.Clustering.lowIdCentroids(orig, 64)
    val asg = graft.llm.Clustering.assign(e, "v", cents)
      .join(e, Seq("vec_id", "lang"))
      .select(col("vec_id"), col("lang"), col("cluster"), col("v"))
      .localCheckpoint()
    val a = asg.select(col("cluster"), col("vec_id").as("ida"),
      col("lang").as("la"), col("v").as("va"))
    val b = asg.select(col("cluster"), col("vec_id").as("idb"),
      col("lang").as("lb"), col("v").as("vb"))
    a.join(b, Seq("cluster"))
      .filter(col("ida") < col("idb") && col("la") =!= col("lb"))
      .filter(VectorFunctions.cosine4(col("va"), col("vb"))
        >= 0.99)
      .select(least(col("la"), col("lb")).as("lang_a"),
        greatest(col("la"), col("lb")).as("lang_b"))
      .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("lang_a", "lang_b")
  }

  /** RAKE keyword extraction: candidate phrases are maximal stopword-free
    * token runs; word score = deg(w)/freq(w) with deg summing the lengths
    * of phrases the word appears in; phrase score = Σ member word scores.
    * All counts are exact integers from one position-explode; the word
    * score is the exact integer deg·10⁶ DIV freq, so phrase scores are
    * exact integer sums and the top-15 order is total. The phrase-id
    * window is per-document (docs are ≤2k tokens — the user-keyed window
    * shape, never corpus-sized). The zero-model keyphrase miner a corpus
    * triage runs before anything trained. */
  val qRakeKeywords = Q(
    "q_rake_keywords",
    """WITH toks AS (
      |  SELECT doc_id, k, sp[k] AS term,
      |    CASE WHEN sp[k] IN ('the','a','of','and','to') THEN 1
      |      ELSE 0 END AS is_stop
      |  FROM (SELECT doc_id, string_split(text, ' ') AS sp
      |        FROM documents) d,
      |       generate_series(1, 4000) AS g(k)
      |  WHERE k <= len(sp)),
      |ph AS (
      |  SELECT doc_id, k, term,
      |    sum(is_stop) OVER (PARTITION BY doc_id ORDER BY k) AS pid
      |  FROM toks WHERE is_stop = 0
      |    OR is_stop = 1),
      |members AS (
      |  SELECT doc_id, pid, k, term FROM (
      |    SELECT doc_id, k, term, pid,
      |      CASE WHEN term IN ('the','a','of','and','to') THEN 1
      |        ELSE 0 END AS is_stop
      |    FROM ph) x WHERE is_stop = 0),
      |plen AS (
      |  SELECT doc_id, pid, count(*) AS len FROM members GROUP BY 1, 2),
      |ws AS (
      |  SELECT m.term,
      |    (sum(CAST(p.len AS HUGEINT)) * 1000000)
      |      // count(*) AS score6
      |  FROM members m JOIN plen p
      |    ON m.doc_id = p.doc_id AND m.pid = p.pid
      |  WHERE p.len <= 4
      |  GROUP BY m.term),
      |phrases AS (
      |  SELECT m.doc_id, m.pid,
      |    string_agg(m.term, ' ' ORDER BY m.k) AS phrase,
      |    CAST(sum(ws.score6) AS BIGINT) AS pscore6
      |  FROM members m JOIN plen p
      |    ON m.doc_id = p.doc_id AND m.pid = p.pid
      |  JOIN ws ON m.term = ws.term
      |  WHERE p.len <= 4
      |  GROUP BY m.doc_id, m.pid),
      |agg AS (
      |  SELECT phrase, count(*) AS n_occ, max(pscore6) AS score6
      |  FROM phrases GROUP BY phrase HAVING count(*) >= 3)
      |SELECT phrase, n_occ,
      |  ROUND(CAST(score6 AS DOUBLE) / 1000000, 6) AS rake_score
      |FROM agg ORDER BY score6 DESC, phrase LIMIT 15""".stripMargin) {
    (s, d) =>
    val stops = Seq("the", "a", "of", "and", "to")
    val toks = t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("sp"))
      .select(col("doc_id"), col("sp"),
        explode(sequence(lit(1), size(col("sp")))).as("k"))
      .select(col("doc_id"), col("k"),
        element_at(col("sp"), col("k")).as("term"))
      .withColumn("is_stop",
        when(col("term").isin(stops: _*), 1).otherwise(0))
    val w = Window.partitionBy("doc_id").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ph = toks.withColumn("pid", sum(col("is_stop")).over(w))
    val members = ph.where(col("is_stop") === 0)
      .select("doc_id", "pid", "k", "term")
    val plen = members.groupBy("doc_id", "pid")
      .agg(count(lit(1)).as("len"))
    val mWithLen = members
      .join(plen.where(col("len") <= 4), Seq("doc_id", "pid"))
      .localCheckpoint()
    val ws = mWithLen.groupBy("term")
      .agg(expr("sum(CAST(len AS DECIMAL(38,0))) * 1000000" +
        " DIV count(*)").as("score6"))
    val phrases = mWithLen
      .join(ws, Seq("term"))
      .groupBy("doc_id", "pid")
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("k"), col("term")))),
          x => x.getField("term")), " ").as("phrase"),
        sum(col("score6")).cast(LongType).as("pscore6"))
    phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"), max(col("pscore6")).as("score6"))
      .where(col("n_occ") >= 3)
      .orderBy(col("score6").desc, col("phrase")).limit(15)
      .select(col("phrase"), col("n_occ"),
        round(col("score6").cast(DoubleType) / 1000000L, 6)
          .as("rake_score"))
  }

  /** Blocklist-lexicon audit per source: documents and token hits
    * against a flagged-terms list — the lexicon-screen plumbing that a
    * real pipeline points at its toxicity / PII-keyword / brand-safety
    * lists (the list is data, the scan shape is this query: one
    * array-HOF count per doc, no explode shuffle, then a bounded
    * per-source rollup). */
  val qBlocklistAudit = Q(
    "q_blocklist_audit",
    """WITH x AS (
      |  SELECT source,
      |    len(string_split(text, ' ')) AS n_tok,
      |    len(list_filter(string_split(text, ' '),
      |      t -> t IN ('slow', 'dup', 'drop', 'stale'))) AS n_hit
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flagged_docs,
      |  CAST(sum(n_hit) AS BIGINT) AS n_hits,
      |  ROUND(CAST(sum(n_hit) AS DOUBLE) * 1000 / sum(n_tok), 6)
      |    AS hits_per_1k_tokens,
      |  ROUND(CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS flagged_share
      |FROM x GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val x = t(s, d, "documents").select(col("source"),
      size(split(col("text"), " ")).as("n_tok"),
      size(expr("filter(split(text, ' '), " +
        "t -> t IN ('slow', 'dup', 'drop', 'stale'))")).as("n_hit"))
    x.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hit") > 0, 1).otherwise(0)).cast(LongType)
          .as("n_flagged_docs"),
        sum(col("n_hit")).cast(LongType).as("n_hits"),
        round(sum(col("n_hit")).cast(DoubleType) * 1000
          / sum(col("n_tok")), 6).as("hits_per_1k_tokens"),
        round(sum(when(col("n_hit") > 0, 1).otherwise(0))
          .cast(DoubleType) / count(lit(1)), 6).as("flagged_share"))
      .orderBy("source")
  }

  val all: Seq[Q] = Seq(qBoilerplate, qNoveltyRecs, qRetentionSweep,
    qMaskPlan, qSkipgramCooccur, qKneserNey, qGoodTuring,
    qCrosslingualDups, qRakeKeywords, qBlocklistAudit)
}
