package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: language-ID
  * heuristic, quality scoring, token counting, content fingerprinting.
  * All pure codegen'd built-ins (no UDFs) and all cross-engine
  * reproducible — the DuckDB oracles use the same arithmetic.
  */
object TextOps {

  /** 60-bit arithmetic token hash both engines can compute exactly:
    * first 15 hex digits of md5. (Spark's hash()/xxhash64 and DuckDB's
    * hash() are different algorithms — md5 is the shared primitive.) */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Bag-of-tokens content fingerprint: sum of per-token hashes mod 2^40
    * (order-independent ⇒ reduction-order-safe; bounded ⇒ no overflow). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id")
      .agg(sum(hash60(col("tok")) % 1099511627776L).cast(LongType).as("fp"))

  /** Vowel-ratio language heuristic (deterministic CASE ladder — the
    * n-gram-profile shape of real lang-ID, reduced to one feature so the
    * oracle stays ANSI SQL). */
  def vowelRatio(c: Column): Column =
    (length(c) - length(translate(c, "aeiou", ""))).cast(DoubleType) /
      length(c)

  def predictedLang(c: Column): Column = {
    val vr = vowelRatio(c)
    when(vr > 0.34, "es").when(vr > 0.32, "en").when(vr > 0.30, "fr")
      .when(vr > 0.28, "de").otherwise("zh")
  }

  /** DuckDB twin of [[predictedLang]] as a query: (lang, predicted) per
    * document. */
  val predictedLangSql: String =
    """SELECT lang,
      |    CASE WHEN vr > 0.34 THEN 'es' WHEN vr > 0.32 THEN 'en'
      |         WHEN vr > 0.30 THEN 'fr' WHEN vr > 0.28 THEN 'de'
      |         ELSE 'zh' END AS predicted
      |  FROM (SELECT lang,
      |          CAST(length(text) - length(translate(text, 'aeiou', ''))
      |               AS DOUBLE) / length(text) AS vr
      |        FROM documents) v""".stripMargin

  /** Confusion counts of the heuristic vs the labeled lang column. */
  def langIdConfusion(docs: DataFrame): DataFrame =
    docs.select(col("lang"), predictedLang(col("text")).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("cnt"))

  /** Per-document quality features + composite score (length, mean token
    * length, stopword ratio — the classic heuristics). */
  def qualityScores(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      col("n_chars"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("n_chars"),
        size(col("toks")).as("n_tokens"),
        expr("size(filter(toks, t -> t IN ('the','a','of','and','to')))")
          .as("n_stop"))
    toks.select(col("doc_id"), col("n_tokens"),
      round(col("n_chars").cast(DoubleType) / col("n_tokens"), 4)
        .as("mean_tok_len"),
      round(col("n_stop").cast(DoubleType) / col("n_tokens"), 4)
        .as("stop_ratio"),
      round(
        least(col("n_tokens").cast(DoubleType) / 100, lit(1.0)) * 0.5 +
          col("n_stop").cast(DoubleType) / col("n_tokens") * 0.5, 4)
        .as("quality"))
  }

  /** Deterministic hash sampling: reproducible across runs, engines, and
    * partitionings — the only sampling that belongs in a training-data
    * pipeline (TABLESAMPLE is none of those). Keeps ~1/rate of rows. */
  def hashSample(docs: DataFrame, rate: Int): DataFrame =
    docs.filter(hash60(col("text")) % rate === 0)

  /** Deterministic train/test split by content hash (holdout fraction =
    * testBuckets/10). Same doc always lands in the same split. */
  def trainTestSplit(docs: DataFrame, testBuckets: Int): DataFrame =
    docs.withColumn("split",
      when(hash60(col("text")) % 10 < lit(10 - testBuckets), "train")
        .otherwise("test"))

  /** Deterministic k-fold assignment for cross-validation: fold id is a
    * pure function of content (same md5 primitive as trainTestSplit), so
    * folds are reproducible across engines, runs, and partitionings, and
    * re-ingesting a document lands it in the same fold. */
  def kFolds(docs: DataFrame, k: Int): DataFrame =
    docs.withColumn("fold", (hash60(col("text")) % k).cast(IntegerType))

  /** Reproducible pseudo-random ordering (for shuffling training batches
    * deterministically): order by content digest. */
  def deterministicShuffle(docs: DataFrame): DataFrame =
    docs.orderBy(md5(col("text")), col("doc_id"))

  /** Token counts: whitespace split vs a BPE-ish regex segmentation. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+")).as("alpha_tokens"),
      regexp_count(col("text"), lit("[0-9]+")).as("num_tokens"))
}
