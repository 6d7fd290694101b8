package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Runtime Bloom-filter join pruning: when the build side of a join is too
  * large to broadcast as rows but its KEY SET fits a few MB of bits,
  * pre-filtering the probe side with a broadcast Bloom filter cuts the
  * shuffle volume before the real join runs (the manual form of Spark's
  * `spark.sql.optimizer.runtime.bloomFilter.enabled` rewrite, for when the
  * optimizer's thresholds don't fire). No false negatives — the follow-up
  * join stays exact; the filter only removes rows that cannot match.
  */
object BloomPrune {

  /** Build a Bloom filter over `build`'s `key` and return `probe` reduced
    * to rows whose `key` might match. The filter is built distributed
    * (mergeable sketch, one tiny result) and broadcast to the probe scan;
    * the predicate is a pre-shuffle filter, NOT a join replacement.
    *
    * Keys must be integral (the no-false-negative guarantee is the whole
    * contract): a lossy cast would silently DROP probe rows, so
    * non-integral key types are rejected up front. NULL probe keys are
    * filtered — NULL never equi-joins anyway. */
  def prune(probe: DataFrame, probeKey: Column, build: DataFrame,
      buildKey: Column, expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val kt = probe.select(probeKey).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(kt),
      s"BloomPrune requires an integral key (got $kt): a lossy cast would " +
        "drop probe rows and break the no-false-negative contract")
    val bf = build.stat.bloomFilter(buildKey, expectedItems, fpp)
    // codegen'd membership probe (functions.BloomMightContain): the
    // serialized filter rides the plan as a foldable binary literal (the
    // same mechanism Spark's runtime bloom rewrite uses) and is
    // deserialized once per executor, so the pre-shuffle filter stays
    // inside WholeStageCodegen instead of breaking the span with a UDF.
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    probe.filter(call_function("graft_might_contain",
      lit(bos.toByteArray), probeKey.cast("long")))
  }

  /** Bloom-pruned inner equi-join: prune the big probe side, then join
    * exactly. Correct for any fpp (false positives are removed by the
    * join itself); the win is the shuffle reading `probe` × bloom-hit
    * fraction instead of all of it. */
  def prunedJoin(probe: DataFrame, probeKey: String, build: DataFrame,
      buildKey: String, expectedItems: Long): DataFrame =
    prune(probe, col(probeKey), build, col(buildKey), expectedItems)
      .join(build, col(probeKey) === col(buildKey))
}
