package org.apache.spark.ml.recommendation

/** Lineage fence for a trained [[ALSModel]] — graft's one
  * private[ml]-package shim (the ALSModel constructor is private[ml],
  * so the re-rooted copy must be built from inside this package).
  *
  * Why it exists: MLlib's fit persists the factor frames, but their
  * DataFrame PLANS still reference every shuffle of the training job,
  * so a long-lived model (graft memoizes one per fixture dir) pins a
  * full train's shuffle files for the life of the reference — the
  * ContextCleaner only deletes a shuffle when its ShuffleDependency is
  * garbage. Measured at the sf10 rung: ~15–20 GB of dead-but-pinned
  * scratch from `warm:als_model` alone, which is the difference between
  * the antidote sweep fitting one box's disk or walling on it (r14
  * ladder). On a real cluster the same pinning inflates every
  * executor's shuffle store for as long as a notebook holds the model.
  *
  * The fence localCheckpoints both factor frames — (n_users + n_items)
  * × rank floats, MBs where the train's shuffles are GBs — and rebuilds
  * an equivalent model over them. The new plans are single LogicalRDD
  * leaves, the old model becomes garbage, and the next GC lets the
  * cleaner reclaim the training shuffles. Factor VALUES are untouched
  * (checkpointing moves bytes, not math), so transform/predict/metric
  * results are bit-identical; MfSpec's model pins are the arbiters.
  *
  * Memos read the checkpoint blocks a fenced model owns off its factor
  * plans (`graft.SharedBuild.frames`). */
object GraftAlsLineage {

  def fence(m: ALSModel): ALSModel = {
    val uf = m.userFactors.localCheckpoint()
    val itf = m.itemFactors.localCheckpoint()
    new ALSModel(m.uid, m.rank, uf, itf)
      .setUserCol(m.getUserCol)
      .setItemCol(m.getItemCol)
      .setPredictionCol(m.getPredictionCol)
      .setColdStartStrategy(m.getColdStartStrategy)
  }
}
