package org.apache.spark.ml.recommendation

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}

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
  * Each checkpoint carries MEASURED statistics: it is taken through a
  * cache of the frame, so it inherits the loaded in-memory relation's
  * size and row count instead of MLlib's unknown (8 EiB) estimate. The
  * planner then decides every join against a factor frame
  * (`predictKnown`, the Alg. 1 steps) from
  * `spark.sql.autoBroadcastJoinThreshold` like any other table:
  * broadcast while the factors are small, shuffle joins once they are
  * not. The checkpoints are the one materialization of the factors
  * (`AlsEngine.fit` sets MLlib's final storage level to NONE, so its fit
  * counts neither factor RDD). The cache is dropped as soon as the
  * checkpoint exists, and so are the RDDs the fit itself left registered
  * (its rating and in/out blocks and factor RDDs), so a fenced model
  * holds exactly its two checkpoints.
  *
  * Memos read the checkpoint blocks a fenced model owns off its factor
  * plans (`graft.SharedBuild.frames`). */
object GraftAlsLineage {

  def fence(m: ALSModel): ALSModel = {
    val fitBlocks = alsPersisted(m.userFactors, m.itemFactors)
    val uf = measuredCheckpoint(m.userFactors)
    val itf = measuredCheckpoint(m.itemFactors)
    fitBlocks.foreach(_.unpersist(blocking = false))
    new ALSModel(m.uid, m.rank, uf, itf)
      .setUserCol(m.getUserCol)
      .setItemCol(m.getItemCol)
      .setPredictionCol(m.getPredictionCol)
      .setColdStartStrategy(m.getColdStartStrategy)
  }

  /** A local checkpoint of `df` whose plan reports the measured size and
    * row count of the rows it holds, in one job: the checkpoint reads
    * `df` through a cache that the same job fills, so by the time the
    * checkpoint takes its statistics the in-memory relation is loaded.
    * The checkpoint is taken of a fresh plan over `df`, which sees the
    * cache even when `df`'s own plan was optimized before it existed. */
  private def measuredCheckpoint(df: DataFrame): DataFrame = {
    df.cache()
    val cp = df.select("*").localCheckpoint()
    df.unpersist(blocking = false)
    cp
  }

  private val alsNames =
    "ratingBlocks|(user|item)(In|Out)Blocks|(user|item)Factors(-\\d+)?".r

  /** The RDDs ALS's fit left registered for persistence behind the factor
    * frames, found on their lineage by the names ALS gives them: the
    * rating blocks, the user and item in/out blocks, the last checkpointed
    * `itemFactors-<iter>` iterate, and the final `userFactors` /
    * `itemFactors`, which a fit at final storage level NONE registers
    * but never stores (and so leaves for the fence to free). The same
    * lineage also reaches the training input, whose caches are not ALS's
    * to drop. Empty for a model that is already fenced. */
  private def alsPersisted(dfs: DataFrame*): Seq[RDD[_]] = {
    val registered = dfs.head.sparkSession.sparkContext.getPersistentRDDs
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Seq[RDD[_]] =
      if (!seen.add(r.id)) Nil
      else (if (registered.contains(r.id) &&
          Option(r.name).exists(alsNames.matches)) Seq(r) else Nil) ++
        r.dependencies.flatMap(d => walk(d.rdd))
    dfs.flatMap(_.queryExecution.analyzed.collect {
      case e: ExternalRDD[_] => e.rdd
      case l: LogicalRDD => l.rdd
    }).flatMap(walk)
  }
}
