package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Measurement harness (guide §1): time the phases of one seeded ALS
  * train at sf0.1 and attribute stage time, so the antidote family's
  * dominant cost is optimized from evidence, not guesses. Not a
  * registered query; emits timings to stdout only. */
object ProfileAls {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Stage-time attribution by job description.
    val stageAgg = scala.collection.mutable.Map.empty[String, (Long, Double)]
    @volatile var label = "init"
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val info = ev.stageInfo
        val wall = (info.completionTime.getOrElse(0L) -
          info.submissionTime.getOrElse(0L)) / 1e3
        val cur = stageAgg.getOrElse(label, (0L, 0.0))
        stageAgg(label) = (cur._1 + 1, cur._2 + wall)
      }
    })
    def timed[T](name: String)(f: => T): T = {
      label = name
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    val ratings = timed("ratings_view") {
      val v = graft.ml.Ratings.viewCached(spark, sfDir)
      v.count(); v
    }
    // One cold seeded train per timing knob: clearing the ALS memos
    // before each timed train keeps it from being a memo hit.
    def coldTrain(name: String, cfg: graft.ml.AlsEngine.Config): Unit = {
      graft.ml.AlsEngine.clearCache()
      timed(name) { graft.ml.AlsEngine.train(ratings, cfg) }
    }
    val cfg3 = graft.ml.AlsEngine.Config(maxIter = 3)
    coldTrain("als_maxIter3_run1", cfg3)
    coldTrain("als_maxIter3_run2", cfg3)
    val cfg10 = graft.ml.AlsEngine.Config()
    coldTrain("als_maxIter10_run1", cfg10)
    coldTrain("als_maxIter10_run2", cfg10)
    val model = graft.ml.AlsEngine.train(ratings, cfg3)
    timed("predictKnown_count") {
      graft.ml.AlsEngine.predictKnown(model, ratings).count()
    }
    timed("factor_moments") { graft.ml.Antidote.polarization(model) }

    println("[profile] stage wall-clock by phase:")
    stageAgg.toSeq.sortBy(-_._2._2).foreach { case (k, (n, s)) =>
      println(f"[profile]   $k%-28s $n%4d stages ${s}%8.3f s") }
    spark.stop()
  }
}
