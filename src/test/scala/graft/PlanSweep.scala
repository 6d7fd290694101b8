package graft

/** One registry sweep per data dir, shared by PostureSpec and
  * PlanDriftSpec: each query runs once, in registry order, and only its
  * [[PlanFacts]] on AQE's initial plan are kept (a failure keeps its
  * `Verify.cause`). Building it does not make the sweep free: `q.run`
  * itself executes real jobs for the eagerly-evaluated registry entries
  * (streaming maintainers replay to completion, ALS/GlobalRank-backed
  * queries collect or count during construction), and facts are taken
  * with the memo state those earlier entries establish in registry order.
  */
object PlanSweep {
  type Sweep = Seq[(String, Either[String, PlanFacts])]

  private val sweeps = scala.collection.mutable.Map.empty[String, Sweep]

  def apply(dataDir: String): Sweep = synchronized {
    sweeps.getOrElseUpdate(dataDir, SparkEntry.registry.map { q =>
      q.name -> (try {
        Right(PlanFacts.initial(
          q.run(SparkTestSession.spark, dataDir).queryExecution))
      } catch { case e: Throwable => Left(Verify.cause(e)) })
    })
  }
}
