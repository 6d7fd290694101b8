package graft

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors}

/** Independent jobs on a `threads`-wide pool (guide §2.6: a chain of
  * small Spark jobs leaves most cores idle). Results come back in job
  * order. Fails fast: the first job to fail, in completion order, has its
  * ORIGINAL cause rethrown (`get()` wraps it in ExecutionException) and
  * the jobs still running are interrupted, not waited on. */
object Concurrently {

  def apply[A](threads: Int)(jobs: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val done = new ExecutorCompletionService[A](pool)
      val futs = jobs.map(f => done.submit(new Callable[A] {
        def call(): A = f()
      }))
      jobs.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException =>
          pool.shutdownNow(); throw Option(e.getCause).getOrElse(e)
        }
      }
      futs.map(_.get())
    } finally pool.shutdown()
  }
}
