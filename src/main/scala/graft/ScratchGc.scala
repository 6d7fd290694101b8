package graft

/** Scale-gated full-GC for the train-heavy paths (optimization r14,
  * guide §1.2/§5): the antidote sweep and the ALS model memo fire
  * `System.gc()` between trains so the ContextCleaner reclaims each dead
  * train's shuffle files before the next train writes its own — at the
  * sf10 rung a single train's scratch is tens of GB and the r14 ladder
  * measured the sweep walling the box without it. At the bench rungs
  * (sf0.001–0.1) those same shuffle files are MBs, and the forced full
  * GC costs 0.3–1.5 s per call on a warmed heap — strictly more than it
  * frees. Gate the GC on the training input's row count: below the
  * threshold the cleaner's periodic pass (Bench pins it to 2 min) is
  * plenty; at and above it the eager GC is what keeps peak scratch at
  * "one live train". */
object ScratchGc {
  val minRows: Long = 20000000L

  /** Run System.gc() only when `inputRows` says a train's scratch is
    * big enough that eager reclamation beats the GC pause. */
  def maybe(inputRows: Long): Unit = if (inputRows >= minRows) System.gc()
}
