package graft

/** Wall-clock timer shared by the Bench and ScaleCheck probes. */
private[graft] object Timing {

  /** Seconds `f` takes to run. */
  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}
