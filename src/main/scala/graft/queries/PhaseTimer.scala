package graft.queries

/** Stderr phase timing for the streaming ingest loops (q111, q214), off
  * by default: SPARK_GRAFT_STREAM_TIMING=1 turns it on. Every line reads
  * `[<tag>] <label> <seconds> s`; SCALE.md's decompositions into fixed
  * streaming overhead (snapshot ensure, state seed, stream start/stop)
  * and per-epoch member work are read from these lines. */
private[graft] final class PhaseTimer(tag: String) {
  private val on = sys.env.get("SPARK_GRAFT_STREAM_TIMING").contains("1")

  /** Runs `body`, printing its wall time when timing is on. */
  def apply[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    since(t0, label)
    r
  }

  /** Prints the wall time since `t0` (a `System.nanoTime`) when timing
    * is on. */
  def since(t0: Long, label: => String): Unit =
    if (on) System.err.println(f"[$tag] $label ${
      (System.nanoTime() - t0) / 1e9}%.3f s")
}
