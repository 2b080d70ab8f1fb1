package perfbench

/** The warm-up and timed loops the workloads share. */
object Measure {

  /** Repeat `op` (which returns seconds) until one run is no faster
    * than 95% of the best before it, or `max` runs. A first pass over
    * cold JIT and codegen caches runs well above steady state, and one
    * pass is not always enough. The heap is settled after each run as
    * it is after each timed one, so that the two compare.
    */
  def warmUp(c: Ctx, max: Int)(op: => Double): Seq[Double] = {
    val ts = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (ts.size < max && (ts.size < 2 || ts.last < 0.95 * ts.init.min)) {
      ts += op
      c.heap.settle()
    }
    ts.toSeq
  }

  /** Run operations until `c.seconds` have passed and at least `minOps`
    * ran. With tracing on, every second operation is traced and the
    * others run untraced, so the two can be compared for the tracing
    * overhead (`minOps` of 2 or more gives one of each). The heap is
    * settled after each operation, outside it.
    */
  def timed[A](c: Ctx, minOps: Int)(op: (Int, Boolean) => A): Seq[A] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[A]
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    while (out.size < minOps || System.nanoTime() < deadline) {
      val i = out.size
      out += op(i, c.trace && i % 2 == 1)
      c.heap.settle()
    }
    out.toSeq
  }

  /** Tracing overhead: the traced median over the untraced one. */
  def overhead(traced: Seq[Double], plain: Seq[Double]): Double =
    Stat.median(traced) / Stat.median(plain)
}
