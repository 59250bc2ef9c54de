package graftbench

/** The box's current speed, measured by a fixed CPU-bound work unit run on
  * every workload core at once. The host is shared: co-tenant load slows
  * every figure of a run together, and by different amounts from run to
  * run. `run.py` runs this probe in a JVM of its own just before and just
  * after the workload JVM, combines it with the host's steal time over the
  * run into a speed factor, and divides the timed figures by it so that
  * they compare across runs; the raw figures stay in the report lines.
  *
  * The work unit touches no heap after warm-up and calls nothing in graft
  * or Spark, and it never shares a JVM with the workload, so neither a
  * change to the program nor work the program leaves running can move it.
  *
  * {{{
  *   graftbench.Probe <threads>   # prints the probe time in ms
  * }}}
  */
object Probe {
  private val Rounds = 5

  /** Wall milliseconds of one work unit on `threads` threads. */
  def once(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0
        while (i < 40000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          i += 1
        }
        sink.addAndGet(x)
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** Median of a few work units: the box's current slowness in ms. */
  def sample(threads: Int): Double = Stats.median((0 until Rounds).map(_ => once(threads)))

  def main(args: Array[String]): Unit = {
    val threads = args.head.toInt
    once(threads) // compile the work unit first
    println(sample(threads))
  }
}
