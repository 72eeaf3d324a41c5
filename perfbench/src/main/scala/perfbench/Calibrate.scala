package perfbench

/** In-run control for host speed. On a shared host the same run reads up
  * to ~2× slower or faster from one minute to the next, across every
  * operation at once. A fixed CPU-and-memory kernel timed in the same run
  * tracks that drift: end-to-end timings are reported in reference-host
  * seconds, raw × [[RefSeconds]] / kernel seconds; the detail lines carry
  * the raw values and the factor.
  */
object Calibrate {
  /** The kernel's typical wall on a 4-vCPU VM at local[4]. */
  val RefSeconds = 0.16

  /** One kernel run: one thread per core, each filling 1M pseudo-random
    * longs and sorting them. Returns the wall seconds.
    */
  def once(threads: Int, seed: Long): Double = {
    val t0 = System.nanoTime()
    val workers = (0 until threads).map { i =>
      val t = new Thread(() => {
        val a = new Array[Long](1 << 20)
        var x = seed * 31 + i
        var k = 0
        while (k < a.length) {
          x = x * 6364136223846793005L + 1442695040888963407L
          a(k) = x
          k += 1
        }
        java.util.Arrays.sort(a)
      })
      t.start()
      t
    }
    workers.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Median kernel wall over five runs. */
  def measure(threads: Int): Double =
    Stats.median((0 until 5).map(i => once(threads, i)))
}
