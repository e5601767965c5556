package perfbench

/** A fixed amount of single-thread integer work, timed. Its median over a
  * run measures how fast the host ran that run (CPU steal and busy
  * neighbours on a shared machine slow it as they slow the engine). */
object HostProbe {
  private val Iterations = 4000000
  @volatile private var sink = 0L

  def ms(): Double = {
    val s = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < Iterations) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink = x
    (System.nanoTime() - s) / 1e6
  }
}
