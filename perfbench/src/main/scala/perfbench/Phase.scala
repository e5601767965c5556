package perfbench

import scala.collection.mutable

/** What the timed phases of one mode (traced or not) recorded. The clock
  * excludes correctness checks, which run inside [[outside]]. A warm-up
  * phase (`warmUpRounds` > 0) runs a fixed number of loop rounds instead of
  * a fixed time, skips the whole-table checks, and its figures are
  * discarded. */
final class Phase(val tracer: Tracer, val seconds: Double, val warmUpRounds: Int = 0) {
  def warmUp: Boolean = warmUpRounds > 0
  private var rounds = 0
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  // The clock runs in segments (start .. finish); a traced run times two.
  private var segStart = 0L // 0 while no segment runs
  private var segPaused = 0L
  private var doneNs = 0L
  var startedEpochMs = 0L // when the first segment began

  def start(): Unit = {
    // garbage left by set-up and reference runs is collected off the clock
    System.gc()
    if (startedEpochMs == 0L) startedEpochMs = System.currentTimeMillis()
    segStart = System.nanoTime()
    segPaused = 0L
  }
  /** Clock time of the current segment, checks excluded. */
  def segmentNs: Long = if (segStart == 0L) 0L else System.nanoTime() - segStart - segPaused
  /** Clock time of all segments so far. */
  def elapsedNs: Long = doneNs + segmentNs
  /** Whether a workload loop runs another round: while the segment's time
    * lasts, or in a warm-up for the first `warmUpRounds` calls. */
  def another(): Boolean =
    if (warmUp) { rounds += 1; rounds <= warmUpRounds }
    else segmentNs < (seconds * 1e9).toLong
  def finish(): Unit = { doneNs += segmentNs; segStart = 0L }

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  def add(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v

  /** Run `body` off the phase clock (checks, bookkeeping reads). Traced,
    * it is a [[Tracer.Pause]] span, which the trace accounting leaves out. */
  def outside[T](body: => T): T = {
    val s = System.nanoTime()
    try tracer.span(Tracer.Pause)(body) finally if (segStart != 0L) segPaused += System.nanoTime() - s
  }

  /** Time one operation. An operation that throws, or whose result
    * `verify` rejects (checked off the clock), counts as failed and records
    * no latency. Returns the result when it succeeded. */
  def timed[T](key: String, verify: T => Option[String])(body: => T): Option[T] = {
    attempted += 1
    val s = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
    val ns = System.nanoTime() - s
    r.flatMap(v => outside(verify(v)).toLeft(v)) match {
      case Left(err) =>
        failed += 1
        checks += ((key, false, err.take(500)))
        None
      case Right(v) =>
        sample(key, ns / 1e6)
        sample("ops_ms", ns / 1e6) // every completed operation, in run order
        outside(sample("probe_ms", HostProbe.ms()))
        Some(v)
    }
  }

  /** [[timed]] for an operation whose result needs no check. */
  def run[T](key: String)(body: => T): Option[T] = timed[T](key, _ => None)(body)

  /** A correctness check: counts as one attempted operation, and as a
    * failed one when it does not hold. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      checks += ((name, false, detail.take(500)))
    } else checks += ((name, true, ""))
    ok
  }
}
