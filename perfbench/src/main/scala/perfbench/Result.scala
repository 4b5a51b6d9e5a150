package perfbench

import scala.collection.mutable

/** Everything one run reports. Operations are the timed calls plus the
  * output checks; a call that throws or a check that fails is counted in
  * `failed` and its cause is printed to stderr.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  var checks = 0
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val facts = mutable.LinkedHashMap[String, String]()
  /** Highest heap in use right after the full GC that follows each timed
    * operation: the live data an operation leaves behind, which unlike the
    * raw heap peak does not depend on when the collector last ran.
    */
  var liveHeapBytes = 0L

  /** Run one timed operation; returns its wall seconds and value, or
    * None when it threw.
    */
  def op[T](name: String)(body: => T): Option[(Double, T)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = body
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $name%s $secs%.3f s")
      // Outside the timed interval: every operation starts on a collected
      // heap, so one operation's garbage is not collected in the next one.
      System.gc()
      liveHeapBytes = math.max(liveHeapBytes,
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      Some((secs, v))
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $name: $e")
        e.printStackTrace()
        None
    }
  }

  /** One output check; a failure prints its cause and counts as failed. */
  def check(name: String, ok: Boolean, cause: => String): Boolean = {
    attempted += 1
    checks += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name: $cause")
    }
    ok
  }

  /** A check whose failure would be caused by a broken gate, not by the
    * engine: a perturbed output must make `gate` return false.
    */
  def selfCheck(name: String, gateRejectsPerturbed: Boolean): Unit =
    check(s"self-check $name", gateRejectsPerturbed,
      "the gate accepted a perturbed output, so it cannot catch a wrong one")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def mb(bytes: Long): Double = bytes / 1e6
}
