package perfbench

import scala.collection.mutable

/** Counts and times the timed operations of one run. An operation's body
  * does the timed work and returns a [[Check]] that verifies its result;
  * the check runs after the clock stops. An operation that throws or
  * whose check reports a difference counts as failed; only operations
  * that succeed contribute latency samples.
  */
final class Recorder(trace: Trace) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val latencyMs = mutable.ArrayBuffer.empty[Double]
  val passS = mutable.ArrayBuffer.empty[Double]
  /** Per operation kind (a query name on the catalog workloads): attempted
    * and failed counts, warm-up included.
    */
  val ops = mutable.LinkedHashMap.empty[String, Array[Int]]
  /** (kind, ms) of every operation, in order, checks excluded. */
  val opLog = mutable.ArrayBuffer.empty[(String, Double)]
  private var checkNs = 0L

  def op(kind: String, sample: Boolean = false)(body: => Check): Unit = {
    val counts = ops.getOrElseUpdate(kind, Array(0, 0))
    counts(0) += 1
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(trace.span(s"op.$kind")(body)) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    val verdict = res match {
      case Left(e) => Some(s"$kind threw ${e.toString.take(300)}")
      case Right(check) =>
        try check() catch { case e: Throwable => Some(s"$kind check threw $e") }
    }
    checkNs += System.nanoTime() - t1
    opLog += kind -> (t1 - t0) / 1e6
    verdict match {
      case Some(msg) =>
        counts(1) += 1
        failed += 1
        if (failures.size < 20) failures += msg
      case None => if (sample) latencyMs += (t1 - t0) / 1e6
    }
  }

  /** Times one pass over the workload's operation list, checks excluded. */
  def pass(body: => Unit): Unit = {
    checkNs = 0L
    val t0 = System.nanoTime()
    trace.span("pass")(body)
    passS += (System.nanoTime() - t0 - checkNs) / 1e9
    System.err.println(f"perfbench: pass ${passS.last}%.2f s, $attempted ops, $failed failed")
  }
}
