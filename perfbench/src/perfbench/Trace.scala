package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark-side counters, observed only through public hooks: a
  * `SparkListener` for the scheduler, executors and shuffle, a
  * `QueryExecutionListener` for the Catalyst phase timings
  * (`qe.tracker.phases`) and the scan nodes' SQL metrics.
  */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    scanFiles: Long = 0, scanBytes: Long = 0, scanRows: Long = 0,
    analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0) {
  def -(o: Counters): Counters = zip(o)(_ - _)
  def +(o: Counters): Counters = zip(o)(_ + _)

  private def zip(o: Counters)(f: (Long, Long) => Long): Counters = {
    val v = productIterator.zip(o.productIterator)
      .map { case (x: Long, y: Long) => f(x, y); case _ => 0L }.toArray
    Counters(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9),
      v(10), v(11), v(12), v(13), v(14))
  }
}

/** One closed span: a named interval with the span that caused it, the
  * counters observed inside it, and the wall time during which no Spark
  * job was running.
  */
final case class Span(id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, delta: Counters, noJobMs: Long) {
  def ns: Long = endNs - startNs
}

/** Span recorder around the benchmark's calls into each layer. Stopped,
  * `span` only runs its body: no listener is registered and nothing is
  * recorded, so untraced passes measure the program alone. Started, every
  * span boundary first drains Spark's asynchronous listener bus, so the
  * counters inside a span are exact; that drain is part of the tracing
  * overhead the traced run reports.
  */
final class Trace(spark: SparkSession) {
  private var active = false
  @volatile private var c = Counters()
  private val jobStartMs = mutable.Map.empty[Int, Long]
  // (start, end) of finished jobs, epoch ms as the scheduler stamped them
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      c = c.copy(jobs = c.jobs + 1)
      jobStartMs(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStartMs.remove(e.jobId).foreach(s => jobIntervals += (s -> e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized { c = c.copy(stages = c.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
        tasks = c.tasks + 1,
        runMs = c.runMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case o => (o.children ++ o.subqueries).flatMap(scans)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val ss = scans(qe.executedPlan)
      def metric(k: String) =
        ss.flatMap(_.metrics.get(k)).map(_.value).sum
      Trace.this.synchronized {
        c = c.copy(
          scanFiles = c.scanFiles + metric("numFiles"),
          scanBytes = c.scanBytes + metric("filesSize"),
          scanRows = c.scanRows + metric("numOutputRows"),
          analysisMs = c.analysisMs + ms("analysis"),
          optimizationMs = c.optimizationMs + ms("optimization"),
          planningMs = c.planningMs + ms("planning"))
      }
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def isActive: Boolean = active

  def start(): Unit = if (!active) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    active = true
  }

  def stop(): Unit = if (active) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    active = false
  }

  private def drain(): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  private def snapshot(): Counters = { drain(); synchronized(c) }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val c0 = snapshot()
      open.push(id)
      val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val (t1, m1) = (System.nanoTime(), System.currentTimeMillis())
        open.pop()
        val c1 = snapshot()
        closed += Span(id, parent, name, t0, t1, c1 - c0,
          noJobMs(m0, m1))
      }
    }

  /** Milliseconds of [t0, t1] not covered by any job's run interval. */
  private def noJobMs(t0: Long, t1: Long): Long = synchronized {
    val iv = jobIntervals.iterator
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (0L, -1L)
    for ((s, e) <- iv) {
      if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) covered += ce - cs
    (t1 - t0) - covered
  }

  def spans: Seq[Span] = closed.toSeq.sortBy(_.startNs)

  /** Self time of every span: its duration minus the part its children
    * cover (children never overlap: one driver thread opens them).
    */
  def selfNs: Map[Int, Long] = {
    val kids = closed.groupBy(_.parent).map { case (k, v) => k -> v.map(_.ns).sum }
    closed.map(s => s.id -> (s.ns - kids.getOrElse(s.id, 0L))).toMap
  }
}
