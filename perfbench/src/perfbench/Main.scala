package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{EngineSession, LoadCanary}

/** The benchmark's JVM side. Runs one workload in one JVM at
  * `local[cores]` with one driver thread, so every workload is a closed
  * loop with a single client, and writes the run's record as JSON.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <record.json> <workDir> <startEpochMs> [<dataDir> <checkDir> <q1,q2,...>]
  *
  * A run is: session build, an untimed warm-up pass (checked), a load
  * canary, timed passes until `seconds` have elapsed (at least one; a
  * traced run makes at least two), a second canary. With trace 1, timed passes alternate
  * between untraced and traced, starting untraced; per-layer figures come
  * from the traced ones and the tracing overhead from the difference
  * between the two medians.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, recordPath, workDir, startS) = args.take(7)
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val startMs = startS.toLong
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val jvmMs = System.currentTimeMillis()
    val spark = EngineSession.builder(cores)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    val trace = new Trace(spark)
    val rec = new Recorder(trace)
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val (warmUp, timedPass, layers): (() => Unit, () => Unit, () => Map[String, Double]) =
      workload match {
        case "hep-store" =>
          val w = new HepStore(spark, trace, rec, seed, workDir)
          (() => w.warmUp(), () => w.round(),
            () => Layers.hep(trace, w, cores.toInt))
        case _ =>
          val Array(dataDir, checkDir, list) = args.slice(7, 10)
          val w = new Catalog(spark, trace, rec, dataDir, list.split(",").toSeq)
          extra("oracle_sql") = w.oracleSql
          (() => w.checkPass(checkDir), () => w.pass(),
            () => Layers.catalog(trace, cores.toInt))
      }
    warmUp()
    val warmOps = rec.opLog.toSeq
    rec.latencyMs.clear(); rec.passS.clear(); rec.opLog.clear()
    val warmMs = System.currentTimeMillis()

    val canaryStart = LoadCanary.measure(spark, warmups = 1, timed = 2)
    val stat0 = Load.procStat()
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val untracedS = mutable.ArrayBuffer.empty[Double]
    var n = 0
    val minPasses = if (traced) 2 else 1
    while (n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = traced && n % 2 == 1
      if (on) trace.start() else trace.stop()
      timedPass()
      if (traced && !on) untracedS += rec.passS.remove(rec.passS.size - 1)
      n += 1
    }
    trace.stop()
    val timedS = (System.nanoTime() - t0) / 1e9
    val stat1 = Load.procStat()
    val canaryEnd = LoadCanary.measure(spark, warmups = 1, timed = 2)

    val layerMetrics = if (traced) {
      val tracedMedian = Stats.median(rec.passS.toSeq)
      val untracedMedian = Stats.median(untracedS.toSeq)
      layers() ++ Map(
        "trace.overhead_ratio" -> (tracedMedian / untracedMedian - 1.0))
    } else Map.empty[String, Double]
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> cores.toInt,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures.toSeq,
      "ops" -> rec.ops.map { case (k, v) => k -> Map("attempted" -> v(0), "failed" -> v(1)) },
      "latency_ms" -> rec.latencyMs.toSeq, "pass_s" -> rec.passS.toSeq,
      "untraced_pass_s" -> untracedS.toSeq,
      "warmup_ops_ms" -> warmOps.map { case (k, ms) => Seq(k, ms) },
      "timed_ops_ms" -> rec.opLog.map { case (k, ms) => Seq(k, ms) },
      "setup" -> Map(
        "to_jvm_s" -> (jvmMs - startMs) / 1e3,
        "session_s" -> (sessionMs - jvmMs) / 1e3,
        "warmup_s" -> (warmMs - sessionMs) / 1e3,
        "to_first_op_s" -> (firstOpMs - startMs) / 1e3),
      "timed_s" -> timedS,
      "load" -> Map(
        "steal_share" -> Load.stealShare(stat0, stat1),
        "canary_start_s" -> canaryStart, "canary_end_s" -> canaryEnd,
        "canary_reference_s" -> LoadCanary.referenceSec),
      "peak_rss_mb" -> Load.peakRssMb(),
      "per_layer" -> layerMetrics) ++ extra
    if (traced) record("spans") = Layers.spanSummary(trace)
    Files.writeString(Paths.get(recordPath), Json(record))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Load labels for a run record. They label a reading; they never
  * rescale a metric.
  */
object Load {
  /** (steal jiffies, all jiffies) from the aggregate cpu line. */
  def procStat(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  } catch { case _: Throwable => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  } catch { case _: Throwable => 0.0 }
}

/** A minimal JSON encoder for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
