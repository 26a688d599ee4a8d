package perfbench

import org.apache.spark.sql.SparkSession

import graft.{QueryCatalog, QueryDef}

/** The catalog workloads: one client runs a fixed list of registered
  * queries, each built with `QueryDef.run` and executed to completion
  * through Spark's `noop` sink. The sink runs the plan exactly as built
  * (final sort and every projected column included) and discards the
  * rows, so the timing is the query's, not a count's.
  *
  * Results are checked once per run, in the untimed warm-up pass, which
  * writes every result to parquet; the caller compares an
  * order-insensitive digest of each against the DuckDB oracle. A query
  * whose digest differs fails every one of its timed operations.
  */
final class Catalog(spark: SparkSession, trace: Trace, rec: Recorder,
    dataDir: String, names: Seq[String]) {

  private val defs: Seq[QueryDef] = {
    val all = QueryCatalog.byName
    names.map(n => all.getOrElse(n, sys.error(s"no registered query $n")))
  }

  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Writes every result to `<outDir>/<name>`; exceptions fail the query. */
  def checkPass(outDir: String): Unit =
    for (q <- defs) rec.op(q.name) {
      q.run(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      () => None
    }

  def pass(): Unit = rec.pass {
    for (q <- defs) {
      rec.op(q.name, sample = true) {
        val df = trace.span("QueryDef.build")(q.run(spark, dataDir))
        trace.span("Query.execute")(df.write.format("noop").mode("overwrite").save())
        () => None
      }
    }
  }
}
