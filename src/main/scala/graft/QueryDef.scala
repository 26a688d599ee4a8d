package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query.
  *
  * @param name   registry key (drives CORRECTNESS_r{N}.json line items)
  * @param oracle equivalent ANSI SQL for the DuckDB oracle over the same
  *               parquet tables; None → driver records a rows-only check.
  *               Column names MUST match the Spark result exactly.
  * @param build  the Spark-side implementation, (session, sfDir) => result
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    build: (SparkSession, String) => DataFrame) {

  /** The driver-facing entry point: [[build]], routed through the
    * analyzed-plan memo. A build that starts no Spark jobs and reads only
    * store tables, literals or ranges has its analyzed plan stored, and
    * later runs over the same store content re-use it; every run still
    * optimizes, plans, codegens and EXECUTES from scratch. See
    * [[PlanMemo]] for the rule and why its job count is synchronous.
    */
  def run(spark: SparkSession, sfDir: String): DataFrame =
    PlanMemo.run(this, spark, sfDir)
}

object QueryCatalog {
  /** All registered queries, in registration order. Modules contribute here;
    * SparkEntry exposes the flattened maps for the driver.
    */
  def all: Seq[QueryDef] =
    operators.Relational.defs ++
      operators.Relational2.defs ++
      operators.Relational3.defs ++
      operators.Relational4.defs ++
      operators.EventOps.defs ++
      operators.TimeSeries.defs ++
      operators.TimeSeries2.defs ++
      operators.Dedup.defs ++
      operators.Incremental.defs ++
      operators.Urls.defs ++
      operators.Paragraphs.defs ++
      operators.Sampling.defs ++
      operators.Similarity.defs ++
      operators.Similarity2.defs ++
      operators.TextAnalysis.defs ++
      operators.Retrieval.defs ++
      operators.MlQuality.defs ++
      operators.Multimodal.defs ++
      operators.Skew.defs

  def byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
