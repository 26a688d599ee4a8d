package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.scheduler.graftaccess.Jobs
import org.apache.spark.sql.graftaccess.PlanDatasets

/** ANALYZED-LOGICAL-PLAN memo for pure query constructions. Each of the
  * dozens of chained Dataset operations inside a build re-runs Catalyst
  * analysis over its whole growing subtree (~O(depth²) in plan size), so
  * re-building a byte-identical statement on every pass costs tens to
  * hundreds of ms of driver time per query.
  *
  * The memo caches the analyzed logical plan only — plans, never results:
  * a hit wraps the cached plan in a FRESH Dataset/QueryExecution
  * ([[PlanDatasets.ofRows]]), so optimization, physical planning, codegen,
  * shuffles and every byte of execution re-run from the parquet inputs on
  * every action. (Re-using the same Dataset OBJECT would reuse its
  * shuffle outputs across passes — result caching, which this memo must
  * never do.)
  *
  * PURITY is decided per build, when a miss fills the cache. The plan is
  * stored only if
  *   1. the build started ZERO Spark jobs — no collect/count/write/
  *      checkpoint, so a hit skips nothing but plan construction; and
  *   2. every leaf of the analyzed plan (subqueries included) is a parquet
  *      relation under sfDir, a LocalRelation or a Range — the plan is a
  *      function of (code, session, store), so keying on the store's
  *      content identity is sound.
  * A build that fails either test is returned as built and not stored;
  * the next run builds again. Cold builds start schema-inference jobs, so
  * the first build over a cold table is never stored, and the next warm
  * one is. A query that is pure at one store size and eager at another is
  * classified at each.
  *
  * The job count comes from the DAGScheduler's job-id counter
  * ([[Jobs.submitted]]), which `submitJob` advances on the submitting
  * thread before the job runs. A listener-bus count is delivered
  * asynchronously and can lag the build; that undercount would store a
  * build that did real work. Jobs started concurrently by other threads
  * only overcount, which skips the memo for that build.
  *
  * Keys carry session identity (plans hold session-bound relation
  * instances), query name, and the store's recursive content identity
  * ([[Tables.fileIdent]]), so an in-place rewrite of any table file
  * misses. Non-local stores (no content identity) bypass the memo.
  */
object PlanMemo {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), LogicalPlan]()

  /** The [[QueryDef.run]] implementation. */
  def run(q: QueryDef, spark: SparkSession, sfDir: String): DataFrame = {
    val ident = Tables.fileIdent(sfDir)
    // fileIdent returns the bare path for non-local/absent roots — no
    // content identity to key on, so take the uncached build
    if (ident == sfDir) q.build(spark, sfDir)
    else {
      val key = (spark, q.name, ident)
      val hit = cache.get(key)
      if (hit != null) PlanDatasets.ofRows(spark, hit)
      else {
        val before = Jobs.submitted(spark.sparkContext)
        val df = q.build(spark, sfDir)
        val plan = df.queryExecution.analyzed
        if (Jobs.submitted(spark.sparkContext) == before && storeOnly(plan, sfDir)) {
          Tables.bounded(cache)
          cache.put(key, plan)
        }
        df
      }
    }
  }

  /** Names of the queries whose plans are held for `spark` over the
    * current content of `sfDir`. */
  private[graft] def held(spark: SparkSession, sfDir: String): Set[String] = {
    val ident = Tables.fileIdent(sfDir)
    val names = Set.newBuilder[String]
    cache.keySet.forEach(k => if ((k._1 eq spark) && k._3 == ident) names += k._2)
    names.result()
  }

  private def storeOnly(plan: LogicalPlan, sfDir: String): Boolean = {
    val root = new java.io.File(sfDir).getCanonicalPath + "/"
    def underRoot(p: org.apache.hadoop.fs.Path) =
      new java.io.File(p.toUri.getPath).getCanonicalPath.startsWith(root)
    plan.collectWithSubqueries { case leaf if leaf.children.isEmpty => leaf }
      .forall {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.nonEmpty && h.location.rootPaths.forall(underRoot)
          case _ => false
        }
        case _: LocalRelation | _: Range => true
        case _ => false
      }
  }
}
