package org.apache.spark.sql.graftaccess

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils}
import org.apache.spark.sql.sources.{BaseRelation, Filter}

/** Compile-time access shim for `DataSourceStrategy.translateFilter`
  * (protected[sql]): the data-source filters a file scan over `relation`
  * pushes to its reader, translated exactly as `FileSourceScanExec` does
  * (nested-column predicates only where the relation supports them).
  */
object SourceFilters {
  def pushed(relation: BaseRelation, dataFilters: Seq[Expression]): Seq[Filter] = {
    val nested = DataSourceUtils.supportNestedPredicatePushdown(relation)
    dataFilters.flatMap(DataSourceStrategy.translateFilter(_, nested))
  }
}
