package org.apache.spark.scheduler.graftaccess

import org.apache.spark.SparkContext

/** Compile-time access shim for `DAGScheduler.numTotalJobs` (private[scheduler]):
  * the scheduler's job-id counter. `submitJob` advances it on the
  * submitting thread, so a read taken after a call returns counts every
  * job that call started — unlike a listener count, which waits on the
  * async listener bus.
  */
object Jobs {
  def submitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
