package org.apache.spark

import org.apache.spark.status.api.v1.StageStatus

/** Test access to the status store: how many jobs carried `tag`, and
  * whether one of them, or any task of their stages (a cancelled job's
  * killed tasks included), is still running. Both drain the listener
  * bus first.
  */
object TaggedJobs {
  private def tagged(sc: SparkContext, tag: String) = {
    sc.listenerBus.waitUntilEmpty()
    sc.statusStore.jobsList(null).filter(_.jobTags.contains(tag))
  }

  def count(sc: SparkContext, tag: String): Int = tagged(sc, tag).size

  def running(sc: SparkContext, tag: String): Boolean = {
    val store = sc.statusStore
    val jobs = tagged(sc, tag)
    jobs.exists(_.status == JobExecutionStatus.RUNNING) ||
      jobs.flatMap(_.stageIds).distinct.exists(id =>
        store.stageData(id).exists(st =>
          st.status == StageStatus.ACTIVE || st.numActiveTasks > 0))
  }
}
