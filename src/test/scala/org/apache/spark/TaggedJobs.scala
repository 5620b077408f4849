package org.apache.spark

import org.apache.spark.status.api.v1.StageStatus

/** Test access to the status store: whether a job carrying `tag`, or
  * any task of its stages (a cancelled job's killed tasks included),
  * is still running.
  */
object TaggedJobs {
  def running(sc: SparkContext, tag: String): Boolean = {
    sc.listenerBus.waitUntilEmpty()
    val store = sc.statusStore
    val jobs = store.jobsList(null).filter(_.jobTags.contains(tag))
    jobs.exists(_.status == JobExecutionStatus.RUNNING) ||
      jobs.flatMap(_.stageIds).distinct.exists(id =>
        store.stageData(id).exists(st =>
          st.status == StageStatus.ACTIVE || st.numActiveTasks > 0))
  }
}
