package org.apache.spark

import java.util.Properties

/** The `private[spark]` pieces [[graft.obs.JobLog]] needs: draining the
  * listener bus, so every event of a finished action has been delivered,
  * and the job property that carries a job's tags. */
object JobLogBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The tags a job was submitted with (its `addJobTag` set). */
  def tags(props: Properties): Set[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).toSet).getOrElse(Set.empty)
}
