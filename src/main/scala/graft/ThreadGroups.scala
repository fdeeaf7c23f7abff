package graft

import org.apache.spark.SparkContext

/** Spark's job-group/description properties are THREAD-LOCAL, so a
  * query that submits independent job chains from concurrent threads
  * (sim09's two trainers, dd08's two candidate generators) silently
  * drops the caller's group on those chains: `Dev.Gauge` undercounts
  * them (round-16 audit: sim09 read 10 jobs when its trainers schedule
  * ~12 more), and `cancelJobGroup` cannot stop them. Capture the
  * caller's properties before the fork and re-apply them on the
  * worker thread. */
object ThreadGroups {
  private val Keys = Seq(
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel")

  /** The calling thread's group properties (only the set ones). */
  def captured(sc: SparkContext): Seq[(String, String)] =
    Keys.flatMap(k => Option(sc.getLocalProperty(k)).map(k -> _))

  /** Run `body` with `props` applied to THIS thread's Spark-local
    * properties — use inside a Future whose jobs belong to the
    * submitting query's group. The previous values are restored on
    * exit: execution-context threads are POOLED, and a leaked group
    * would mislabel whatever unrelated work the pool schedules on this
    * thread next. */
  def withCaptured[T](sc: SparkContext,
      props: Seq[(String, String)])(body: => T): T = {
    val prev = Keys.map(k => k -> sc.getLocalProperty(k))
    props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try body
    finally prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
