package graft.core

import org.apache.spark.SparkContext

/** Names the Spark jobs a library call runs, so a job list (or a
  * listener) can say what ran. */
object JobDescription {

  private val Key = "spark.job.description"

  /** Runs `body` with `spark.job.description` set to `description`,
    * then restores the caller's value (or its absence). It never
    * touches the job group: callers attribute jobs by group. Jobs that
    * AQE submits from its own threads inherit the description, as
    * they inherit every local property of the calling thread. */
  def around[T](sc: SparkContext, description: String)(body: => T): T = {
    val prior = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, description)
    try body finally sc.setLocalProperty(Key, prior)
  }
}
