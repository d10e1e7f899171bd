package graft

import org.apache.spark.sql.SparkSession

package object obs {

  private val DescriptionKey = "spark.job.description"

  /** Run `body` with `name` as the description of every Spark job it
    * starts from this thread (what the Spark UI, event logs and
    * `Collector`'s `JobStats.description` show), then restore the
    * description that was set before — or none — also when `body`
    * throws. Job groups are left alone. Scopes nest: an inner phase names
    * its own jobs and hands the outer name back on exit. A lazily
    * returned frame's jobs run in the caller's action and carry the
    * caller's description.
    */
  def phase[A](name: String)(body: => A): A = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty(DescriptionKey)
    sc.setLocalProperty(DescriptionKey, name)
    try body
    finally sc.setLocalProperty(DescriptionKey, prev)
  }
}
