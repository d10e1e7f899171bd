package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for every suite (suites run sequentially in the
  * forked test JVM; a per-suite session would pay ~5s startup each), built
  * from the same recipe as every main.
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)

  val SfDir = "/root/testdata/sf0.001"

  def table(name: String): DataFrame = graft.ops.Kernel.table(spark, SfDir, name)
}
