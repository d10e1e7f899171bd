package graft

/** Local smoke runner: executes the driver contract's `entry` flagship
  * pipeline exactly as the driver would and prints the row/column counts.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n cols=${df.columns.length}")
    println(s"[smoke] columns: ${df.columns.mkString(", ")}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
