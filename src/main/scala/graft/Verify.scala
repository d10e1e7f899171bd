package graft
import graft.plans.Json
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional comma-separated name filter for fast local iteration on a few
    // queries; the driver never sets it, so its runs always dump everything.
    val selected = SparkEntry.selected("SPARK_GRAFT_QUERIES",
      sys.env.get("SPARK_GRAFT_QUERIES"))
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries are independent — a persisted block one query leaves behind
      // (e.g. a fit-time fan-out persist on a frame the query also returns)
      // must not squeeze storage memory for the next one
      Sessions.clearState(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
