package graft
import graft.plans.Json
import java.nio.file.{Files, Paths}

/** Dev helper: dump one or more queries (+ their oracle entries) for
  * tools/check.py — fast iteration without running the full Verify suite.
  * Usage: runMain graft.VerifyOne <name>[,<name>...] <sfDir> <outDir>
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(namesArg, sfDir, outDir) = args
    val names = namesArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    val entries = names.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(sql => s"${Json.str(n)}: ${Json.str(sql)}"))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      entries.mkString("{", ", ", "}"))
    spark.stop()
  }
}
