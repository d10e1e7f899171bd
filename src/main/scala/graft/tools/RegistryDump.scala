package graft.tools

import org.apache.spark.sql.functions._

/** Scala-façade reference dump for the PySpark binding proof
  * (tools/pyspark_registry_check.py): writes the façade outputs of the
  * SQL-registered expression family over the documents fixture, so a
  * separate pyspark process can recompute the same columns THROUGH SQL
  * (spark.sql.extensions=graft.GraftExtensions) and assert equality —
  * the cross-language analogue of the reference's multi-backend dispatch
  * (skrub/_dispatch.py:188-249).
  *
  * Usage: runMain graft.tools.RegistryDump <sfDir> <outPath>
  */
object RegistryDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val spark = graft.Sessions.local()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    import graft.functions.VecExprs
    docs.select(col("doc_id"),
        VecExprs.simhash64(col("text")).as("fp"),
        VecExprs.minhashSig(VecExprs.tokenShingles(col("text"), 3), 16).as("sig"),
        VecExprs.ngramRepStats(col("text"), 2).as("reps"),
        VecExprs.ngramTf(col("text"), 16).as("tf"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/registry")
    // the REAL-pipeline reference for the py4j half of the check: the
    // q_curation sweep shape, Scala-driven — the pyspark process re-runs
    // the SAME operator through the JVM gateway and must match row for row
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val bench = docs.filter(col("doc_id") % 17 === 0)
    graft.operators.Curation.sweep(corpus, bench,
        "text", "doc_id", decontaminateN = 4)
      .select(col("doc_id"), col("quality_ok"), col("repetition_ok"),
        col("exact_unique"), col("contaminated"), col("kept"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/curation")
    // standing-index lifecycle reference (part 4 of the pyspark check):
    // ensure -> probe through the SAME plain-typed facade the python
    // process drives (graft.api.Standing), Scala-driven — the pyspark
    // run rebuilds its own index over the same corpus and its probe must
    // match this row for row
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_dump_bm25").toString
    graft.api.Standing.ensureText(corpus, "text", "doc_id",
      "graft_dump_bm25", idxDir, 8)
    val qs = bench.orderBy("doc_id").limit(5)
      .select(col("doc_id").as("q_id"), col("text").as("q_text"))
    graft.api.Standing.probeText(spark, "graft_dump_bm25", qs,
        "q_text", "q_id", 10)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/standing")
    spark.stop()
  }
}
