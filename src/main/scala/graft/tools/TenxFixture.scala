package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Materialize a deterministic Nx fixture directory with the EXACT
  * fixture table names and FULL schemas, so both `graft.Bench`
  * (SPARK_GRAFT_SF_DIR=<outDir>) and `tools/bench_oracle.py <outDir>`
  * run the same registered queries at Nx scale — the per-query
  * Spark-vs-DuckDB ratio measured where the constants have amortized
  * (VERDICT r10 task 3), instead of argued from fixture-sized walls.
  *
  * Same key-shift/perturbation discipline as `ScaleRehearsal`'s corpus
  * (copy-token'd documents, jittered embeddings, key-shifted orders with
  * the FK shift applied to BOTH sides so join selectivity is preserved),
  * but keeping every column of every table.
  *
  * Usage: runMain graft.tools.TenxFixture <outDir> [copies=10]
  *        (reads SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)
  */
object TenxFixture {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-sf10x")
    val nCopies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val copies = explode(sequence(lit(0), lit(nCopies - 1))).as("copy")

    // the key shifts assume the base fixture's id ranges — a larger base
    // would silently collide copy 0's high keys with copy 1's low ones,
    // corrupting join fan-out and the id-uniqueness preconditions the
    // benchmarks exercise. Refuse loudly instead (one tiny agg per table).
    def assertShift(table: String, idCol: String, shift: Long): Unit = {
      val mx = spark.read.parquet(s"$sfDir/$table.parquet")
        .agg(max(col(idCol))).head().getLong(0)
      require(mx < shift,
        s"TenxFixture: $table.$idCol max $mx >= copy shift $shift — " +
          "raise the shift constant for this base fixture")
    }
    assertShift("documents", "doc_id", 1000000L)
    assertShift("embeddings", "vec_id", 1000000L)
    assertShift("orders", "o_orderkey", 100000000L)
    assertShift("orders", "o_custkey", 10000000L)
    assertShift("customer", "c_custkey", 10000000L)

    // The base tables are single-file; exploding N copies of a one-
    // partition read and writing directly produces ONE file with 1-2 row
    // groups — at most two scan tasks ever carry data, so the first stage
    // of every fixture query (scan + tokenize/explode/partial-agg, often
    // the expensive part) is SERIALIZED by input layout and a core-count
    // contrast measures the layout, not the engine (guide §2.5 input
    // skew; r17 measured exactly this: a 32-task sketch stage whose
    // total task time equaled one task's wall). Spread each table over
    // a deterministic hash layout before writing, one file per core.
    def spread(df: org.apache.spark.sql.DataFrame, key: String) =
      df.repartition(cpus.toInt, col(key))

    spread(spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("*"), copies)
      .withColumn("doc_id", col("doc_id") + col("copy") * lit(1000000L))
      .withColumn("text",
        when(col("copy") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" copytoken"), col("copy"))))
      .drop("copy"), "doc_id")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    spread(spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("*"), copies)
      .withColumn("vec_id", col("vec_id") + col("copy") * lit(1000000L))
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => when(i === 0, x + col("copy").cast("float") / 1000.0f)
          .otherwise(x)))
      .drop("copy"), "vec_id")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // FK pair shifts together: every copy's orders point at that copy's
    // customers, so inclusion/jaccard and join fan-outs match the 1x shape
    spread(spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("*"), copies)
      .withColumn("o_orderkey", col("o_orderkey") + col("copy") * lit(100000000L))
      .withColumn("o_custkey", col("o_custkey") + col("copy") * lit(10000000L))
      .drop("copy"), "o_orderkey")
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    spread(spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("*"), copies)
      .withColumn("c_custkey", col("c_custkey") + col("copy") * lit(10000000L))
      .drop("copy"), "c_custkey")
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    println(s"[tenx] wrote ${nCopies}x documents/embeddings/orders/customer to $outDir")
    spark.stop()
  }
}
