package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize a deterministic Nx fixture directory with the EXACT
  * fixture table names and FULL schemas, so both `graft.Bench`
  * (SPARK_GRAFT_SF_DIR=<outDir>) and `tools/bench_oracle.py <outDir>`
  * run the same registered queries at Nx scale — the per-query
  * Spark-vs-DuckDB ratio measured where the constants have amortized
  * (VERDICT r10 task 3), instead of argued from fixture-sized walls.
  *
  * The one Nx generator: `ScaleRehearsal`, `PipelineRehearsal` and
  * `StreamingRehearsal` read the tables `write` lays down. Copy 0 is the
  * base table; every other copy shifts the keys (the FK shift applied to
  * BOTH sides, so join selectivity is preserved), appends a copy token to
  * each document (each copy reproduces the corpus' near-dup structure AND
  * every original gains N-1 cross-copy near-duplicates, on purpose) and
  * jitters embedding component 0 by copy/1000 (neighborhoods preserved,
  * exact ties broken deterministically). Events shift user and event ids
  * with timestamps unchanged: per-key stream length stays constant while
  * keys multiply, exactly how event corpora grow.
  *
  * Usage: runMain graft.tools.TenxFixture <outDir> [copies=10]
  *        (reads SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)
  */
object TenxFixture {

  /** Every table the generator writes: name -> key shifts; the first
    * shifted key is the table's spread key and copy index.
    */
  private val Shifts = scala.collection.immutable.ListMap(
    "documents" -> Seq("doc_id" -> 1000000L),
    "embeddings" -> Seq("vec_id" -> 1000000L),
    "orders" -> Seq("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L),
    "customer" -> Seq("c_custkey" -> 10000000L),
    "events" -> Seq("event_id" -> 100000000L, "user_id" -> 1000000L))

  val Tables: Seq[String] = Shifts.keys.toSeq

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-sf10x")
    val nCopies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    write(spark, sfDir, outDir, nCopies, Tables)
    spark.stop()
  }

  /** Write `nCopies` copies of each of `tables` (a subset of `Tables`) from
    * `sfDir` to `<outDir>/<table>.parquet`. A table already there that holds
    * `nCopies` copies of this base (row count and top copy index match) is
    * kept, any other is rewritten: every rehearsal can call this on a shared
    * fixture directory, and none silently rescales another's tables.
    */
  def write(spark: SparkSession, sfDir: String, outDir: String,
            nCopies: Int, tables: Seq[String]): Unit = {
    val copies = explode(sequence(lit(0), lit(nCopies - 1))).as("copy")
    tables.foreach { table =>
      val shifts = Shifts.getOrElse(table, throw
        new IllegalArgumentException(s"TenxFixture: unknown table $table"))
      val (key, keyShift) = shifts.head
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      // the key shifts assume the base fixture's id ranges — a larger base
      // would silently collide copy 0's high keys with copy 1's low ones,
      // corrupting join fan-out and the id-uniqueness preconditions the
      // benchmarks exercise. Refuse loudly instead (one tiny agg).
      val stats = base.select(count(lit(1)) +:
        shifts.map { case (c, _) => max(col(c)) }: _*).head()
      shifts.zipWithIndex.foreach { case ((c, shift), i) =>
        require(stats.getLong(i + 1) < shift,
          s"TenxFixture: $table.$c max ${stats.getLong(i + 1)} >= copy shift " +
            s"$shift — raise the shift constant for this base fixture")
      }
      val path = s"$outDir/$table.parquet"
      val written = scala.util.Try(spark.read.parquet(path)
        .select(count(lit(1)), max(col(key))).head()).toOption
      if (written.exists(w => w.getLong(0) == stats.getLong(0) * nCopies &&
          !w.isNullAt(1) && w.getLong(1) / keyShift + 1 == nCopies)) {
        println(s"[tenx] kept ${nCopies}x $table at $path")
      } else {
        val shifted = shifts.foldLeft(base.select(col("*"), copies)) {
          case (df, (c, shift)) => df.withColumn(c, col(c) + col("copy") * lit(shift))
        }
        spread(perturbed(table, shifted).drop("copy"), key)
          .write.mode("overwrite").parquet(path)
        println(s"[tenx] wrote ${nCopies}x $table to $path")
      }
    }
  }

  private def perturbed(table: String, df: DataFrame): DataFrame = table match {
    case "documents" => df.withColumn("text",
      when(col("copy") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" copytoken"), col("copy"))))
    case "embeddings" => df.withColumn("embedding", transform(col("embedding"),
      (x, i) => when(i === 0, x + col("copy").cast("float") / 1000.0f)
        .otherwise(x)))
    case _ => df
  }

  // The base tables are single-file; exploding N copies of a one-
  // partition read and writing directly produces ONE file with 1-2 row
  // groups — at most two scan tasks ever carry data, so the first stage
  // of every fixture query (scan + tokenize/explode/partial-agg, often
  // the expensive part) is SERIALIZED by input layout and a core-count
  // contrast measures the layout, not the engine (guide §2.5 input
  // skew; r17 measured exactly this: a 32-task sketch stage whose
  // total task time equaled one task's wall). Spread each table over
  // a deterministic hash layout before writing, one file per core and
  // at least 8, so a file-paced stream (StreamingRehearsal) still gets
  // 8 micro-batches on a small host.
  private def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(math.max(df.sparkSession.sparkContext.defaultParallelism, 8),
      col(key))
}
