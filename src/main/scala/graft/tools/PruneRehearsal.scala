package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partition-pruning rehearsal (VERDICT r9 task 5): the fixtures are flat
  * parquet, but a 100 TB corpus is date/source-partitioned — this tool
  * MEASURES what the layout buys. It synthesizes an N-copy events corpus
  * (deterministic ts spread so each copy adds distinct days), writes it
  * twice — flat and `Partitioned.write`-by-date — and times the same
  * one-day aggregate on both, reporting wall, files read, and rows
  * scanned. The pruned scan's cost must track the DAY size while the flat
  * scan's tracks the CORPUS size; BASELINE.md records the row.
  *
  * Usage: runMain graft.tools.PruneRehearsal [workDir] with
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_PRUNE_COPIES (default 20).
  */
object PruneRehearsal {

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft-prune")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_PRUNE_COPIES", "20").toInt
    val spark = graft.Sessions.local()

    // N perturbed copies; copy i shifts ts by i days so the corpus covers
    // N x the base date range — the realistic accumulate-over-time shape
    val base = graft.ops.Kernel.table(spark, sfDir, "events")
    val big = spark.range(copies).toDF("copy").crossJoin(base)
      .withColumn("ts", timestamp_micros(
        unix_micros(col("ts")) + col("copy") * lit(86400000000L)))
      .withColumn("event_id", col("event_id") * copies + col("copy"))
      .withColumn("event_date", to_date(col("ts")))
      .drop("copy")
    val flatPath = s"$workDir/events_flat"
    val partPath = s"$workDir/events_by_date"
    // realistic file counts: the flat layout lands as 64 date-interleaved
    // files (ingest order, like a real flat dump — row-group stats cannot
    // prune a date that appears in every file); the partitioned layout
    // gets one file per date directory
    big.repartition(64).write.mode("overwrite").parquet(flatPath)
    graft.sources.Partitioned.write(big.repartition(col("event_date")),
      partPath, Seq("event_date"))

    def timed(df: DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      df.agg(count(lit(1)), sum(col("value")), avg(col("value"))).collect()
      ((System.nanoTime() - t0) / 1e9, 0L)
    }

    val day = big.agg(max(col("event_date"))).head().getDate(0)
    val flat = spark.read.parquet(flatPath)
    val part = graft.sources.Partitioned.read(spark, partPath)
    // warmup both paths (codegen/JIT), then time
    timed(flat.filter(col("event_date") === lit(day)))
    timed(part.filter(col("event_date") === lit(day)))
    val (flatSec, _) = timed(flat.filter(col("event_date") === lit(day)))
    val (prunedSec, _) = timed(part.filter(col("event_date") === lit(day)))
    val evFlat = graft.sources.Partitioned.scanEvidence(
      flat.filter(col("event_date") === lit(day))
        .select(col("event_id"), col("value")))
    val evPruned = graft.sources.Partitioned.scanEvidence(
      part.filter(col("event_date") === lit(day))
        .select(col("event_id"), col("value")))

    val nDays = big.select(col("event_date")).distinct().count()
    println(s"""{"metric":"prune_rehearsal","copies":$copies,""" +
      s""""rows":${big.count()},"days":$nDays,""" +
      s""""flat_sec":${math.round(flatSec * 1000) / 1000.0},""" +
      s""""pruned_sec":${math.round(prunedSec * 1000) / 1000.0},""" +
      s""""flat_files":${evFlat.numFiles},""" +
      s""""pruned_files":${evPruned.numFiles},""" +
      s""""pruned_partition_filter":"${evPruned.partitionFilters.nonEmpty}"}""")
    spark.stop()
  }
}
