package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Evidence tool for the canonical-map connected-components paths at Nx
  * scale (r17 verdict task 7): run `Dedup.deduplicate` over the SAME
  * corpus twice — once with the default driver-side union-find fast path
  * (pair graph collected when it fits under maxDriverPairs) and once with
  * `maxDriverPairs = 0`, which forces the distributed min-label-
  * propagation loop — and report wall time, job count, and total shuffle
  * read/write bytes for each, plus the candidate generator deduplicate's
  * auto route picks and the size of the pair graph it yields (which
  * drives the CC routing). The two variants must return identical
  * translation maps (asserted here), so the comparison is purely about
  * the CC mechanism.
  *
  * Usage: runMain graft.tools.CcRehearsal [corpusDir] [textCol]
  *        (default /tmp/graft-sf10x, "text"; reads documents.parquet)
  */
object CcRehearsal {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-sf10x")
    val textCol = if (args.length > 1) args(1) else "text"
    val spark = graft.Sessions.local()
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    def run(label: String, maxDriverPairs: Int): Array[org.apache.spark.sql.Row] = {
      graft.Sessions.clearState(spark)
      val m = graft.obs.Collector.measure(spark) {
        val out = Dedup.deduplicate(docs, textCol, minJaccard = 0.4,
          maxDriverPairs = maxDriverPairs)
        (out, out.collect())
      }
      val (out, rows) = m.result
      println(f"CCREHEARSAL $label wall=${m.wallS}%.2f s jobs=${m.jobs.size} " +
        f"shufR=${m.shuffleRead / 1e6}%.1f MB shufW=${m.shuffleWrite / 1e6}%.1f MB " +
        s"rows=${rows.length}")
      Dedup.releaseCheckpoints(out)
      rows
    }

    // pair-graph size (the routing driver): the generator deduplicate's
    // auto route picks from the same distinct-value stats
    val vals = docs.filter(col(textCol).isNotNull)
      .groupBy(col(textCol).as("text"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("id", md5(col("text")))
    val st = vals.agg(count(lit(1)), sum(length(col("text")))).head()
    val minhash = Dedup.autoRoutesToMinhash(st.getLong(0),
      if (st.isNullAt(1)) 0L else st.getLong(1))
    val nPairs = (if (minhash) Dedup.minhashLshPairs(vals, "text", "id",
        n = 3, minJaccard = 0.4)
      else Dedup.ngramJaccardPairs(vals, "text", "id", n = 3,
        minJaccard = 0.4)).count()
    println(s"CCREHEARSAL generator=${if (minhash) "minhash" else "jaccard"} " +
      s"pair-graph edges=$nPairs (driver path taken when <= 1000000)")

    // warmup (codegen/JIT for both paths)
    run("warmup-driver", maxDriverPairs = 1000000)
    run("warmup-distributed", maxDriverPairs = 0)
    val a = run("driver-union-find", maxDriverPairs = 1000000)
    val b = run("distributed-cc", maxDriverPairs = 0)
    val same = a.map(r => (r.getString(0), r.getString(1))).sorted.toSeq ==
      b.map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    println(s"CCREHEARSAL translation-maps-identical=$same")
    require(same, "the two CC paths must produce identical canonical maps")
    spark.stop()
  }
}
