package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) — the
  * standard score-free combiner for hybrid retrieval: fuse the lexical
  * (`TextSearch.topk`) and semantic (`SimilaritySearch` top-k) rankings of
  * the same query workload without comparing their incompatible scores.
  * Each list contributes 1/(c + rank) per (query, doc); the contributions
  * are materialized as exact round-to-integer micro-units so the fused
  * ranking is order-independent, deterministic, and hash-matches SQL.
  *
  * 100 TB shape: inputs are already top-k lists — |queries|·k rows each —
  * so the union, the (q, doc) sum, and the per-query window all run on
  * k-bounded data regardless of corpus size; the corpus-scale work happened
  * inside the per-family retrieval operators. The fused plan has ONE
  * exchange: the contributions are hash-partitioned by `q_id`, which
  * clusters both the (q_id, doc_id) sum and the per-query window.
  */
object Retrieval {

  /** Fuse rank lists sharing the (q_id, doc_id, rank) shape. Output:
    * (q_id, doc_id, rrf_micro, rank), rank 1..k by (rrf_micro desc,
    * doc_id asc). `c` is the standard RRF damping constant (60). The
    * contributions are repartitioned by `q_id` once; the sum and the
    * window run on that one exchange.
    */
  def rrf(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "Retrieval.rrf: no rankings to fuse")
    require(c > 0 && k > 0, "Retrieval.rrf: c and k must be positive")
    val contrib = rankings.map(r =>
      r.select(col("q_id"), col("doc_id"),
        round(lit(1000000.0) / (lit(c) + col("rank")))
          .cast(LongType).as("contrib")))
      .reduce(_ unionByName _)
      .repartition(col("q_id"))
    val fused = contrib.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("rrf_micro"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-query ranking metrics against a relevance set — the in-engine
    * retrieval eval (recall@k, reciprocal rank, binary-relevance DCG@k),
    * so index-quality regressions surface in the same plans that built
    * the index. `results` is a ranked list (q_id, doc_id, rank); `truth`
    * the relevant (q_id, doc_id) pairs. Output one row per query with
    * relevance judgments: (q_id, n_rel, n_hits, recall_micro, mrr_micro,
    * dcg_micro) — every metric an exact round-to-integer micro-unit
    * (terms rounded on the *1e6 product; sums order-independent), zeros
    * for judged queries with no hits. Cost ∝ |results| — corpus scale
    * happened upstream in the retrieval operators.
    */
  def evalRanking(results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k > 0, "Retrieval.evalRanking: k must be positive")
    val rel = truth.select(col("q_id"), col("doc_id")).distinct()
    val nRel = rel.groupBy(col("q_id")).agg(count(lit(1)).as("n_rel"))
    // metrics are defined on the SET of retrieved relevant docs at their
    // best rank: a duplicated (q, doc) entry (fused or concatenated result
    // lists) cannot double-count into n_hits/dcg or push recall past 1.0
    val hits = results.filter(col("rank") <= k)
      .groupBy(col("q_id"), col("doc_id")).agg(min(col("rank")).as("rank"))
      .join(rel, Seq("q_id", "doc_id"))
    val dcgTerm = round(lit(1000000.0) /
      log(2.0, col("rank").cast(DoubleType) + lit(1.0))).cast(LongType)
    val perQ = hits.groupBy(col("q_id")).agg(
      count(lit(1)).as("n_hits"),
      min(col("rank")).as("best_rank"),
      sum(dcgTerm).as("dcg_micro"))
    nRel.join(perQ, Seq("q_id"), "left")
      .select(col("q_id"), col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        // STANDARD recall@k (trec_eval): hits over ALL relevant docs — a
        // query with more relevant docs than k cannot reach 1.0. Round-
        // then-cast (never bare double->int: Spark truncates, DuckDB
        // rounds).
        round(coalesce(col("n_hits"), lit(0L)).cast(DoubleType) * lit(1000000.0)
          / col("n_rel").cast(DoubleType))
          .cast(LongType).as("recall_micro"),
        coalesce(round(lit(1000000.0) /
          col("best_rank").cast(DoubleType)).cast(LongType), lit(0L))
          .as("mrr_micro"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"))
  }
}
