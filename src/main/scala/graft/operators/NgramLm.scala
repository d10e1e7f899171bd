package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Text
import graft.sources.Bucketize
import graft.ops.Stage

/** N-gram language-model perplexity scoring — the CCNet-style corpus
  * quality signal (Wenzek et al. 2020: docs are ranked by the perplexity of
  * a small LM trained on a trusted corpus; Gopher/Llama pipelines use the
  * same shape). The reference library's quality surface stops at heuristic
  * ratios (skrub has no LM scorer); this operator is the scale-path
  * generalization a 100 TB curation pipeline needs.
  *
  * Model = bounded unigram + bigram count tables fit on a reference corpus:
  *   - vocabulary: the `vocabSize` most frequent tokens (count desc, token
  *     asc tie-break) — TakeOrderedAndProject, bounded per-partition top-V,
  *     never a full sort;
  *   - bigrams: counts over in-vocabulary adjacent pairs, pruned to
  *     `count >= minCount` and the top `maxBigrams` (count desc, prev asc,
  *     w asc) — driver/broadcast state is strictly bounded by the two knobs
  *     regardless of corpus size.
  *
  * Scoring = stupid backoff (Brants et al. 2007), exactly reproducible in
  * the SQL oracle:
  *   - first token:            lp = ln(p_uni(w))
  *   - bigram present:         lp = ln(c2(prev,w) / c1(prev))
  *   - backoff:                lp = ln(0.4 * p_uni(w))
  * with p_uni(w) = (c(w) + 1) / (N + V + 1) — add-one over vocab + OOV, so
  * every token has positive probability and ln never sees zero.
  *
  * Engine parity: each per-token log-prob is rounded to 6 decimals and
  * summed as DECIMAL(28,6) — an order-independent exact sum, so the
  * per-document total is identical no matter how partitions combine (a
  * straight double sum would be partition-order-dependent).
  *
  * Scale shape: fit = two corpus scans (unigram agg, bigram agg) with
  * bounded top-K selections; score = ONE corpus scan, broadcast hash joins
  * against the (bounded) model tables, and a single doc-keyed shuffle with
  * map-side partial aggregation. Nothing driver-side beyond the bounded
  * model and two scalar aggregates.
  */
object NgramLm {

  /** Fitted model: bounded count tables + corpus scalars. The frames are
    * owned stages (they are <= vocabSize / maxBigrams rows), filled at fit,
    * so reuse across scoring jobs never re-scans the reference corpus; their
    * blocks go with the model (ContextCleaner) or earlier through
    * `Stage.release(model.vocab, model.bigrams)`.
    */
  final case class Model(vocab: DataFrame,   // (w, c)
                         bigrams: DataFrame, // (prev, w, c2)
                         totalTokens: Long,  // N: all reference tokens (incl. OOV)
                         vocabCount: Int)    // V: |vocab| actually kept

  /** Exploded (idCols..., w, prev) frame — one loop-codegen `TokenPairs`
    * pass per row (the HOF struct-building form is CodegenFallback and
    * re-walks the token array per element). Empty/absent texts produce no
    * rows — callers left-join scores back to the full frame.
    */
  private def pairFrame(df: DataFrame, textCol: String,
                        idCols: Seq[String]): DataFrame =
    df.select(idCols.map(col) :+
        explode(graft.functions.VecExprs.tokenPairs(col(textCol))).as("__p"): _*)
      .select(idCols.map(col) :+
        col("__p.w").as("w") :+ col("__p.prev").as("prev"): _*)

  def fit(ref: DataFrame, textCol: String, vocabSize: Int = 20000,
          minCount: Long = 2L, maxBigrams: Int = 1000000): Model = {
    // the unigram frame feeds three consumers (N, vocab top-V, and the
    // callers' broadcast joins) — stage the AGGREGATED frame (distinct
    // tokens, far smaller than the corpus) so the tokenize scan runs once
    Stage.scoped(ref.select(explode(Text.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))) { uni =>
      // N rides one tiny aggregate over the already-aggregated unigram frame
      val n = Option(uni.agg(sum(col("c"))).collect()(0).get(0))
        .fold(0L)(_.asInstanceOf[Long])
      // top-V: TakeOrderedAndProject (bounded per-partition top-V + driver
      // merge of V rows), deterministic tie-break on the token itself
      val vocab = Stage.owned(
        uni.orderBy(col("c").desc, col("w")).limit(vocabSize), "NgramLm.fit")
      val v = vocab.count().toInt
      val bigrams = Stage.owned(pairFrame(ref, textCol, Nil)
        .filter(col("prev").isNotNull)
        .join(broadcast(vocab.select(col("w"))), Seq("w"), "leftsemi")
        .join(broadcast(vocab.select(col("w").as("prev"))), Seq("prev"), "leftsemi")
        .groupBy(col("prev"), col("w")).agg(count(lit(1)).as("c2"))
        .filter(col("c2") >= minCount)
        .orderBy(col("c2").desc, col("prev"), col("w")).limit(maxBigrams),
        "NgramLm.fit")
      Model(vocab, bigrams, n, v)
    }
  }

  /** Score `df` against the model: appends n_tokens, oov_frac, avg_nll
    * (mean negative log-likelihood per token) and ppl = exp(avg_nll).
    * Rows whose text has no tokens get n_tokens = 0 and null metrics.
    * `idCols` must uniquely identify rows.
    */
  def score(model: Model, df: DataFrame, textCol: String,
            idCols: Seq[String]): DataFrame = {
    val pe = pairFrame(df, textCol, idCols)
    val vw = broadcast(model.vocab.select(col("w"), col("c").as("__cw")))
    val pv = broadcast(model.vocab.select(col("w").as("prev"), col("c").as("__cprev")))
    val bg = broadcast(model.bigrams.select(col("prev"), col("w"), col("c2").as("__c2")))
    val den = lit((model.totalTokens + model.vocabCount + 1).toDouble)
    val pu = (coalesce(col("__cw"), lit(0L)) + lit(1L)).cast(DoubleType) / den
    val lp = when(col("prev").isNotNull && col("__c2").isNotNull,
        round(log(col("__c2").cast(DoubleType) / col("__cprev").cast(DoubleType)), 6))
      .when(col("prev").isNull, round(log(pu), 6))
      .otherwise(round(log(lit(0.4) * pu), 6))
    val keyCols = idCols.map(col)
    val agg = pe
      .join(vw, Seq("w"), "left").join(pv, Seq("prev"), "left")
      .join(bg, Seq("prev", "w"), "left")
      .select(keyCols :+ lp.cast(DecimalType(28, 6)).as("__lp") :+
        col("__cw").isNull.cast(IntegerType).as("__oov"): _*)
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("__nt"), sum(col("__lp")).as("__slp"),
        sum(col("__oov")).cast(LongType).as("__noov"))
    // Final per-doc metrics round in integer MICRO space, not on the raw
    // quotient: sum(lp)/n can land exactly on a .5e-6 decimal boundary
    // (the sum has 6 decimals, n divides it), where Spark's shortest-repr
    // HALF_UP and the oracle's exact-binary rounding disagree. In micros
    // the only .5 case is a true half-integer quotient — exactly
    // representable in binary — so both engines see the identical double
    // and round it the same way.
    val avgMicros = round((negate(col("__slp")) * lit(1000000))
      .cast(DoubleType) / col("__nt").cast(DoubleType))
    val oovMicros = round((col("__noov") * lit(1000000L))
      .cast(DoubleType) / col("__nt").cast(DoubleType))
    val avg = avgMicros / lit(1000000.0)
    val metrics = agg.select(keyCols :+ col("__nt").as("n_tokens") :+
      (oovMicros / lit(1000000.0)).as("oov_frac") :+
      avg.as("avg_nll") :+ round(exp(avg), 6).as("ppl"): _*)
    df.join(metrics, idCols, "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
  }

  /** fit + score on the same corpus (self-scoring: rank docs by how typical
    * they are of their own corpus — the within-corpus outlier signal).
    */
  def fitScore(df: DataFrame, textCol: String, idCols: Seq[String],
               vocabSize: Int = 20000, minCount: Long = 2L,
               maxBigrams: Int = 1000000): DataFrame =
    score(fit(df, textCol, vocabSize, minCount, maxBigrams), df, textCol, idCols)

  // ---------------------------------------------------------------------
  // Persistence — the DedupIndex/AnnIndex discipline: a reference LM is
  // fit ONCE on a trusted corpus and then scores every future ingest
  // batch; re-fitting per batch would both rescan the reference corpus
  // and silently drift the quality scale. The two bounded count tables
  // land as external parquet, the corpus scalars as table properties, so
  // `read` cannot desynchronize scoring from the fit.
  // ---------------------------------------------------------------------

  def vocabTable(name: String): String = s"${name}_vocab"
  def bigramsTable(name: String): String = s"${name}_bigrams"

  def write(model: Model, name: String, path: String): Unit = {
    val spark = model.vocab.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `${vocabTable(name)}`")
    spark.sql(s"DROP TABLE IF EXISTS `${bigramsTable(name)}`")
    model.vocab.write.mode("overwrite").option("path", s"$path/vocab")
      .saveAsTable(vocabTable(name))
    model.bigrams.write.mode("overwrite").option("path", s"$path/bigrams")
      .saveAsTable(bigramsTable(name))
    Bucketize.alterTableProps(spark, vocabTable(name), Seq(
      "graft.lmTotal" -> model.totalTokens,
      "graft.lmVocab" -> model.vocabCount))
  }

  def read(spark: org.apache.spark.sql.SparkSession, name: String): Model = {
    val props = Bucketize.tableProps(spark, vocabTable(name))
    Model(spark.table(vocabTable(name)), spark.table(bigramsTable(name)),
      props("graft.lmTotal").toLong, props("graft.lmVocab").toInt)
  }
}
