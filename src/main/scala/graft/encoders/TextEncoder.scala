package graft.encoders

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Embed
import graft.ops.Stage

/** Pluggable embedding backend for `TextEncoder` — the integration hook
  * that closes the reference's pretrained-text-embedding shape
  * (skrub/_text_encoder.py:22-446) in an environment with no model
  * weights and no network: the PIPELINE around the model (unique-string
  * caching, PCA, block scaling) is real and tested; the model itself is
  * whatever the caller hands in. An ONNX/JNI-served transformer plugs in
  * by implementing this one method; `HashEmbeddingProvider` ships as the
  * deterministic in-repo stand-in and `TableEmbeddingProvider` wraps the
  * realistic cluster path (embeddings precomputed by offline GPU batch
  * inference into a parquet lookup keyed by string).
  */
trait EmbeddingProvider {
  /** Embedding width — a model constant. */
  def dim: Int

  /** Embed a frame of DISTINCT strings: input has exactly one string
    * column `value` (never null — the engine canonicalizes nulls to ""
    * upstream, the reference's `unique_strings` convention); output must
    * be (value, embedding: array<double> of length `dim`), one row per
    * input row. The engine guarantees values are distinct, so a provider
    * running a forward pass never embeds the same string twice — the
    * reference's unique-string cache (`_text_encoder.py:320-332`),
    * load-bearing when embedding costs dominate.
    */
  def embed(values: DataFrame): DataFrame
}

/** Deterministic hash-projection embeddings (md5-derived coefficients in
  * [-1, 1), the `Multimodal.fakeEmbedding` arithmetic on strings): zero
  * semantic content, full pipeline testability — every coordinate is
  * exactly replayable in SQL, so the whole TextEncoder pipeline gets a
  * hash oracle (q_text_encoder_shape) instead of a rows-only check. Pure
  * codegen scan; embedding a corpus of distinct values is shuffle-free.
  */
final case class HashEmbeddingProvider(dim: Int) extends EmbeddingProvider {
  def embed(values: DataFrame): DataFrame = {
    val h = md5(col("value"))
    values.select(col("value"),
      array((0 until dim).map { j =>
        conv(substring(md5(concat(h, lit(j.toString))), 1, 8), 16, 10)
          .cast(DoubleType) / math.pow(2, 31) - 1.0
      }: _*).as("embedding"))
  }
}

/** Embeddings served from a precomputed lookup table — the 100 TB
  * deployment shape: a GPU batch-inference job lands (string, vector)
  * parquet offline, and the encoder consumes it with ONE join against the
  * distinct values (AQE broadcasts the smaller side). Strings absent from
  * the lookup come back with a NULL embedding — they surface as null
  * features downstream rather than silently borrowing a neighbor's
  * vector; pre-filter or re-run inference for full coverage.
  */
final case class TableEmbeddingProvider(lookup: DataFrame, keyCol: String,
                                        vecCol: String, dim: Int)
    extends EmbeddingProvider {
  def embed(values: DataFrame): DataFrame =
    values.join(
      // one row per key even if the lookup holds duplicates (a re-run
      // inference job appending to the same parquet): min() over the
      // vector resolves deterministically (Spark arrays order
      // lexicographically), so the provider contract — one output row per
      // distinct input — holds instead of silently fanning out every
      // matching corpus row in transform
      lookup.select(col(keyCol).cast(StringType).as("value"),
          col(vecCol).cast(ArrayType(DoubleType)).as("embedding"))
        .groupBy(col("value"))
        .agg(min(col("embedding")).as("embedding")),
      Seq("value"), "left")
}

/** TextEncoder (reference skrub/_text_encoder.py:22-446) — embed a string
  * column with a pretrained model and reduce/normalize the result:
  *
  *   1. null ≡ "" canonicalization (the reference's `unique_strings`
  *      contract, `_utils.py:45-60`),
  *   2. embed the DISTINCT values only (provider contract above),
  *   3. join back to rows and fit a PCA to `nComponents` on the PER-ROW
  *      matrix (frequency-weighted, exactly the reference's
  *      `fit_transform` — `_text_encoder.py:243-252`); when
  *      min(rows, dim) < nComponents the reference warns and TRUNCATES
  *      instead (`:253-264`); `nComponents = None` skips reduction,
  *   4. block-normalize by the population scaling factor
  *      (`_scaling_factor.py:17`: sqrt of summed per-column population
  *      variances, epsilon-clipped to 1), computed decimal-exact per
  *      column (order-independent across partitions, the
  *      `Kernel.scalingFactor` discipline) so the factor — and therefore
  *      every output — is bit-reproducible.
  *
  * Output: all input columns plus `{c}_0 .. {c}_{k-1}` doubles.
  *
  * 100 TB shape: the provider runs once per DISTINCT value (the only
  * model-priced stage); the PCA fit is one melted aggregate + one
  * RowMatrix Gram pass over rows (driver state d x d); transform projects
  * the distinct-value embeddings (bounded) and joins back — the corpus
  * itself moves through at most the one join exchange, AQE-broadcast away
  * when the vocabulary is small.
  */
object TextEncoder {

  final case class TextEncoderModel(outDim: Int, pca: Option[Embed.PcaModel],
                                    scale: Double)

  private def uniqueValues(df: DataFrame, c: String): DataFrame =
    df.select(coalesce(col(c).cast(StringType), lit("")).as("value"))
      .distinct()

  /** Population scaling factor of an array-typed feature column, decimal-
    * exact: per-position decimal sums (order-independent across
    * partitions), variances combined in position order on the driver
    * (≤ dim values), epsilon-clipped to 1 like the reference's
    * `_clip_epsilon`. No rounding: every op after the exact decimal sums
    * is a fixed-order double computation, so the factor is bit-
    * reproducible as-is (and a SQL oracle replays it exactly).
    */
  private def blockScale(feats: DataFrame, fCol: String): Double = {
    // features quantized to exact micro-LONGs (6 dp) before the sums, so
    // Σx and Σx² are exact INTEGERS in both engines regardless of
    // partition/aggregation order; Σx² rides a DECIMAL(38,0) so it stays
    // exact to ~1e26 rows of unit-scale features (a LONG would overflow
    // past ~9M rows per position)
    val micro = round(col("__x") * lit(1000000.0), 0).cast(LongType)
    val melted = feats.select(posexplode(col(fCol)).as(Seq("__p", "__x")))
      .withColumn("__m", micro)
      .groupBy(col("__p"))
      .agg(count(col("__m")).as("n"), sum(col("__m")).as("s"),
        sum((col("__m") * col("__m")).cast(DecimalType(38, 0))).as("sq"))
      .collect().sortBy(_.getInt(0))
    val total = melted.map { r =>
      val n = r.getLong(1).toDouble
      val s = r.getLong(2).toDouble / 1e6
      val sq = r.getDecimal(3).doubleValue() / 1e12
      (sq - s * s / n) / n
    }.sum
    val sf = math.sqrt(total)
    if (sf < 1e-12) 1.0 else sf
  }

  def fit(df: DataFrame, c: String, provider: EmbeddingProvider,
          nComponents: Option[Int] = Some(30)): TextEncoderModel = {
    Stage.scoped(provider.embed(uniqueValues(df, c))) { emb =>
      val rows = df
        .select(coalesce(col(c).cast(StringType), lit("")).as("value"))
        .join(emb, Seq("value"))
        .select(col("embedding"))
      val (pcaOpt, outDim) = nComponents match {
        case Some(k) =>
          val nRows = rows.count()
          if (math.min(nRows, provider.dim.toLong) >= k)
            (Some(Embed.fitPca(rows, "embedding", k)), k)
          else // the reference's too-small-to-PCA warning path: truncate
            (None, math.min(k, provider.dim))
        case None => (None, provider.dim)
      }
      val feats = pcaOpt match {
        case Some(m) => Embed.transformPca(rows, "embedding", Nil, m)
        case None => rows.select(slice(col("embedding"), 1, outDim).as("pca"))
      }
      TextEncoderModel(outDim, pcaOpt, blockScale(feats, "pca"))
    }
  }

  /** Project + scale with a fitted model: the provider runs on the
    * transform frame's own distinct values (the reference `transform`
    * re-encodes; only the PCA basis and scale are frozen state).
    */
  def transform(df: DataFrame, c: String, provider: EmbeddingProvider,
                model: TextEncoderModel): DataFrame = {
    require(!df.columns.contains("__te_value"),
      "TextEncoder: __te_value is reserved")
    val emb = provider.embed(uniqueValues(df, c))
    val feats = model.pca match {
      case Some(m) => emb.select(col("value"),
        graft.functions.VecExprs.centerProject(
          col("embedding"), m.mean, m.basis).as("__f"))
      case None => emb.select(col("value"),
        slice(col("embedding"), 1, model.outDim).as("__f"))
    }
    val named = feats.select(col("value") +:
      (0 until model.outDim).map(i =>
        (element_at(col("__f"), i + 1) / lit(model.scale))
          .as(s"${c}_$i")): _*)
    df.withColumn("__te_value",
        coalesce(col(c).cast(StringType), lit("")))
      .join(named.withColumnRenamed("value", "__te_value"),
        Seq("__te_value"), "left")
      .drop("__te_value")
  }

  /** `fit_transform`: the reference's primary entry point. */
  def encode(df: DataFrame, c: String, provider: EmbeddingProvider,
             nComponents: Option[Int] = Some(30)): DataFrame =
    transform(df, c, provider, fit(df, c, provider, nComponents))

  /** JSON round-trip of the fitted state (PCA basis + block scale). Like
    * the reference — where unpickling a TextEncoder re-loads the language
    * model from disk — the PROVIDER is runtime state: hand the same one
    * back to `transform` after `load`.
    */
  def save(model: TextEncoderModel, path: String): Unit = {
    import graft.plans.Json
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val base = Seq(
      "type" -> Json.str("graft.TextEncoder.Model"),
      "out_dim" -> Json.num(model.outDim.toLong),
      "scale" -> Json.num(model.scale))
    val withPca = model.pca match {
      case None => base
      case Some(m) => base :+ ("pca" -> Json.obj(Seq(
        "mean" -> Json.arr(m.mean.toSeq.map(Json.num)),
        "basis" -> Json.arr(m.basis.toSeq.map(r =>
          Json.arr(r.toSeq.map(Json.num)))),
        "eigenvalues" -> Json.arr(m.eigenvalues.toSeq.map(Json.num)))))
    }
    java.nio.file.Files.writeString(p, Json.obj(withPca))
  }

  private def asD(a: Any): Double = a match {
    case d: Double => d
    case l: Long   => l.toDouble
    case other     => other.toString.toDouble
  }

  def load(path: String): TextEncoderModel = {
    import graft.plans.Json
    val o = Json.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path))).asInstanceOf[Map[String, Any]]
    require(o.get("type").contains("graft.TextEncoder.Model"),
      "not a TextEncoder.Model file")
    val pca = o.get("pca").map { pAny =>
      val pm = pAny.asInstanceOf[Map[String, Any]]
      Embed.PcaModel(
        pm("mean").asInstanceOf[Seq[Any]].map(asD).toArray,
        pm("basis").asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Seq[Any]].map(asD).toArray).toArray,
        pm("eigenvalues").asInstanceOf[Seq[Any]].map(asD).toArray)
    }
    TextEncoderModel(asD(o("out_dim")).toInt, pca, asD(o("scale")))
  }
}
