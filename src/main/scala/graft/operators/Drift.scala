package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Stage

/** Distribution drift between two corpus snapshots (beyond reference —
  * the monitoring station of a recurring training-data pipeline: did this
  * crawl's feature distributions move against the last one?). Per column,
  * the Population Stability Index
  *   PSI = Σ_bins (p_b − q_b) · ln(p_b / q_b)
  * over the REFERENCE frame's discretization (ColumnAssociations.fitBins:
  * equal-width bins for numerics/datetimes, top-category lumping for
  * strings, nulls their own bin) applied to BOTH frames — fitting bins on
  * the reference and transferring them is what makes the comparison
  * well-defined. Empty-bin proportions floor at `eps` (the standard PSI
  * smoothing). Rule of thumb: < 0.1 stable, 0.1–0.25 moderate, > 0.25
  * action.
  *
  * Scale shape: ONE melted label aggregate per frame (map-side combined,
  * output bounded by Σ bin vocabularies) + the fitBins stats jobs on the
  * reference; the PSI arithmetic runs on the tiny per-bin frame. Nothing
  * corpus-sized moves.
  */
object Drift {

  /** Fitted drift monitor: the reference's bin plans + its (tiny,
    * bounded — Σ bin vocabularies rows) per-bin counts, frozen once so any
    * number of current snapshots / micro-batches score against the SAME
    * reference without refitting (the estimator discipline; `psiStream`
    * is the live form).
    */
  final case class PsiModel(
      specs: Seq[ColumnAssociations.BinSpec], refCounts: DataFrame,
      eps: Double) {

    /** Label expressions rebuilt from the serializable specs through the
      * ONE shared builder (`ColumnAssociations.labelOf`), so a fitted and
      * a reloaded model bin identically by construction.
      */
    def labels: Seq[(String, Column)] =
      specs.map(s => s.col -> ColumnAssociations.labelOf(s))

    /** Free the stored reference counts of a `fitPsi(cache = true)` model
      * now; otherwise they go when the model is garbage-collected. A model
      * with lazy counts has nothing to free. */
    def release(): Unit = Stage.release(refCounts)

    private[Drift] def binned(df: DataFrame, side: String): DataFrame = df
      .select(explode(array(labels.map { case (c, e) =>
        struct(lit(c).as("c"), e.cast(StringType).as("b"))
      }: _*)).as("kv"))
      .groupBy(col("kv.c").as("column_name"), col("kv.b").as("bin"))
      .agg(count(lit(1)).as(s"n_$side"))

    /** (column_name, ks, n_bins) for one current snapshot against a model
      * fitted by `fitKs` — the binned-CDF sup over the frozen reference
      * bins (see `ks` for the error bound). Same scale shape as `score`:
      * ONE melted aggregate over `cur`, a window over the tiny per-bin
      * frame. Nulls are excluded on both sides (a CDF is over values).
      */
    def scoreKs(cur: DataFrame): DataFrame = {
      require(specs.forall(_.kind != "cat"),
        "scoreKs needs ordered (numeric/datetime) bins — fit with fitKs, " +
          "not fitPsi-with-categoricals")
      val p = refCounts.filter(col("bin") =!= "__null")
      val q = binned(cur, "cur").filter(col("bin") =!= "__null")
      def totalsOf(b: DataFrame, side: String) = b
        .groupBy(col("column_name"))
        .agg(sum(col(s"n_$side")).cast(DoubleType).as(s"tot_$side"))
      // the cur totals join is LEFT: a monitored column whose current
      // snapshot has NO non-null values (a broken upstream feed — the
      // catastrophic case) must surface as ks = 1.0, not silently vanish
      // from the result; its cur CDF reads 0 everywhere while the ref CDF
      // reaches 1.0, so the sup is 1.0 by construction. An entirely EMPTY
      // cur therefore reads 1.0 for every column — for a monitor, "no
      // data arrived" IS total drift, not a case to stay quiet about
      val joined = p.join(q, Seq("column_name", "bin"), "full_outer")
        .join(totalsOf(p, "ref"), Seq("column_name"))
        .join(totalsOf(q, "cur"), Seq("column_name"), "left")
        .withColumn("__idx", substring(col("bin"), 2, 11).cast(IntegerType))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("column_name")).orderBy(col("__idx"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      joined
        .withColumn("__cdf_ref",
          sum(coalesce(col("n_ref"), lit(0L))).over(w) / col("tot_ref"))
        .withColumn("__cdf_cur",
          when(col("tot_cur").isNull, lit(0.0)).otherwise(
            sum(coalesce(col("n_cur"), lit(0L))).over(w) / col("tot_cur")))
        .groupBy(col("column_name"))
        .agg(round(max(abs(col("__cdf_ref") - col("__cdf_cur"))), 6).as("ks"),
          count(lit(1)).cast(LongType).as("n_bins"))
        .orderBy(col("ks").desc, col("column_name"))
    }

    /** (column_name, bin, n_ref, n_cur) — the two frames' counts over the
      * SAME frozen reference bins, for side-by-side distribution rendering
      * (TableReport.compareHtml). One melted aggregate over `cur`, like
      * `score`; output stays Σ-bin-vocabulary rows.
      */
    def binCounts(cur: DataFrame): DataFrame =
      refCounts.join(binned(cur, "cur"), Seq("column_name", "bin"),
          "full_outer")
        .select(col("column_name"), col("bin"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))

    /** (column_name, psi, n_bins) for one current snapshot — ONE melted
      * aggregate over `cur`, then tiny-on-tiny joins.
      */
    def score(cur: DataFrame): DataFrame = {
      val p = refCounts
      val q = binned(cur, "cur")
      // Frame totals derived FROM the melted aggregates (each row lands in
      // exactly one bin per column, so Σ bin counts within a column = frame
      // row count) — no extra corpus scan, keeping the "one melted
      // aggregate per frame, nothing corpus-sized moves" contract literal.
      def totalsOf(b: DataFrame, side: String) = b
        .groupBy(col("column_name"))
        .agg(sum(col(s"n_$side")).cast(DoubleType).as(s"tot_$side"))
      // full outer per (column, bin): a bin present in only one frame
      // floors the other side at eps. The cur totals join is LEFT (the
      // scoreKs broken-feed contract): a column with NO current rows must
      // surface as max drift, not silently vanish — tot_cur comes back
      // null, every qFrac divides to null, and `greatest(..., eps)` skips
      // the null, so the column reads psi = Σ (p_i − eps)·ln(p_i/eps)
      // (the eps-floor maximum) — "no data arrived" IS total drift
      val joined = p.join(q, Seq("column_name", "bin"), "full_outer")
        .join(totalsOf(p, "ref"), Seq("column_name"))
        .join(totalsOf(q, "cur"), Seq("column_name"), "left")
      val pFrac = greatest(coalesce(col("n_ref"), lit(0L)).cast(DoubleType) /
        col("tot_ref"), lit(eps))
      val qFrac = greatest(coalesce(col("n_cur"), lit(0L)).cast(DoubleType) /
        col("tot_cur"), lit(eps))
      joined
        .withColumn("__term", (pFrac - qFrac) * log(pFrac / qFrac))
        .groupBy(col("column_name"))
        .agg(round(sum(col("__term")), 6).as("psi"),
          count(lit(1)).cast(LongType).as("n_bins"))
        .orderBy(col("psi").desc, col("column_name"))
    }
  }

  /** Fit the reference side once: bin plans + the reference's per-bin
    * counts, persisted (they are Σ-bin-vocabulary rows — caching them is
    * what makes per-batch scoring one aggregate, not two).
    */
  def fitPsi(ref: DataFrame, cols: Seq[String], nBins: Int = 10,
             maxCats: Int = 10, eps: Double = 1e-6,
             cache: Boolean = true): PsiModel = {
    require(cols.nonEmpty, "need at least one column")
    cols.foreach(c => require(ref.columns.contains(c),
      s"column $c must exist in the reference frame"))
    val plans = ColumnAssociations.fitBins(ref, cols, nBins = nBins,
      maxCats = maxCats)
    withRefCounts(PsiModel(plans.specs, null, eps), ref, cache)
  }

  /** `cache = true`: store and fill the bounded per-bin counts now (an
    * owned stage) so every later score is ONE aggregate (the score-many
    * estimator shape); the blocks go with the model (ContextCleaner), or
    * earlier through `model.release()`. `cache = false`:
    * leave them lazy — the one-shot `psi`/`ks` forms use this, as they
    * read the counts once.
    */
  private def withRefCounts(m: PsiModel, ref: DataFrame,
                            cache: Boolean): PsiModel = {
    val rc = m.binned(ref, "ref")
    m.copy(refCounts = if (cache) Stage.owned(rc, "Drift.refCounts") else rc)
  }

  /** Persist a fitted drift monitor as plain JSON: eps + per-column bin
    * specs + the reference's per-bin counts (bounded — Σ bin vocabularies
    * rows, collected once). The cross-session product shape: fit on last
    * month's corpus in one job, score this month's crawl in another.
    */
  def savePsi(model: PsiModel, path: String): Unit = {
    import graft.plans.Json
    val cells = model.refCounts.collect()
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, Json.obj(Seq(
      "type" -> Json.str("graft.Drift.PsiModel"),
      "eps" -> Json.num(model.eps),
      "specs" -> Json.arr(model.specs.map(s => Json.obj(Seq(
        "col" -> Json.str(s.col), "kind" -> Json.str(s.kind),
        "min" -> Json.num(s.min), "max" -> Json.num(s.max),
        "nBins" -> Json.num(s.nBins.toLong),
        "kept" -> Json.arr(s.kept.map(Json.str)),
        "nanAsNull" -> Json.bool(s.nanAsNull))))),
      "refCounts" -> Json.arr(cells.map(r => Json.arr(Seq(
        Json.str(r.getString(0)), Json.str(r.getString(1)),
        Json.num(r.getLong(2)))))))))
  }

  def loadPsi(path: String, spark: org.apache.spark.sql.SparkSession):
      PsiModel = {
    import graft.plans.Json
    import scala.jdk.CollectionConverters._
    val root = Json.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path))).asInstanceOf[Map[String, Any]]
    require(root("type") == "graft.Drift.PsiModel",
      s"not a PsiModel file: ${root("type")}")
    def d(v: Any): Double = v.toString.toDouble
    val specs = root("specs").asInstanceOf[List[Any]].map { s0 =>
      val s = s0.asInstanceOf[Map[String, Any]]
      ColumnAssociations.BinSpec(
        s("col").asInstanceOf[String], s("kind").asInstanceOf[String],
        d(s("min")), d(s("max")), d(s("nBins")).toInt,
        s("kept").asInstanceOf[List[Any]].map(_.asInstanceOf[String]),
        s("nanAsNull").asInstanceOf[Boolean])
    }
    val rows = root("refCounts").asInstanceOf[List[Any]].map { r0 =>
      val r = r0.asInstanceOf[List[Any]]
      org.apache.spark.sql.Row(r(0).asInstanceOf[String],
        r(1).asInstanceOf[String], d(r(2)).toLong)
    }
    val refCounts = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("bin", StringType, nullable = false),
      StructField("n_ref", LongType, nullable = false))))
    PsiModel(specs, refCounts, d(root("eps")))
  }

  def psi(ref: DataFrame, cur: DataFrame, cols: Seq[String],
          nBins: Int = 10, maxCats: Int = 10,
          eps: Double = 1e-6): DataFrame = {
    cols.foreach(c => require(cur.columns.contains(c),
      s"column $c must exist in both frames"))
    // cache = false: the one-shot form returns a frame, not a model —
    // a persisted refCounts here would leak with no handle to release
    fitPsi(ref, cols, nBins, maxCats, eps, cache = false).score(cur)
  }

  /** Live drift monitor: score each micro-batch against the FROZEN
    * reference model and hand the per-batch psi frame to `sink` (alert,
    * write, dashboard — the caller's policy). The DedupIndex.probeStream
    * discipline: each micro-batch is a static frame inside foreachBatch,
    * so scoring is EXACTLY the batch `score` — all state is the fitted
    * model's bounded bin counts, nothing accumulates in stream memory.
    * All three monitors share `StandingIndex.probeStream`; no default
    * queryName, so any number of concurrent monitors coexist — name one
    * explicitly for dashboards.
    */
  def psiStream(model: PsiModel, stream: DataFrame,
                queryName: Option[String] = None)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    StandingIndex.probeStream(stream, queryName, model.score _)(sink)

  /** Kolmogorov–Smirnov statistic per NUMERIC column: sup |F_ref − F_cur|
    * evaluated over the reference's equal-width discretization (bins fit on
    * ref, transferred to cur — the psi contract), i.e. the binned CDF
    * approximation of KS: error ≤ the largest single-bin mass, which
    * `nBins` controls (default 100 — finer than psi's because a CDF sup
    * wants resolution; still bounded state). Values BELOW the reference
    * range land in extrapolated ordered bins (full weight); values above
    * it clamp into the top bin (fitBins' shared contract), which keeps the
    * sup within the same one-bin-mass error bound. Nulls are excluded (a
    * CDF is over values). Scale shape:
    * identical to psi — one melted aggregate per frame, a window over the
    * tiny per-bin frame, nothing corpus-sized moves.
    */
  /** Fit the KS reference side once: ordered (numeric/datetime-only) bin
    * plans + the reference's per-bin counts — the fitPsi discipline with a
    * CDF's requirements (finer default bins, `catThreshold = 1` so every
    * column is binned, never lumped). Returns the same PsiModel container,
    * so `savePsi`/`loadPsi` persistence and `psiStream`'s shape work for
    * KS monitors unchanged; score with `scoreKs` (or `ksStream`).
    */
  def fitKs(ref: DataFrame, cols: Seq[String], nBins: Int = 100,
            cache: Boolean = true): PsiModel = {
    require(cols.nonEmpty, "need at least one column")
    cols.foreach { c =>
      require(ref.columns.contains(c),
        s"column $c must exist in the reference frame")
      val ok = ref.schema(c).dataType match {
        case _: NumericType | BooleanType | DateType | TimestampType |
             TimestampNTZType => true
        case _ => false
      }
      require(ok, s"ks needs numeric/datetime columns; '$c' is " +
        ref.schema(c).dataType.simpleString)
    }
    val plans = ColumnAssociations.fitBins(ref, cols, nBins = nBins,
      catThreshold = 1) // always bin: a CDF needs ordered bins
    withRefCounts(PsiModel(plans.specs, null, 0.0), ref, cache)
  }

  def ks(ref: DataFrame, cur: DataFrame, cols: Seq[String],
         nBins: Int = 100): DataFrame = {
    cols.foreach(c => require(cur.columns.contains(c),
      s"column $c must exist in both frames"))
    fitKs(ref, cols, nBins, cache = false).scoreKs(cur)
  }

  /** Live KS monitor — `psiStream`'s twin over a `fitKs` model. */
  def ksStream(model: PsiModel, stream: DataFrame,
               queryName: Option[String] = None)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    StandingIndex.probeStream(stream, queryName, model.scoreKs _)(sink)

  /** New-category alert feed: values present in `cur` but never seen in
    * `ref` — the third signal monitoring stacks pair with psi/ks (psi lumps
    * unseen values into existing bins' complements; this names them). One
    * row per (column, new value) with its current count, biggest first.
    * Scale shape: one distinct melt of each frame (map-side combined,
    * bounded by Σ per-column distinct counts) + a left-anti join keyed on
    * value — the Discovery.joinKeys shuffle class: fine for monitored
    * (bounded-cardinality) columns, which is what a drift monitor watches;
    * don't point it at a free-text column.
    */
  def newCategories(ref: DataFrame, cur: DataFrame,
                    cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    cols.foreach { c =>
      require(ref.columns.contains(c) && cur.columns.contains(c),
        s"column $c must exist in both frames")
    }
    val refVals = meltValues(ref, cols).distinct()
    curNewVs(cur, cols, refVals)
  }

  private def meltValues(df: DataFrame, cols: Seq[String]): DataFrame = df
    .select(explode(array(cols.map(c =>
      struct(lit(c).as("c"), col(c).cast(StringType).as("v"))): _*)).as("kv"))
    .select(col("kv.c").as("column_name"), col("kv.v").as("value"))
    .filter(col("value").isNotNull)

  private def curNewVs(cur: DataFrame, cols: Seq[String],
                       refVals: DataFrame): DataFrame =
    meltValues(cur, cols)
      .groupBy(col("column_name"), col("value"))
      .agg(count(lit(1)).as("n_cur"))
      .join(refVals, Seq("column_name", "value"), "left_anti")
      .orderBy(col("n_cur").desc, col("column_name"), col("value"))

  /** Frozen new-category monitor: the reference's distinct values per
    * monitored column, collected ONCE behind a loud bound — the third
    * estimator of the family (`fitPsi`/`fitKs` discipline). Scoring any
    * number of snapshots / micro-batches is then one melted aggregate over
    * cur + a BROADCAST anti-join against the frozen vocabulary — nothing
    * value-sized shuffles, which removes the two-frame `newCategories`
    * form's only scale caveat (its ref melt re-shuffles per call).
    */
  final case class NewCatsModel(cols: Seq[String], refValues: DataFrame) {
    /** (column_name, value, n_cur) for values unseen in the reference. */
    def score(cur: DataFrame): DataFrame = {
      cols.foreach(c => require(cur.columns.contains(c),
        s"column $c must exist in the scored frame"))
      curNewVs(cur, cols, broadcast(refValues))
    }
  }

  /** Fit the reference vocabulary once. `maxDistinct` bounds the collect
    * LOUDLY: a drift monitor watches bounded-cardinality columns — a
    * free-text column past the cap fails with the routing advice instead
    * of silently materializing the corpus on the driver.
    */
  def fitNewCats(ref: DataFrame, cols: Seq[String],
                 maxDistinct: Int = 100000): NewCatsModel = {
    require(cols.nonEmpty, "need at least one column")
    cols.foreach(c => require(ref.columns.contains(c),
      s"column $c must exist in the reference frame"))
    val vals = meltValues(ref, cols).distinct()
    val rows = vals.limit(maxDistinct + 1).collect()
    require(rows.length <= maxDistinct,
      s"reference has more than $maxDistinct distinct values across " +
        s"${cols.mkString(", ")} — a new-category monitor is for " +
        "bounded-cardinality columns; drop the free-text column, raise " +
        "maxDistinct, or use the two-frame newCategories() join form")
    val spark = ref.sparkSession
    import scala.jdk.CollectionConverters._
    NewCatsModel(cols, spark.createDataFrame(rows.toSeq.asJava, StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("value", StringType, nullable = false)))))
  }

  def saveNewCats(model: NewCatsModel, path: String): Unit = {
    import graft.plans.Json
    val cells = model.refValues.collect()
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, Json.obj(Seq(
      "type" -> Json.str("graft.Drift.NewCatsModel"),
      "cols" -> Json.arr(model.cols.map(Json.str)),
      "values" -> Json.arr(cells.map(r => Json.arr(Seq(
        Json.str(r.getString(0)), Json.str(r.getString(1)))))))))
  }

  def loadNewCats(path: String, spark: org.apache.spark.sql.SparkSession):
      NewCatsModel = {
    import graft.plans.Json
    import scala.jdk.CollectionConverters._
    val root = Json.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path))).asInstanceOf[Map[String, Any]]
    require(root("type") == "graft.Drift.NewCatsModel",
      s"not a NewCatsModel file: ${root("type")}")
    val cols = root("cols").asInstanceOf[List[Any]].map(_.asInstanceOf[String])
    val rows = root("values").asInstanceOf[List[Any]].map { r0 =>
      val r = r0.asInstanceOf[List[Any]]
      org.apache.spark.sql.Row(r(0).asInstanceOf[String],
        r(1).asInstanceOf[String])
    }
    NewCatsModel(cols, spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("value", StringType, nullable = false)))))
  }

  /** Schema drift between two snapshots: added / removed / type-changed
    * columns — the third signal of the monitoring trio (distributions
    * move: psi/ks; values move: newCategories; the frame ITSELF moves:
    * this). Pure driver-side metadata — ZERO Spark jobs at any corpus
    * size. One row per change; identical schemas → empty frame.
    */
  def schemaDiff(ref: DataFrame, cur: DataFrame): DataFrame = {
    val r = ref.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val c = cur.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val rows =
      (c.keySet -- r.keySet).toSeq.sorted.map(n =>
        org.apache.spark.sql.Row(n, "added", null, c(n))) ++
      (r.keySet -- c.keySet).toSeq.sorted.map(n =>
        org.apache.spark.sql.Row(n, "removed", r(n), null)) ++
      (r.keySet & c.keySet).toSeq.sorted.collect {
        case n if r(n) != c(n) =>
          org.apache.spark.sql.Row(n, "type_changed", r(n), c(n))
      }
    import scala.jdk.CollectionConverters._
    ref.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
        StructField("column_name", StringType, nullable = false),
        StructField("change", StringType, nullable = false),
        StructField("ref_type", StringType, nullable = true),
        StructField("cur_type", StringType, nullable = true))))
      .orderBy(col("change"), col("column_name"))
  }

  /** Live new-category alert feed — `psiStream`'s twin over a `fitNewCats`
    * model; per-batch output is the batch's unseen values.
    */
  def newCatsStream(model: NewCatsModel, stream: DataFrame,
                    queryName: Option[String] = None)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    StandingIndex.probeStream(stream, queryName, model.score _)(sink)
}
