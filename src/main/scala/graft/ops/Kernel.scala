package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core dataframe kernel: the generic relational/column primitives of the
  * reference's backend-agnostic layer (reference: skrub/_dataframe/_common.py),
  * re-expressed as pure functions over Spark `DataFrame`/`Column` so every op
  * stays inside Catalyst (predicate pushdown, column pruning, codegen).
  *
  * Null semantics: the reference treats float NaN as null everywhere
  * (_common.py:1198-1212). Every null-aware helper here replicates that via
  * `isNullLike`.
  */
object Kernel {

  /** Load a driver-provided test table. Tables are parquet files named
    * `<dir>/<name>.parquet` (see TESTDATA.md).
    *
    * Normalizations for oracle parity:
    *  - TIMESTAMP_NTZ columns are cast to TIMESTAMP (session tz is UTC, so
    *    values are preserved and datetime functions behave like the oracle);
    *  - nanosecond parquet timestamps arrive as LongType when
    *    `spark.sql.legacy.parquet.nanosAsLong` is set (Spark has no ns
    *    timestamp); they are truncated to microseconds — exactly what the
    *    oracle's CAST(ts_ns AS TIMESTAMP) does.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    raw.schema.fields.foldLeft(raw) { (df, f) =>
      f.dataType match {
        case TimestampNTZType =>
          df.withColumn(f.name, col(f.name).cast(TimestampType))
        case LongType if f.name == "ts" =>
          // ns-since-epoch long (see above); `div` keeps integer precision
          df.withColumn(f.name, expr(s"timestamp_micros(${f.name} div 1000)"))
        case _ => df
      }
    }
  }

  /** Session configs every graft session needs for the test tables. */
  def configure(spark: SparkSession): SparkSession = {
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") catch { case _: Throwable => }
    try spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false") catch { case _: Throwable => }
    spark
  }

  private def isFloating(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case _                      => false
  }

  /** Null test that counts float NaN as null (reference `is_null`,
    * _common.py:1198-1212). Schema-aware: `isnan` is only valid on
    * floating-point columns.
    */
  def isNullLike(df: DataFrame, name: String): Column = {
    val c = col(name)
    if (isFloating(df.schema(name).dataType)) c.isNull || isnan(c) else c.isNull
  }

  /** `fill_nulls` — fills both null and NaN for floating columns
    * (_common.py:1236-1266).
    */
  def fillNulls(df: DataFrame, name: String, value: Column): Column = {
    val c = col(name)
    when(isNullLike(df, name), value).otherwise(c)
  }

  /** `drop_nulls` on a set of columns, NaN-aware (_common.py:1219-1233). */
  def dropNulls(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, n) => d.filter(!isNullLike(d, n)))

  /** `CleanNullStrings`: trim, then map null-marker strings to real nulls
    * (reference skrub/_clean_null_strings.py:37-52).
    */
  val DefaultNullMarkers: Seq[String] =
    Seq("", "#N/A", "#N/A N/A", "#NA", "<NA>", "N/A", "NA", "NAN", "NaN",
      "NULL", "None", "n/a", "nan", "null")

  def cleanNullStrings(c: Column, markers: Seq[String] = DefaultNullMarkers): Column = {
    val t = trim(c)
    when(t.isin(markers: _*), lit(null).cast(StringType)).otherwise(t)
  }

  /** `ToFloat` locale-aware numeric parse (reference skrub/_to_float.py:9-38):
    * strip spaces and thousand separators, map decimal comma to point,
    * `(x)` accounting negatives, then permissive cast (failure -> null).
    */
  def toFloatLocale(c: Column, thousandSep: String = ",", decimalSep: String = "."): Column = {
    var s = regexp_replace(trim(c), "\\s+", "")
    // (123.4) -> -123.4
    s = when(s.rlike("^\\(.*\\)$"),
      concat(lit("-"), regexp_replace(s, "^\\((.*)\\)$", "$1"))).otherwise(s)
    s = regexp_replace(s, java.util.regex.Pattern.quote(thousandSep), "")
    if (decimalSep != ".") s = regexp_replace(s, java.util.regex.Pattern.quote(decimalSep), ".")
    try_cast_double(s)
  }

  private def try_cast_double(c: Column): Column =
    c.try_cast(DoubleType)

  /** Exact replace of a scalar value (non-regex), reference _common.py:1430-1442. */
  def replaceExact(c: Column, from: Column, to: Column): Column =
    when(c === from, to).otherwise(c)

  /** Conditional select, reference `where` _common.py:1317-1346. */
  def whereCol(mask: Column, c: Column, other: Column): Column =
    when(mask, c).otherwise(other)

  /** Exact-n random sample without replacement (reference `sample`,
    * _common.py:1349-1361 — note Spark's `df.sample` is approximate).
    * Deterministic: rows are ordered by a seeded xxhash64 of all columns, so
    * the same (data, seed) always yields the same sample regardless of
    * partition layout. orderBy+limit compiles to TakeOrderedAndProject
    * (per-partition top-n + driver merge), not a full sort.
    */
  def sampleExact(df: DataFrame, n: Int, seed: Long): DataFrame = {
    val key = xxhash64((df.columns.map(col) :+ lit(seed)): _*)
    df.orderBy(key).limit(n)
  }

  /** `sampleExact` keyed on explicit columns with an md5 ordering hash —
    * same semantics (deterministic seeded sample regardless of partition
    * layout; TakeOrderedAndProject, never a full sort), but the ordering is
    * reproducible by the DuckDB oracle (md5 is cross-engine; xxhash64 is
    * Spark-specific). Prefer this form when the frame has a natural key.
    */
  def sampleExactBy(df: DataFrame, n: Int, seed: Long, keys: Seq[String]): DataFrame = {
    val key = md5(concat_ws(":",
      (keys.map(col(_).cast(StringType)) :+ lit(seed.toString)): _*))
    df.orderBy((key +: keys.map(col)): _*).limit(n)
  }

  /** Lowercase-hex threshold over the first 15 md5 chars for fraction
    * `f`: equal-length lowercase hex compares lexicographically exactly
    * as it compares numerically, so `substr(md5(x), 1, 15) < threshold`
    * keeps a deterministic ~f of rows — no RNG, no partition-layout
    * sensitivity, and any engine with md5 (the DuckDB oracle included)
    * reproduces the exact same subset. 15 hex chars = 60 bits: fraction
    * resolution 2^-60, far below any sampling noise floor.
    */
  private[graft] def hexThreshold15(f: Double): String =
    if (f >= 1.0) "g" // '>' any hex char: keeps every row
    else if (f <= 0.0) "000000000000000" // nothing strictly below: keeps none
    else {
      val t = (BigDecimal(f) * BigDecimal(BigInt(1) << 60))
        .setScale(0, BigDecimal.RoundingMode.FLOOR).toBigInt
      val h = t.toString(16)
      "0" * (15 - h.length) + h
    }

  /** Deterministic per-stratum fraction sampling (class-balanced
    * subsampling for training pipelines — e.g. downsample dominant
    * languages/labels): keep rows whose md5(keys:seed) prefix falls
    * under the stratum's threshold. ONE scan, zero shuffles, an
    * entirely codegen'd filter over the parquet read — the only shape
    * that holds at 100 TB (a per-stratum loop of jobs or a stratum
    * repartition would scan or shuffle the corpus |strata| times).
    * Strata absent from `fractions` are dropped (fraction 0). The
    * reference's subsampling is a single global `sample(n, seed)`
    * (skrub/_data_ops/_subsampling.py:63); the stratified form is the
    * scale-path generalization.
    */
  def sampleStratifiedFraction(df: DataFrame, stratumCol: String,
                               fractions: Map[String, Double], seed: Long,
                               keys: Seq[String]): DataFrame = {
    val h = substring(md5(concat_ws(":",
      (keys.map(col(_).cast(StringType)) :+ lit(seed.toString)): _*)), 1, 15)
    // small driver-side label map -> chained when(); stays codegen'd and
    // constant-folded, never a join
    val thr = fractions.foldLeft(lit(null).cast(StringType)) {
      case (acc, (s, f)) =>
        when(col(stratumCol).cast(StringType) === s,
          lit(hexThreshold15(f))).otherwise(acc)
    }
    df.filter(h < thr) // null threshold (unlisted stratum) filters false
  }

  /** Deterministic exact-k-per-stratum sampling: the k rows with the
    * smallest md5(keys:seed) in each stratum. Implemented with the
    * bounded `MinKBy` aggregate, NOT a row_number window: each map-side
    * partial carries at most k rows per stratum, so the shuffle moves
    * O(|strata| * k) rows regardless of corpus size or stratum skew —
    * a window would shuffle and fully sort every row of the dominant
    * stratum through one task's sort. `keys` must uniquely identify
    * rows (the md5 tie-break contract sampleExactBy already carries).
    */
  def sampleStratifiedExact(df: DataFrame, stratumCol: String, n: Int,
                            seed: Long, keys: Seq[String]): DataFrame = {
    val h = md5(concat_ws(":",
      (keys.map(col(_).cast(StringType)) :+ lit(seed.toString)): _*))
    val payload = struct(df.columns.map(col): _*)
    df.select(struct(h.as("h"), payload.as("p")).as("hp"),
        col(stratumCol).as("__stratum"))
      .groupBy(col("__stratum"))
      .agg(graft.functions.AggExprs.minKBy(col("hp"), n).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t").getField("p").as("__p"))
      .select(col("__p.*"))
  }

  /** Duration (interval / numeric seconds) to float seconds
    * (reference `total_seconds`, _common.py:1466-1478).
    */
  def totalSecondsBetween(end: Column, start: Column): Column =
    (unix_micros(end) - unix_micros(start)).cast(DoubleType) / 1e6

  // ---------------------------------------------------------------------------
  // Vertical concat with relaxed schema (reference `concat(axis=0)` uses
  // polars how="diagonal_relaxed": union by name, missing cols -> null,
  // dtypes widened. _common.py:387-416)
  // ---------------------------------------------------------------------------

  /** Numeric widening lattice for diagonal-relaxed concat. */
  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, y)    => y
    case (x, NullType)    => x
    case (x, y) if isIntegral(x) && isIntegral(y) =>
      if (x.defaultSize >= y.defaultSize) x else y
    case (x, y: NumericType) if isIntegral(x) => DoubleType
    case (x: NumericType, y) if isIntegral(y) => DoubleType
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (_: DecimalType, _: NumericType) => DoubleType
    case (_: NumericType, _: DecimalType) => DoubleType
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case _ => StringType
  }

  /** Vertical union by column name with relaxed schema: missing columns become
    * nulls, conflicting dtypes are widened (numeric lattice, else string).
    */
  def concatDiagonal(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "concatDiagonal of zero frames")
    // merged schema: first-appearance column order, widened types
    val merged = scala.collection.mutable.LinkedHashMap[String, DataType]()
    dfs.foreach(_.schema.fields.foreach { f =>
      merged(f.name) = merged.get(f.name).map(widen(_, f.dataType)).getOrElse(f.dataType)
    })
    val aligned = dfs.map { d =>
      val have = d.schema.fieldNames.toSet
      d.select(merged.toSeq.map { case (n, dt) =>
        (if (have(n)) col(n).cast(dt) else lit(null).cast(dt)).as(n)
      }: _*)
    }
    aligned.reduce(_.unionByName(_))
  }

  // ---------------------------------------------------------------------------
  // Whole-column reductions / stats (reference _common.py:1022-1299)
  // ---------------------------------------------------------------------------

  /** value_counts: (value, count) excluding nulls (_common.py:1142-1163). */
  def valueCounts(df: DataFrame, c: String): DataFrame =
    df.filter(col(c).isNotNull).groupBy(col(c)).agg(count(lit(1)).as("count"))

  /** n_unique excluding nulls (_common.py:1269-1299). */
  def nUnique(df: DataFrame, c: String): DataFrame =
    df.agg(countDistinct(col(c)).as("n_unique"))

  /** Exact interpolated quantile, nulls dropped first (_common.py:1183-1195).
    *
    * Scale note: `percentile` buffers per-distinct-value counts
    * (ObjectHashAggregate), so memory grows with the column's distinct
    * count — exact parity with the reference's semantics, right for
    * profiling at verification scale. For continuous columns at 100 TB use
    * `quantileApprox`: the Greenwald-Khanna sketch is constant-memory with
    * a bounded relative error.
    */
  def quantileExact(df: DataFrame, c: String, q: Double): DataFrame =
    dropNulls(df, Seq(c)).agg(expr(s"percentile($c, $q)").as("quantile"))

  /** Constant-memory quantile (GK sketch, `accuracy` ~ 1/relative-error) —
    * the 100 TB path for continuous columns; see `quantileExact`.
    */
  def quantileApprox(df: DataFrame, c: String, q: Double,
                     accuracy: Int = 10000): DataFrame =
    dropNulls(df, Seq(c))
      .agg(expr(s"percentile_approx($c, $q, $accuracy)").as("quantile"))

  /** `slice(start, stop)` / `select_rows` over an EXPLICIT ordering
    * (reference _common.py:1364-1412 relies on positional identity; Spark
    * has none, so position is defined by `orderBy` — SURVEY §1.2 row-identity
    * contract). 0-based, stop exclusive.
    */
  def slice(df: DataFrame, orderBy: Seq[String], start: Int, stop: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Scale-safe: `orderBy.limit(stop)` plans as TakeOrderedAndProject —
    // every partition keeps its local top-`stop`, only those survivors merge
    // — so no row ever passes through a single-task global sort. The window
    // that numbers the survivors for the `start` cut runs over at most
    // `stop` rows by construction (slices are interactively bounded; the
    // cost is O(stop), independent of corpus size).
    val w = Window.orderBy(orderBy.map(col): _*)
    df.orderBy(orderBy.map(col): _*).limit(stop)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > start)
      .drop("__rn")
  }

  /** Scale-safe global row numbering: equivalent to `row_number() over
    * (order by keys)` (1-based) but no row passes through a single-task
    * window. The ordering keys must form a total order (unique rows per
    * key tuple) — the same explicit-row-identity contract positional ops
    * already carry (SURVEY §1.2).
    *
    * Shape: range-shuffle a slim keys-only projection, number rows with a
    * per-partition window, lift to global ids with driver prefix-sum
    * offsets over the per-partition counts (one tiny action; the partition
    * count is bounded by parallelism), then join the numbers back on the
    * keys. The wide payload is never globally sorted — it moves once, in
    * the equi-join's hash shuffle.
    */
  def withGlobalRowNumber(df: DataFrame, orderBy: Seq[String],
                          out: String = "__rn"): DataFrame = {
    // NOTE: the input plan evaluates twice — once in the keys-only sort,
    // once as the join probe side. The WIDE payload never rides the range
    // sort (the shuffle-bytes win this exists for); callers zipping an
    // expensive derived frame should persist it first. DETERMINISM of the
    // input plan is a hard precondition: a source that returns different
    // keys per evaluation (sampling, rand-derived columns, re-read mutable
    // data) would disagree between the two evaluations. A probe row whose
    // key received no position fails LOUDLY at execution (raise_error below)
    // instead of silently dropping.
    //
    // The NARROW keys-only projection rides the distributed range sort and a
    // per-partition-count action (rows never funnel through one task): after
    // orderBy, partition ids ascend with the key ranges, so global position =
    // driver prefix-sum offset of the partition + the row's local
    // monotonically_increasing_id index. The wide payload never moves through
    // the range sort — it joins the computed numbers back on the keys in ONE
    // hash shuffle. Positional numbering is only well-defined over a total
    // order, so duplicate keys (which would also fan out the join-back) are
    // rejected; the check rides the same counts job as a window over the
    // already-sorted partitions — equal keys are adjacent after a range sort,
    // so a partition-local lag sees every duplicate.
    val keyCols = orderBy.map(col)
    Stage.scoped(df.select(keyCols: _*).orderBy(keyCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33).cast(IntegerType))) { sorted =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__pid")).orderBy(col("__mid"))
      // a previous row must EXIST (lag of never-null __mid) — otherwise a
      // genuinely-null first key would null-safe-match lag's default null
      val dup = when(
        lag(col("__mid"), 1).over(w).isNotNull &&
          orderBy.map(c => col(c) <=> lag(col(c), 1).over(w)).reduce(_ && _), 1L)
        .otherwise(0L)
      val stats = sorted.withColumn("__dup", dup)
        .groupBy(col("__pid"))
        .agg(count(lit(1)).as("__n"), sum(col("__dup")).as("__d"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val nDups = stats.valuesIterator.map(_._2).sum
      require(nDups == 0,
        s"withGlobalRowNumber: orderBy keys (${orderBy.mkString(", ")}) contain " +
          s"$nDups duplicate rows; positional numbering needs a total order")
      var acc = 1L // 1-based
      val offsets = stats.keys.toSeq.sorted.map { p =>
        val o = acc; acc += stats(p)._1; p -> o
      }
      val offExpr =
        if (offsets.isEmpty) lit(1L)
        else element_at(
          map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*),
          col("__pid"))
      // the number table is narrow (keys + one long): fill it so the sorted
      // keys stage can be released HERE instead of leaking into the
      // returned plan's lifetime. Keys are RENAMED to fresh columns because
      // a stage preserves attribute identity — joining df(c) against an
      // attribute with the same exprId would be a trivially-true
      // self-reference, not a join condition.
      //
      // PINNED (lineage cut), DELIBERATELY not a stage with lineage:
      // positions were assigned under ONE concrete range partitioning, and a
      // recompute after executor loss may re-derive different partition
      // boundaries — the driver-side offsets map would then silently SHIFT
      // positions. Losing a pinned block fails the job loudly instead; the
      // frame is tiny and the caller retries.
      val numbered = Stage.pinned(sorted
        .withColumn(out, col("__mid").bitwiseAND(lit((1L << 33) - 1)) + offExpr)
        .select(orderBy.map(c => col(c).as(s"__gk_$c")) :+ col(out): _*),
        "Kernel.withGlobalRowNumber")
      // null-SAFE join-back: a null ordering key is a valid position (the
      // sort put it somewhere deterministic); plain equi-join would silently
      // drop such rows. LEFT join + raise_error instead of inner join: with
      // a nondeterministic input the probe side could produce keys the
      // numbering pass never saw — an inner join would silently drop those
      // rows, this fails the job with the actual violation.
      val cond = orderBy.map(c => df(c) <=> numbered(s"__gk_$c")).reduce(_ && _)
      val checked = when(numbered(out).isNull,
        raise_error(lit("withGlobalRowNumber: input row has no assigned " +
          "position — the input plan re-evaluated differently between the " +
          "numbering pass and the join-back (determinism is a hard " +
          "precondition; persist nondeterministic inputs first)")))
        .otherwise(numbered(out)).as(out)
      df.join(numbered, cond, "left")
        .select(df.columns.map(df(_)).toSeq :+ checked: _*)
    }
  }

  /** Horizontal (axis=1) concat of frames sharing a common explicit row
    * order: zip by row_number over `orderBy` per frame, then join on it
    * (reference concat axis=1 zips by position, _common.py:400-416;
    * restricted to same-length frames like the reference).
    */
  def concatHorizontal(dfs: Seq[(DataFrame, Seq[String])]): DataFrame = {
    require(dfs.nonEmpty, "concatHorizontal of zero frames")
    // Same-lineage fast path first (the common pipeline case: several
    // projections of ONE parent zipped back together): zero sorts, zero
    // joins, zero extra shuffles, and the parent evaluates exactly once.
    sameLineageZip(dfs).getOrElse {
      // general path: positional zip = join on a scale-safe global row
      // number per frame (each frame's ordering keys define its positions;
      // no single-task global window anywhere)
      val numbered = dfs.map { case (d, ord) => withGlobalRowNumber(d, ord) }
      numbered.reduce((a, b) => a.join(b, Seq("__rn"))).drop("__rn")
    }
  }

  /** Detect that every frame is a pure column projection over ONE common
    * parent plan and that all ordering-key lists resolve to the SAME
    * expressions over that parent. Positional zip is then the identity
    * pairing (each parent row pairs with itself), so the concat collapses
    * to a single combined projection of the parent — no numbering, no
    * join-back, and no double evaluation of the parent (which also removes
    * the nondeterministic-input hazard the general path documents).
    * Returns None when the structure doesn't match; callers fall back.
    */
  private def sameLineageZip(
      dfs: Seq[(DataFrame, Seq[String])]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, Attribute, AttributeReference, BoundReference, Expression,
      NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{
      LogicalPlan, Project, SubqueryAlias}
    // Unwrap Project/SubqueryAlias chains to a base plan, expressing each
    // output column as (name, expression over the base's output attributes).
    def flat(plan: LogicalPlan): (LogicalPlan, Seq[(String, Expression)]) =
      plan match {
        case SubqueryAlias(_, child) => flat(child)
        case Project(list, child) =>
          val (base, childOut) = flat(child)
          val byId = child.output.map(_.exprId).zip(childOut.map(_._2)).toMap
          val out = list.map { ne =>
            val e = ne match {
              case a: AttributeReference => byId.getOrElse(a.exprId, a)
              case al: Alias => al.child.transform {
                case a: AttributeReference => byId.getOrElse(a.exprId, a)
              }
              case other => other
            }
            (ne.name, e)
          }
          (base, out)
        case other => (other, other.output.map(a => (a.name, a: Expression)))
      }
    // ordinal-normalized form so plans that are canonically equal but carry
    // different exprIds still compare equal
    def normalize(e: Expression, baseOut: Seq[Attribute]): Option[Expression] = {
      var ok = true
      val n = e.transform {
        case a: AttributeReference =>
          val i = baseOut.indexWhere(_.exprId == a.exprId)
          if (i < 0) { ok = false; a }
          else BoundReference(i, a.dataType, a.nullable)
      }
      if (ok) Some(n.canonicalized) else None
    }
    val flats = dfs.map { case (d, ord) =>
      val (base, out) = flat(d.queryExecution.analyzed)
      (d, ord, base, out)
    }
    val (_, _, base0, _) = flats.head
    val sameBase = flats.forall { case (_, _, b, _) =>
      b.canonicalized == base0.canonicalized }
    if (!sameBase) return None
    // each frame's ordering keys, as ordinal-normalized base expressions;
    // bail on a missing or ambiguous name (the general path surfaces the
    // resolution error with full context)
    val orderKeyLists = flats.map { case (_, ord, base, out) =>
      val keys = ord.map { k =>
        out.filter(_._1 == k) match {
          case Seq((_, e)) => normalize(e, base.output)
          case _ => None
        }
      }
      if (keys.forall(_.isDefined)) Some(keys.flatten) else None
    }
    if (orderKeyLists.exists(_.isEmpty)) return None
    val k0 = orderKeyLists.head.get
    if (!orderKeyLists.forall(_.get == k0)) return None
    // combined projection over frame 0's base: rebind every frame's output
    // expressions onto base0's attributes by ordinal
    val out0 = base0.output
    val combined: Seq[NamedExpression] = flats.flatMap { case (_, _, base, out) =>
      val ordinal = base.output.map(_.exprId).zip(out0).toMap
      out.map { case (name, e) =>
        val rebased = e.transform {
          case a: AttributeReference => ordinal.getOrElse(a.exprId, a)
        }
        Alias(rebased, name)()
      }
    }
    Some(org.apache.spark.sql.GraftBridge.ofRows(
      dfs.head._1.sparkSession, Project(combined, base0)))
  }

  /** `all_null_like`: frame with the same schema, all values null
    * (_common.py:268-354).
    */
  def allNullLike(df: DataFrame, nRows: Int): DataFrame = {
    val spark = df.sparkSession
    spark.range(nRows.toLong).select(df.schema.fields.map(f =>
      lit(null).cast(f.dataType).as(f.name)): _*)
  }

  /** `scaling_factor` (reference skrub/_scaling_factor.py:17): sqrt of the
    * summed population variances of the given numeric columns, computed
    * decimal-exact (order-independent across partitions) and rounded to 6
    * decimals. Factors below epsilon clip to 1 (reference `_clip_epsilon`).
    */
  def scalingFactor(df: DataFrame, cols: Seq[String]): DataFrame = {
    val vars = cols.map { c =>
      val dec = col(c).cast(DecimalType(24, 6))
      val n = count(col(c)).cast(DoubleType)
      val s = sum(dec).cast(DoubleType)
      val sq = sum(dec * dec).cast(DoubleType)
      (sq - s * s / n) / n
    }
    df.agg(round(sqrt(vars.reduce(_ + _)), 6).as("scaling_factor"))
      .select(when(col("scaling_factor") < 1e-12, 1.0)
        .otherwise(col("scaling_factor")).as("scaling_factor"))
  }

  /** `ToStr` (skrub/_to_str.py:7) / `CleanCategories`
    * (skrub/_clean_categories.py:11-38): normalize to plain strings,
    * preserving nulls. Spark has no dictionary dtype, so CleanCategories
    * degenerates to the same cast (SURVEY §1.2).
    */
  def toStr(c: Column): Column = c.cast(StringType)

  /** is_sorted check ignoring nulls (_common.py:1481-1532): true iff the
    * column, in the given order, is monotonically non-decreasing.
    *
    * Scale-safe: range-partition on the ordering keys, check adjacency with a
    * window PARTITIONED per range (parallel across partitions — never one
    * global single-task window), then stitch partition boundaries with a tiny
    * per-partition (first, last) aggregate: partition i's last value must be
    * <= partition i+1's first. The boundary frame has one row per partition,
    * so its un-partitioned window is driver-sized by construction.
    */
  def isSorted(df: DataFrame, c: String, orderBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val oCols = orderBy.map(col)
    val nPart = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val base = df.filter(col(c).isNotNull)
      .repartitionByRange(nPart, oCols: _*)
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(oCols: _*)
    val ord = struct(oCols: _*)
    val perPart = base
      .withColumn("__prev", lag(col(c), 1).over(w))
      .groupBy(col("__pid"))
      .agg((count(when(col("__prev") > col(c), 1)) === 0).as("__local_sorted"),
        min_by(col(c), ord).as("__first"),
        max_by(col(c), ord).as("__last"))
    val wp = Window.orderBy(col("__pid"))
    perPart
      .withColumn("__prev_last", lag(col("__last"), 1).over(wp))
      .agg((count(when(!col("__local_sorted") ||
        col("__prev_last") > col("__first"), 1)) === 0).as("is_sorted"))
  }
}
