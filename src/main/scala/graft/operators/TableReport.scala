package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TableReport (reference skrub/_reporting/_summarize.py:21-310 feeding
  * _table_report.py:98): per-column profiling statistics, top/bottom sample
  * slices, top column associations, and a self-contained HTML rendering.
  *
  * Spark-first shape: `summarize` is TWO jobs regardless of column count —
  * one aggregate computing every column's stats together (count, nulls,
  * exact distinct, min/max, decimal-exact mean/std, exact quartiles), plus
  * one melted value-count job computing every string column's mode together
  * (explode to (column, value), count, arg-min — never one job per column).
  * The wide single stats row is exploded into per-column rows afterwards.
  */
object TableReport {

  /** Cardinality above which a column is flagged high-card — read from
    * `graft.ops.Config` (reference `cardinality_threshold`, _config.py:86;
    * same default 40, overridable via set/config_context).
    */
  def CardinalityThreshold: Int = graft.ops.Config.get.cardinalityThreshold

  /** Per-column profiling stats in long format.
    *
    * `exactQuantiles = true` (default) matches the reference's exact
    * interpolated quartiles — `percentile` buffers per-distinct-value
    * counts, fine at profiling scale. Pass `false` on continuous columns at
    * 100 TB: `percentile_approx`'s GK sketch is constant-memory (every
    * other aggregate here is already constant-memory partial+final).
    */
  def summarize(df: DataFrame, exactQuantiles: Boolean = true): DataFrame = {
    val fields = df.schema.fields.toSeq
    // numeric-comparable view of a column: numerics as double, datetimes as
    // epoch seconds (min/max of strings stay in the string columns — no
    // cross-engine float-to-string formatting anywhere)
    def numView(f: StructField): Option[Column] = f.dataType match {
      case _: NumericType => Some(col(f.name).cast(DoubleType))
      case DateType | TimestampType | TimestampNTZType =>
        Some(unix_micros(col(f.name).cast(TimestampType)).cast(DoubleType) / 1e6)
      case _ => None
    }
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val nv = numView(f)
      val isNum = f.dataType.isInstanceOf[NumericType]
      // decimal-route the moment sums so mean/std are aggregation-order-
      // independent (float sums are not associative; DECIMAL sums are)
      val mean =
        if (isNum)
          round(sum(c.cast(DecimalType(24, 6))).cast(DoubleType) /
            count(c).cast(DoubleType), 6)
        else lit(null).cast(DoubleType)
      val std =
        if (isNum) {
          // DECIMAL(18,6) operands keep the product at DECIMAL(37,12) — under
          // Spark's 38-digit cap, so the moment sums stay EXACT (and identical
          // in DuckDB); only the final combination runs in double
          val n = count(c).cast(DoubleType)
          val sx = sum(c.cast(DecimalType(30, 6))).cast(DoubleType)
          val sxx = sum(c.cast(DecimalType(18, 6)) * c.cast(DecimalType(18, 6)))
            .cast(DoubleType)
          // sample std (ddof=1), like the reference's sbd.std
          round(sqrt(greatest((sxx - sx * sx / n) / (n - 1.0), lit(0.0))), 6)
        } else lit(null).cast(DoubleType)
      // exact interpolated percentile (sorts values — order-independent;
      // matches DuckDB quantile_cont), like Kernel.quantileExact
      val quarts =
        if (isNum && exactQuantiles)
          expr(s"percentile(`${f.name}`, array(0.25D, 0.5D, 0.75D))")
        else if (isNum)
          expr(s"percentile_approx(`${f.name}`, array(0.25D, 0.5D, 0.75D), 10000)")
            .cast(ArrayType(DoubleType))
        else lit(null).cast(ArrayType(DoubleType))
      Seq(
        count(c).as(s"${f.name}__count"),
        count(when(c.isNull, 1)).as(s"${f.name}__nulls"),
        countDistinct(c).as(s"${f.name}__distinct"),
        nv.map(min(_)).getOrElse(lit(null).cast(DoubleType)).as(s"${f.name}__min_num"),
        nv.map(max(_)).getOrElse(lit(null).cast(DoubleType)).as(s"${f.name}__max_num"),
        (if (f.dataType == StringType) min(c) else lit(null).cast(StringType))
          .as(s"${f.name}__min_str"),
        (if (f.dataType == StringType) max(c) else lit(null).cast(StringType))
          .as(s"${f.name}__max_str"),
        mean.as(s"${f.name}__mean"),
        std.as(s"${f.name}__std"),
        quarts.as(s"${f.name}__quarts"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = fields.map { f =>
      val q = col(s"${f.name}__quarts")
      val nRows = col(s"${f.name}__count") + col(s"${f.name}__nulls")
      struct(
        lit(f.name).as("column_name"),
        // a ToCategorical tag displays as its own dtype, like the
        // reference's Categorical dtype in report headers
        lit(if (graft.encoders.ToCategorical.isCategorical(f)) "categorical"
          else f.dataType.simpleString).as("dtype"),
        col(s"${f.name}__count").as("count"),
        col(s"${f.name}__nulls").as("null_count"),
        round(col(s"${f.name}__nulls").cast(DoubleType) /
          greatest(nRows.cast(DoubleType), lit(1.0)), 6).as("null_proportion"),
        col(s"${f.name}__distinct").as("n_unique"),
        (col(s"${f.name}__distinct") > CardinalityThreshold).as("is_high_cardinality"),
        (col(s"${f.name}__distinct") === 1 && col(s"${f.name}__nulls") === 0)
          .as("value_is_constant"),
        col(s"${f.name}__min_num").as("min_numeric"),
        col(s"${f.name}__max_num").as("max_numeric"),
        col(s"${f.name}__min_str").as("min_string"),
        col(s"${f.name}__max_str").as("max_string"),
        col(s"${f.name}__mean").as("mean"),
        col(s"${f.name}__std").as("std"),
        (round(element_at(q, 1), 6) + lit(0.0)).as("q25"),
        (round(element_at(q, 2), 6) + lit(0.0)).as("q50"),
        (round(element_at(q, 3), 6) + lit(0.0)).as("q75"))
    }
    val stats = wide.select(explode(array(entries: _*)).as("e")).select(col("e.*"))

    // mode (most frequent, smallest value on ties) of every string column in
    // ONE melted two-level aggregate — (column, value) counts, then arg-min
    // per column over (-count, value)
    val strCols = fields.filter(_.dataType == StringType).map(_.name)
    if (strCols.isEmpty)
      stats
        .withColumn("mode_value", lit(null).cast(StringType))
        .withColumn("mode_count", lit(null).cast(LongType))
    else {
      val melted = df.select(explode(array(strCols.map(c =>
        struct(lit(c).as("cn"), col(c).as("v"))): _*)).as("e"))
        .select(col("e.cn").as("cn"), col("e.v").as("v"))
        .filter(col("v").isNotNull)
      val modes = melted.groupBy(col("cn"), col("v")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("cn"))
        .agg(min_by(col("v"), struct(negate(col("cnt")), col("v"))).as("mode_value"),
          max(col("cnt")).as("mode_count"))
      stats.join(modes, stats("column_name") === modes("cn"), "left").drop("cn")
    }
  }

  /** Top-K value counts for every string column in ONE melted two-level
    * aggregate (reference `_utils.top_k_value_counts(column, k=10)` feeding
    * the per-column value_counts plots, _summarize.py:213-236): rows
    * (column_name, value, value_count, rank) with rank 1 = most frequent,
    * ties broken toward the smallest value — never a job per column.
    */
  def valueCounts(df: DataFrame, topK: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    if (strCols.isEmpty)
      return spark.range(0).select(
        lit("").as("column_name"), lit("").as("value"),
        lit(0L).as("value_count"), lit(0).as("rank"))
    val melted = df.select(explode(array(strCols.map(c =>
        struct(lit(c).as("cn"), col(c).as("v"))): _*)).as("e"))
      .select(col("e.cn").as("cn"), col("e.v").as("v"))
      .filter(col("v").isNotNull)
    val counted = melted.groupBy(col("cn"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    // bounded top-k per column: minKBy keeps only k (negCnt, value) pairs
    // per aggregation state — no per-column sort, no window
    counted.groupBy(col("cn"))
      .agg(graft.functions.AggExprs.minKBy(
        struct(negate(col("cnt")).as("neg"), col("v").as("value"),
          col("cnt").as("cnt")), topK).as("top"))
      .select(col("cn").as("column_name"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("column_name"), col("t.value").as("value"),
        col("t.cnt").as("value_count"), (col("pos") + 1).as("rank"))
  }

  /** Fixed-width histograms for every numeric column (reference per-column
    * `np.histogram` distribution plots, _plotting.py:221): rows
    * (column_name, bin, bin_start, bin_end, bin_count). TWO jobs total for
    * any column count — one min/max pass, one melted bin-count aggregate.
    * Unlike the reference we do not trim outliers first (documented
    * divergence: trimming needs per-column quantiles; the report's quartile
    * stats already expose the spread).
    */
  def numericHistograms(df: DataFrame, nBins: Int = 10): DataFrame = {
    require(nBins >= 1, "nBins >= 1")
    val spark = df.sparkSession
    val numCols = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
    val empty = spark.range(0).select(
      lit("").as("column_name"), lit(0).as("bin"),
      lit(0.0).as("bin_start"), lit(0.0).as("bin_end"),
      lit(0L).as("bin_count"))
    if (numCols.isEmpty) return empty
    // NaN exclusion for floating-point columns: Spark's max orders NaN as
    // LARGEST (poisoning the bin width) and floor(NaN) cast to int is 0 in
    // non-ANSI mode (silently counting NaNs in bin 0), so NaN values are
    // excluded from both the min/max pass and the binning — like nulls
    val isFloating = df.schema.fields
      .filter(f => f.dataType == DoubleType || f.dataType == FloatType)
      .map(_.name).toSet
    def cleanVal(c: String): Column = {
      val d = col(c).cast(DoubleType)
      if (isFloating(c)) when(!isnan(d), d) else d
    }
    // job 1: global min/max per column (tiny single row)
    val mmAggs = numCols.flatMap(c => Seq(
      min(cleanVal(c)).as(s"${c}__mn"),
      max(cleanVal(c)).as(s"${c}__mx")))
    val mm = df.agg(mmAggs.head, mmAggs.tail: _*).collect()(0)
    val ranges = numCols.flatMap { c =>
      val (i, j) = (mm.fieldIndex(s"${c}__mn"), mm.fieldIndex(s"${c}__mx"))
      if (mm.isNullAt(i)) None // all-null column: no histogram
      else {
        val (mn, mx) = (mm.getDouble(i), mm.getDouble(j))
        val width = if (mx > mn) (mx - mn) / nBins else 1.0
        Some((c, mn, width))
      }
    }
    if (ranges.isEmpty) return empty
    // job 2: one melted bin-count aggregate; the last bin is CLOSED (values
    // at the max land in bin nBins-1, like np.histogram's rightmost edge)
    val melted = df.select(explode(array(ranges.map { case (c, mn, width) =>
        // explicit null guard: greatest/least SKIP nulls, so without it a
        // null value would collapse to greatest(null, 0) = bin 0; cleanVal
        // additionally nulls out NaN for floating-point columns
        struct(lit(c).as("cn"),
          when(cleanVal(c).isNotNull,
            least(greatest(floor((cleanVal(c) - mn) / width)
              .cast(IntegerType), lit(0)), lit(nBins - 1))).as("bin"))
      }: _*)).as("e"))
      .select(col("e.cn").as("cn"), col("e.bin").as("bin"))
      .filter(col("bin").isNotNull)
    val mnMap = map(ranges.flatMap { case (c, mn, _) => Seq(lit(c), lit(mn)) }: _*)
    val wMap = map(ranges.flatMap { case (c, _, w) => Seq(lit(c), lit(w)) }: _*)
    melted.groupBy(col("cn"), col("bin"))
      .agg(count(lit(1)).as("bin_count"))
      .select(col("cn").as("column_name"), col("bin"),
        round(element_at(mnMap, col("cn")) +
          col("bin") * element_at(wMap, col("cn")), 6).as("bin_start"),
        round(element_at(mnMap, col("cn")) +
          (col("bin") + 1) * element_at(wMap, col("cn")), 6).as("bin_end"),
        col("bin_count"))
  }

  /** Top-N / bottom-N sample slices by an explicit ordering key (reference
    * _sample_table.make_table's top_slice/bottom_slice; Spark has no file
    * order, so the key is required). Two TakeOrderedAndProject jobs — never
    * a full sort.
    */
  def sampleSlices(df: DataFrame, orderBy: Seq[String], topN: Int = 5,
                   bottomN: Int = 5): DataFrame = {
    val asc = orderBy.map(col)
    val desc = orderBy.map(col(_).desc)
    val top = df.orderBy(asc: _*).limit(topN)
      .withColumn("slice", lit("top"))
    val bottom = df.orderBy(desc: _*).limit(bottomN)
      .withColumn("slice", lit("bottom"))
    top.unionByName(bottom)
  }

  /** Top-N column associations (Cramér's V over all pairs — reference
    * _add_associations, _summarize.py:135) embedded in the report. The
    * all-pairs pass is ONE melted projection (see ColumnAssociations).
    */
  def topAssociations(df: DataFrame, topN: Int = 1000): DataFrame =
    ColumnAssociations.allPairs(df, topN)

  private[graft] def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def rowsToTable(cols: Seq[String], rows: Array[Row]): String = {
    val head = cols.map(c => s"<th>${esc(c)}</th>").mkString
    val body = rows.map { r =>
      val tds = cols.indices.map { i =>
        val v = if (r.isNullAt(i)) "" else esc(String.valueOf(r.get(i)))
        s"<td>$v</td>"
      }.mkString
      s"<tr>$tds</tr>"
    }.mkString("\n")
    s"<table>\n<thead><tr>$head</tr></thead>\n<tbody>\n$body\n</tbody>\n</table>"
  }

  private def renderTable(df: DataFrame, maxRows: Int): String =
    rowsToTable(df.columns.toSeq, df.limit(maxRows).collect())

  /** Inline SVG horizontal bar chart (reference embeds per-column
    * distribution plots, skrub/_reporting/_plotting.py:26-221; ours are
    * dependency-free SVG): one labeled bar per (label, count), widths
    * scaled to the max count. Pure string assembly over rows the caller
    * already collected — NO extra Spark jobs for chart rendering.
    */
  private[graft] def svgBars(items: Seq[(String, Long)]): String = {
    if (items.isEmpty) return ""
    val mx = math.max(1L, items.map(_._2).max)
    val (labelW, maxBarW, rowH) = (170, 220, 16)
    val bars = items.zipWithIndex.map { case ((label, cnt), i) =>
      val w = math.max(1L, cnt * maxBarW / mx)
      val y = i * rowH
      s"""<text x="${labelW - 6}" y="${y + 12}" text-anchor="end">${esc(label.take(26))}</text>""" +
        s"""<rect x="$labelW" y="${y + 3}" width="$w" height="${rowH - 6}" fill="#5b7fa6"/>""" +
        s"""<text x="${labelW + w + 5}" y="${y + 12}">$cnt</text>"""
    }.mkString
    s"""<svg width="${labelW + maxBarW + 70}" height="${rowH * items.size}" """ +
      s"""font-size="10" font-family="monospace" xmlns="http://www.w3.org/2000/svg">$bars</svg>"""
  }

  /** Self-contained HTML report string (reference TableReport.html(),
    * _table_report.py:98): summary stats, sample slices, top associations.
    * The three sections run the bounded jobs above; rendering is
    * driver-side string assembly over their (small) results.
    */
  def toHtml(df0: DataFrame, orderBy: Seq[String], title: String = "TableReport",
             topAssoc: Int = 20, topK: Int = 10, nBins: Int = 10,
             filterCols: Seq[String] = Nil): String = {
    // `filterCols` is the reference report's column-filter dropdown
    // (_html.py): render only the named columns (order keys are kept for
    // the sample slices even when filtered out). Empty = all columns.
    val df =
      if (filterCols.isEmpty) df0
      else {
        val missing = filterCols.filterNot(df0.columns.contains)
        require(missing.isEmpty, s"filterCols not in frame: ${missing.mkString(", ")}")
        df0.select((filterCols ++ orderBy.filterNot(filterCols.contains))
          .map(col): _*)
      }
    val nCols = df.columns.length
    val stats = renderTable(summarize(df).orderBy(col("column_name")), nCols)
    val sample = renderTable(sampleSlices(df, orderBy), 10)
    val assoc = renderTable(
      topAssociations(df, topAssoc)
        .orderBy(col("cramer_v").desc, col("left_column_name"),
          col("right_column_name")),
      topAssoc)
    // per-column distributions (reference value_counts / histogram plots):
    // bounded rows — topK per string column, nBins per numeric column.
    // Each frame is collected ONCE and feeds both the data table and the
    // per-column SVG chart (chart rendering adds zero jobs).
    val vcRows = valueCounts(df, topK).orderBy(col("column_name"), col("rank"))
      .limit(nCols * topK).collect()
    val vc = rowsToTable(
      Seq("column_name", "value", "value_count", "rank"), vcRows) +
      vcRows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (cn, rs) =>
        s"<h3>${esc(cn)}</h3>" + svgBars(rs.sortBy(_.getInt(3)).toSeq
          .map(r => (r.getString(1), r.getLong(2))))
      }.mkString("\n")
    val histRows = numericHistograms(df, nBins)
      .orderBy(col("column_name"), col("bin")).limit(nCols * nBins).collect()
    val hist = rowsToTable(
      Seq("column_name", "bin", "bin_start", "bin_end", "bin_count"), histRows) +
      histRows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (cn, rs) =>
        s"<h3>${esc(cn)}</h3>" + svgBars(rs.sortBy(_.getInt(1)).toSeq
          .map(r => (s"[${r.getDouble(2)}, ${r.getDouble(3)})", r.getLong(4))))
      }.mkString("\n")
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>table{border-collapse:collapse}td,th{border:1px solid #999;padding:2px 6px;font:12px monospace}</style>
       |</head><body>
       |<h1>${esc(title)}</h1>
       |<p>${df.columns.length} columns</p>
       |<h2>Sample</h2>
       |$sample
       |<h2>Column statistics</h2>
       |$stats
       |<h2>Value counts</h2>
       |$vc
       |<h2>Histograms</h2>
       |$hist
       |<h2>Top associations</h2>
       |$assoc
       |</body></html>""".stripMargin
  }

  /** `TableReport.write_html` (reference _table_report.py:98): render and
    * write the report to a file.
    */
  def writeHtml(df: DataFrame, orderBy: Seq[String], path: String,
                title: String = "TableReport"): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, toHtml(df, orderBy, title))
  }

  /** Side-by-side proportion bars: reference (blue) above current (orange)
    * per bin, each frame normalized by ITS OWN total so differently-sized
    * snapshots compare by SHAPE — exactly what PSI/KS measure.
    */
  private[graft] def svgCompareBars(
      items: Seq[(String, Double, Double)]): String = {
    if (items.isEmpty) return ""
    val mx = math.max(1e-12, items.flatMap(i => Seq(i._2, i._3)).max)
    val (labelW, maxBarW, rowH) = (170, 220, 22)
    val bars = items.zipWithIndex.map { case ((label, pRef, pCur), i) =>
      val wr = math.max(1L, math.round(pRef / mx * maxBarW))
      val wc = math.max(1L, math.round(pCur / mx * maxBarW))
      val y = i * rowH
      s"""<text x="${labelW - 6}" y="${y + 13}" text-anchor="end">${esc(label.take(26))}</text>""" +
        s"""<rect x="$labelW" y="${y + 2}" width="$wr" height="8" fill="#5b7fa6"/>""" +
        s"""<rect x="$labelW" y="${y + 12}" width="$wc" height="8" fill="#d08a3e"/>""" +
        f"""<text x="${labelW + math.max(wr, wc) + 5}%d" y="${y + 13}%d">${pRef * 100}%.1f%% / ${pCur * 100}%.1f%%</text>"""
    }.mkString
    s"""<svg width="${labelW + maxBarW + 110}" height="${rowH * items.size}" """ +
      s"""font-size="10" font-family="monospace" xmlns="http://www.w3.org/2000/svg">$bars</svg>"""
  }

  /** Two-snapshot DRIFT report (beyond reference — the monitoring-station
    * rendering of the r9 Drift family): per-column PSI, KS for the
    * ordered (numeric/datetime) columns, the new-category alert feed, and
    * side-by-side distribution charts over the REFERENCE's frozen bins.
    * Every section is a bounded drift job (one melted aggregate per frame
    * per section); rendering is driver-side string assembly over
    * Σ-bin-vocabulary rows.
    */
  def compareHtml(ref: DataFrame, cur: DataFrame, cols: Seq[String],
                  title: String = "DriftReport", nBins: Int = 10,
                  maxCats: Int = 10, topAlerts: Int = 50): String = {
    val schemaT = {
      val d = Drift.schemaDiff(ref, cur).collect()
      if (d.isEmpty) "<p>(identical schemas)</p>"
      else rowsToTable(Seq("column_name", "change", "ref_type", "cur_type"), d)
    }
    val model = Drift.fitPsi(ref, cols, nBins = nBins, maxCats = maxCats)
    val psiT = renderTable(model.score(cur), cols.length)
    val ordered = cols.filter { c =>
      ref.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType |
             org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => true
        case _ => false
      }
    }
    val ksT = if (ordered.isEmpty) "<p>(no numeric/datetime columns)</p>"
      else renderTable(Drift.ks(ref, cur, ordered), ordered.length)
    val catCols = cols.filterNot(ordered.contains)
    val alertsT = if (catCols.isEmpty) "<p>(no categorical columns)</p>"
      else renderTable(
        Drift.newCategories(ref, cur, catCols).limit(topAlerts), topAlerts)
    // charts: both frames' proportions over the frozen reference bins,
    // from ONE binCounts frame (Σ bin vocabularies rows, collected once)
    val cells = model.binCounts(cur)
      .orderBy(col("column_name"), col("bin")).collect()
    val charts = cells.groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (cn, rs) =>
        val totR = math.max(1L, rs.map(_.getLong(2)).sum).toDouble
        val totC = math.max(1L, rs.map(_.getLong(3)).sum).toDouble
        // "__null" first, then bins by numeric index / category label
        val sorted = rs.sortBy { r =>
          val b = r.getString(1)
          if (b == "__null") (-1, "") else (b.drop(1).toIntOption.getOrElse(
            Int.MaxValue), b)
        }
        s"<h3>${esc(cn)}</h3>" + svgCompareBars(sorted.toSeq.map(r =>
          (r.getString(1), r.getLong(2) / totR, r.getLong(3) / totC)))
      }.mkString("\n")
    model.release()
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>table{border-collapse:collapse}td,th{border:1px solid #999;padding:2px 6px;font:12px monospace}</style>
       |</head><body>
       |<h1>${esc(title)}</h1>
       |<p>reference (blue) vs current (orange) over the reference's frozen bins</p>
       |<h2>Schema changes</h2>
       |$schemaT
       |<h2>PSI per column</h2>
       |$psiT
       |<h2>KS per numeric/datetime column</h2>
       |$ksT
       |<h2>New categories (current values unseen in reference)</h2>
       |$alertsT
       |<h2>Distributions</h2>
       |$charts
       |</body></html>""".stripMargin
  }

  def writeCompareHtml(ref: DataFrame, cur: DataFrame, cols: Seq[String],
                       path: String, title: String = "DriftReport"): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, compareHtml(ref, cur, cols, title))
  }

  private def rowsToJson(cols: Seq[String], rows: Array[Row]): String = {
    import graft.plans.Json
    Json.arr(rows.toSeq.map { r =>
      Json.obj(cols.zipWithIndex.map { case (c, i) =>
        c -> (r.get(i) match {
          case null                               => "null"
          case d: Double if d.isNaN || d.isInfinite => Json.str(d.toString)
          case d: Double                          => Json.num(d)
          case f: Float                           => Json.num(f.toDouble)
          case l: Long                            => Json.num(l)
          case n: Int                             => Json.num(n.toLong)
          case s: Short                           => Json.num(s.toLong)
          case b: Boolean                         => Json.bool(b)
          case other                              => Json.str(other.toString)
        })
      })
    })
  }

  /** Interactive single-file report (reference `_html.py` + its JS assets:
    * column filtering, sortable tables, tabs — the one reference-surface
    * gap r8 left open). ZERO external assets and zero extra Spark jobs vs
    * `toHtml`: the same bounded section frames are collected once, embedded
    * as a JSON payload in a `<script type="application/json">` island, and
    * ~70 lines of inline vanilla JS render them with (a) a live
    * column-name filter that narrows every section, (b) click-to-sort on
    * any table header (numeric-aware), (c) per-column value-count bars.
    * A browserless consumer can read the same payload from the
    * `graft-data` island — the spec parses it back and checks it against
    * `summarize` output.
    */
  def toHtmlInteractive(df: DataFrame, orderBy: Seq[String],
                        title: String = "TableReport", topAssoc: Int = 20,
                        topK: Int = 10, nBins: Int = 10): String = {
    import graft.plans.Json
    val nCols = df.columns.length
    val statsDf = summarize(df).orderBy(col("column_name"))
    val statsCols = statsDf.columns.toSeq
    val payload = Json.obj(Seq(
      "title" -> Json.str(title),
      "n_columns" -> Json.num(nCols.toLong),
      "columns" -> Json.arr(df.columns.toSeq.map(Json.str)),
      "stats_columns" -> Json.arr(statsCols.map(Json.str)),
      "stats" -> rowsToJson(statsCols, statsDf.limit(nCols + 1).collect()),
      "sample" -> {
        val s = sampleSlices(df, orderBy)
        rowsToJson(s.columns.toSeq, s.limit(10).collect())
      },
      "value_counts" -> rowsToJson(
        Seq("column_name", "value", "value_count", "rank"),
        valueCounts(df, topK).orderBy(col("column_name"), col("rank"))
          .limit(nCols * topK).collect()),
      "histograms" -> rowsToJson(
        Seq("column_name", "bin", "bin_start", "bin_end", "bin_count"),
        numericHistograms(df, nBins).orderBy(col("column_name"), col("bin"))
          .limit(nCols * nBins).collect()),
      "associations" -> rowsToJson(
        Seq("left_column_name", "right_column_name", "cramer_v", "pearson"),
        topAssociations(df, topAssoc)
          .orderBy(col("cramer_v").desc, col("left_column_name"),
            col("right_column_name"))
          .limit(topAssoc).collect())))
    // </script> inside a JSON string would close the island early
    val safePayload = payload.replace("</", "<\\/")
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>
       |body{font:13px sans-serif;margin:16px}
       |table{border-collapse:collapse;margin:8px 0}
       |td,th{border:1px solid #999;padding:2px 6px;font:12px monospace}
       |th{cursor:pointer;background:#eee}
       |th.sorted-asc:after{content:" \\2191"}th.sorted-desc:after{content:" \\2193"}
       |#colfilter{font:13px monospace;padding:4px;width:24em;margin:8px 0}
       |.bar{background:#69c;height:10px;display:inline-block}
       |.barlbl{font:11px monospace}
       |h2{margin-top:20px}
       |</style></head><body>
       |<h1>${esc(title)}</h1>
       |<input id="colfilter" placeholder="filter columns (substring)"/>
       |<span id="colcount"></span>
       |<div id="report"></div>
       |<script id="graft-data" type="application/json">$safePayload</script>
       |<script>
       |var DATA=JSON.parse(document.getElementById('graft-data').textContent);
       |var sortState={};
       |function cell(v){return v===null?'<i>null</i>':String(v)
       |  .replace(/&/g,'&amp;').replace(/</g,'&lt;').replace(/>/g,'&gt;');}
       |function attr(v){return String(v).replace(/&/g,'&amp;')
       |  .replace(/"/g,'&quot;').replace(/</g,'&lt;').replace(/>/g,'&gt;');}
       |function table(id,cols,rows){
       |  var st=sortState[id];
       |  if(st){rows=rows.slice().sort(function(a,b){
       |    var x=a[st.c],y=b[st.c];
       |    if(x===null)return 1;if(y===null)return -1;
       |    if(typeof x==='number'&&typeof y==='number')return st.d*(x-y);
       |    return st.d*String(x).localeCompare(String(y));});}
       |  var h='<table id="'+id+'"><tr>'+cols.map(function(c){
       |    var cls=st&&st.c===c?(st.d>0?'sorted-asc':'sorted-desc'):'';
       |    // column names ride DATA attributes (entity-escaped), never a JS
       |    // string literal — a quote in a column name cannot break out
       |    return '<th class="'+cls+'" data-sid="'+attr(id)+'" data-c="'
       |      +attr(c)+'">'+cell(c)+'</th>';}).join('')+'</tr>';
       |  rows.forEach(function(r){h+='<tr>'+cols.map(function(c){
       |    return '<td>'+cell(r[c])+'</td>';}).join('')+'</tr>';});
       |  return h+'</table>';}
       |function sortBy(id,c){var st=sortState[id];
       |  sortState[id]=(st&&st.c===c)?{c:c,d:-st.d}:{c:c,d:1};render();}
       |function bars(rows,lbl,val){var mx=1;
       |  rows.forEach(function(r){if(r[val]>mx)mx=r[val];});
       |  return rows.map(function(r){
       |    return '<div><span class="bar" style="width:'+
       |      Math.round(160*r[val]/mx)+'px"></span> <span class="barlbl">'+
       |      cell(r[lbl])+' ('+r[val]+')</span></div>';}).join('');}
       |function render(){
       |  var q=document.getElementById('colfilter').value.toLowerCase();
       |  var keep=function(c){return c.toLowerCase().indexOf(q)>=0;};
       |  var stats=DATA.stats.filter(function(r){return keep(r.column_name);});
       |  var vc=DATA.value_counts.filter(function(r){return keep(r.column_name);});
       |  var hist=DATA.histograms.filter(function(r){return keep(r.column_name);});
       |  var assoc=DATA.associations.filter(function(r){
       |    return keep(r.left_column_name)||keep(r.right_column_name);});
       |  document.getElementById('colcount').textContent=
       |    stats.length+' / '+DATA.n_columns+' columns';
       |  var h='<h2>Sample</h2>'+table('t_sample',
       |    DATA.sample.length?Object.keys(DATA.sample[0]):[],DATA.sample);
       |  h+='<h2>Column statistics</h2>'+table('t_stats',DATA.stats_columns,stats);
       |  h+='<h2>Value counts</h2>';
       |  var byCol={};vc.forEach(function(r){
       |    (byCol[r.column_name]=byCol[r.column_name]||[]).push(r);});
       |  Object.keys(byCol).sort().forEach(function(c){
       |    h+='<h3>'+cell(c)+'</h3>'+bars(byCol[c],'value','value_count');});
       |  h+='<h2>Histograms</h2>';
       |  var byColH={};hist.forEach(function(r){
       |    (byColH[r.column_name]=byColH[r.column_name]||[]).push(r);});
       |  Object.keys(byColH).sort().forEach(function(c){
       |    h+='<h3>'+cell(c)+'</h3>'+bars(byColH[c],'bin','bin_count');});
       |  h+='<h2>Top associations</h2>'+table('t_assoc',
       |    ['left_column_name','right_column_name','cramer_v','pearson'],assoc);
       |  document.getElementById('report').innerHTML=h;}
       |document.getElementById('colfilter').addEventListener('input',render);
       |document.addEventListener('click',function(e){
       |  var t=e.target&&e.target.closest?e.target.closest('th[data-c]'):null;
       |  if(t)sortBy(t.getAttribute('data-sid'),t.getAttribute('data-c'));});
       |render();
       |</script></body></html>""".stripMargin
  }

  /** Render and write the interactive report to a file. */
  def writeHtmlInteractive(df: DataFrame, orderBy: Seq[String], path: String,
                           title: String = "TableReport"): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, toHtmlInteractive(df, orderBy, title))
  }
}
