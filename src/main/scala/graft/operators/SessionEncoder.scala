package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Stage

/** Sessionization (reference: skrub/_session_encoder.py:41-634).
  *
  * Batch form: one window pass per entity —
  *   `w = partitionBy(splitBy).orderBy(ts)`;
  *   boundary = first row of entity OR gap to previous row > gapSeconds;
  *   session index within entity = running count of boundaries - 1.
  *
  * Rows with a null timestamp or null split key get session -1 (reference
  * behavior). Output keeps every input column and appends `session_id`
  * (per-entity index) — at 100 TB a single global dense id would force a
  * total sort; the composite (splitBy, session_id) is the scalable identity,
  * exactly like the reference's per-entity cumsum before its global offset.
  * `globalSessionId` materializes the reference's global numbering when the
  * caller genuinely needs it, without a single-task global window: session
  * START rows (one per session, free from the window pass) are range-sorted
  * and densely numbered via monotonically_increasing_id + per-partition
  * prefix-sum offsets, then joined back.
  */
object SessionEncoder {

  def transform(df: DataFrame, splitBy: Seq[String], tsCol: String,
                gapSeconds: Double, out: String = "session_id"): DataFrame =
    transformWithBoundary(df, splitBy, tsCol, gapSeconds, out).drop("__start")

  /** transform + a `__start` flag marking the first row of each session —
    * session-start rows are exactly one row per session key, which lets
    * `globalSessionId` enumerate sessions without a distinct aggregation.
    */
  private def transformWithBoundary(df: DataFrame, splitBy: Seq[String],
                                    tsCol: String, gapSeconds: Double,
                                    out: String): DataFrame = {
    val ts = col(tsCol)
    val keyNull = splitBy.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false))
    val invalid = ts.isNull || keyNull
    val w = Window.partitionBy(splitBy.map(col): _*).orderBy(ts)
    // epoch in microseconds keeps integer arithmetic (oracle: epoch_us)
    val us = unix_micros(ts)
    val prev = lag(us, 1).over(w)
    val boundary = when(prev.isNull || (us - prev) > lit((gapSeconds * 1e6).toLong), 1L)
      .otherwise(0L)
    val cum = sum(when(invalid, 0L).otherwise(boundary))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df.withColumn("__start", when(invalid, 0L).otherwise(boundary))
      .withColumn(out, when(invalid, lit(-1L)).otherwise(cum - 1L))
  }

  /** Reference-style globally unique session ids, scale-safe AND
    * Dataset-native: equivalent to `dense_rank() over (order by splitBy,
    * localSession)` but no row ever passes through a single-task global
    * window.
    *
    * Fast path (entity count fits on the driver): per-ENTITY session counts
    * (reusing the window's exchange) -> driver prefix sum over the sorted
    * entity list -> ONE left broadcast join + pure projection. Fallback
    * (more entities than MaxDriverEntities): range-sort the session-start
    * keys and number them via monotonically_increasing_id + per-partition
    * prefix-sum offsets, then join back on the session key.
    */
  /** Entity lists up to this size take the driver prefix-sum fast path; a
    * `take(n + 1)` probe (TakeOrderedAndProject — never a full collect)
    * decides, and larger lists fall back to the distributed sort path.
    */
  val MaxDriverEntities = 2000000

  def globalSessionId(df: DataFrame, splitBy: Seq[String], tsCol: String,
                      gapSeconds: Double, out: String = "session_id",
                      maxDriverEntities: Int = MaxDriverEntities): DataFrame = {
    // NOT persisted on the fast path: the window recomputes once per action
    // (two actions), which measures cheaper than materializing the full
    // frame into the block store and reading it back
    val local0 = transformWithBoundary(df, splitBy, tsCol, gapSeconds,
        "__local_session")

    val keyNames = splitBy :+ "__local_session"
    // Global id = (prefix sum of session counts over entities ordered by
    // key) + local session index. The per-ENTITY count aggregate groups on
    // the window's own partition key, so it reuses the window exchange (no
    // new shuffle); entities are orders of magnitude fewer than sessions,
    // and Spark itself sorts them (TakeOrderedAndProject), so the driver
    // never imposes its own ordering semantics. The result is then ONE
    // left broadcast join of the windowed frame against a slim row per
    // entity plus a pure projection — no union, no join on session keys.
    val starts = local0.filter(col("__start") === 1L)
      .groupBy(splitBy.map(col): _*).agg(count(lit(1)).as("__n"))
      .orderBy(splitBy.map(col): _*)
    val head = starts.take(math.max(0, maxDriverEntities) + 1)
    if (head.length <= maxDriverEntities) {
      val local = local0
      var acc = 0L
      val rows = head.map { r =>
        val o = acc; acc += r.getAs[Long]("__n")
        org.apache.spark.sql.Row.fromSeq(r.toSeq.init :+ o)
      }.toSeq
      val schema = org.apache.spark.sql.types.StructType(
        splitBy.map(c => local.schema(c)) :+
          org.apache.spark.sql.types.StructField("__offset", LongType, nullable = false))
      // local collection -> LocalRelation: size-known, so the planner
      // broadcasts it without an AQE runtime re-plan
      val offsets = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
      // null-keyed / null-ts rows miss the join (or any entity absent from
      // offsets) and take the -1 branch
      local.join(offsets, splitBy, "left")
        .withColumn(out,
          when(col("__local_session") === -1L, lit(-1L))
            .otherwise(col("__offset") + col("__local_session")))
        .select(df.columns.map(col).toSeq :+ col(out): _*)
    } else {
      // The fallback's three consumers would each recompute the window over
      // a frame too large to rescan casually, so it is stored once, PINNED
      // (lineage cut): (a) its blocks are freed by the ContextCleaner when
      // the caller drops the result, with no CacheManager entry to leak;
      // (b) the numbering below assigns positions under ONE concrete
      // partitioning, and a lineage recompute after block loss could
      // silently shift them — truncated lineage fails loudly instead (same
      // contract as Kernel.withGlobalRowNumber).
      val local = Stage.pinned(local0, "SessionEncoder.globalSessionId")
      val valid = local.filter(col("__local_session") =!= -1L).drop("__start")
      val invalid = local.filter(col("__local_session") === -1L).drop("__start")
        .withColumn(out, lit(-1L))
      // distributed fallback: range-sort the session-start keys and number
      // them with monotonically_increasing_id ((partitionId << 33) | row
      // index on the sorted pinned frame — a pure projection) plus driver
      // prefix sums of the per-partition counts.
      val keyCols = keyNames.map(col)
      val parts = Stage.pinned(local.filter(col("__start") === 1L).select(keyCols: _*)
        .orderBy(keyCols: _*)
        .withColumn("__mid", monotonically_increasing_id())
        .withColumn("__pid", shiftright(col("__mid"), 33).cast(IntegerType))
        .withColumn("__rid", col("__mid").bitwiseAND(lit((1L << 33) - 1))),
        "SessionEncoder.globalSessionId") // pinned positions (see above)
      val counts = parts.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getAs[Int]("__pid") -> r.getAs[Long]("__n")).toMap
      val offsets: Map[Int, Long] = {
        var acc = 0L
        counts.keys.toSeq.sorted.map { p =>
          val o = acc; acc += counts(p); p -> o
        }.toMap
      }
      val numbered = parts
        .withColumn(out, col("__rid") + element_at(typedLit(offsets), col("__pid")))
        .drop("__mid", "__pid", "__rid")
      valid.join(numbered, keyNames)
        .unionByName(invalid)
        .drop("__local_session")
    }
  }
}
