package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Kernel
import graft.operators.Joins
import graft.encoders.TableVectorizer
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory of SURVEY.md §2 re-expressed as
  * runnable Spark jobs; `oracleSql` holds the DuckDB-equivalent SQL for the
  * driver's hash-compare correctness gate. Query/oracle pairs live next to
  * their operators in graft.queries.*.
  */
object SparkEntry {

  /** Flagship pipeline on sf0.001 (driver smoke-checks rows > 0):
    * TableVectorizer featurization of orders enriched with an AggJoiner
    * rollup of lineitem — the reference's minimum end-to-end slice
    * (SURVEY.md §7.2) in one plan.
    */
  def entry(spark: SparkSession): DataFrame = {
    Kernel.configure(spark)
    val dir = "/root/testdata/sf0.001"
    val orders = Kernel.table(spark, dir, "orders")
    val li = Kernel.table(spark, dir, "lineitem")
    val enriched = Joins.aggJoinPerCol(orders, li, Seq("o_orderkey"), Seq("l_orderkey"),
      Seq("l_quantity" -> Seq("count", "sum", "mean"),
        "l_extendedprice" -> Seq("min", "max"),
        "l_returnflag" -> Seq("mode")))
    TableVectorizer.fitTransform(enriched)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ SessionQueries.queries ++ DedupQueries.queries ++
      TextQueries.queries ++ EncoderQueries.queries ++
      FuzzyJoinQueries.queries ++ CleanerQueries.queries ++ KernelQueries.queries ++
      StreamingQueries.queries ++ ProofQueries.queries ++ LmQueries.queries ++
      TokenizerQueries.queries ++ RetrievalQueries.queries

  /** The rows of `queries` named by `value`, a comma-separated list read
    * from setting `key` (every row when unset), sorted by name. A list
    * that names no row, or names one `queries` lacks, throws an
    * `IllegalArgumentException` naming `key` and the unknown names.
    */
  private[graft] def selected(key: String, value: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val rows = value.fold(all) { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(all.contains).toSeq.sorted
      if (names.isEmpty || unknown.nonEmpty) throw new IllegalArgumentException(
        s"$key must name registered queries, got '$v'" +
          (if (unknown.isEmpty) "" else s"; unknown: ${unknown.mkString(", ")}"))
      all.filter { case (n, _) => names(n) }
    }
    rows.toSeq.sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get the weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ SessionQueries.oracle ++ DedupQueries.oracle ++
      TextQueries.oracle ++ EncoderQueries.oracle ++
      FuzzyJoinQueries.oracle ++ CleanerQueries.oracle ++ KernelQueries.oracle ++
      StreamingQueries.oracle ++ ProofQueries.oracle ++ LmQueries.oracle ++
      TokenizerQueries.oracle ++ RetrievalQueries.oracle
}
