package graftbench

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.encoders.{StringEncoder, TableVectorizer, TargetEncoder}
import graft.operators.{Cleaner, ColumnAssociations, TableReport}
import graft.plans._

/** `tabular_learn`: skrub's core use, run by the traced run of the
  * `index_serve` workload after its request sequence. A DataOps plan joins lineitem
  * aggregates and customer attributes onto orders, cleans, target-encodes a
  * clerk column, SVD-encodes the free-text comment, vectorizes (the
  * all-distinct customer name takes the minhash route) and fits a small
  * GBT. The pass fits, predicts the held-out orders and inspects the
  * joined training frame.
  *
  * The stateful stages are `PersistentEstimator` adapters over the engine's
  * own model fit/save/load (`Stages.cleaner` and `Stages.tableVectorizer`
  * return transformers that cannot be saved), so `Learner.save` and
  * `Plan.loadLearner` round-trip the fitted learner.
  */
object TabularLearn {
  private val Key = "o_orderkey"
  private val Target = "y"

  /** A persistent stage: `save` writes the fitted model into a fresh
    * directory whose path is the stage's saved data.
    */
  private def persistent[M](ctx: Ctx, layer: String)(fitFn: DataFrame => M)(
      apply: (M, DataFrame) => DataFrame)(save: (M, String) => Unit)(
      load: String => M): PersistentEstimator = new PersistentEstimator {
    private def wrap(m: M): PersistentTransformer = new PersistentTransformer {
      def transform(d: DataFrame): DataFrame = ctx.rec.span(layer)(apply(m, d))
      def saveData: String = {
        val dir = ctx.freshDir("model-")
        save(m, dir)
        dir
      }
    }
    def fit(df: DataFrame): Transformer = wrap(ctx.rec.span(layer)(fitFn(df)))
    def loadTransformer(data: String): Transformer = wrap(load(data))
  }

  final class Pipeline(ctx: Ctx) {
    val rec: Recorder = ctx.rec
    /** The vectorizer stage's last fit input and output, for the one-shot
      * equality check.
      */
    var vecFitIn: DataFrame = _
    var vecModel: TableVectorizer.Model = _

    def joins(orders: Plan, lineitem: Plan, customer: Plan): Plan = {
      val withLines = Merge(Seq(orders, lineitem), dfs => rec.span("operators.joins")(
        Stages.aggJoin(Seq(Key), Seq("l_orderkey"),
          Seq("l_quantity", "l_extendedprice"), Seq("mean", "sum"))(dfs)))
      Merge(Seq(withLines, customer), dfs => rec.span("operators.joins")(
        Stages.aggJoin(Seq("o_custkey"), Seq("c_custkey"),
          Seq("c_name", "c_mktsegment", "c_acctbal"),
          Seq("min"))(dfs)))
    }

    val cleaner: PersistentEstimator = persistent(ctx, "operators.cleaner")(
      df => Cleaner.fit(df))((m, d) => m.transform(d))(Cleaner.save)(Cleaner.load)

    val targetEnc: PersistentEstimator = persistent(ctx, "encoders")(
      df => TargetEncoder.fit(df, "o_clerk", Target))(
      (m, d) => m.transform(d).drop("o_clerk"))(
      (m, dir) => TargetEncoder.save(m, s"$dir/te.json"))(
      dir => TargetEncoder.load(s"$dir/te.json"))

    val vectorizer: PersistentEstimator = persistent(ctx, "encoders")({ df =>
      vecFitIn = df
      vecModel = TableVectorizer.fit(df.drop(Target))
      vecModel
    })((m, d) => m.transform(d, passthrough = Seq(Target)))(
      TableVectorizer.save)(TableVectorizer.load)

    val gbt: PersistentEstimator = persistent(ctx, "sparkml")({ df =>
      val feats = df.columns.filterNot(Set(Key, Target)).sorted
      // iterative learners re-read their input once per tree level:
      // materialize the assembled training frame once, as a user would
      val assembled = new VectorAssembler().setInputCols(feats)
        .setOutputCol("features").setHandleInvalid("keep").transform(df)
        .select(col(Target), col("features")).persist()
      try (feats.toSeq, new GBTRegressor().setLabelCol(Target)
        .setFeaturesCol("features").setMaxIter(2).setMaxDepth(2)
        .setSeed(7L).fit(assembled))
      finally assembled.unpersist(blocking = false)
    }) { case ((feats, model), d) =>
      model.transform(new VectorAssembler().setInputCols(feats.toArray)
          .setOutputCol("features").setHandleInvalid("keep").transform(d))
        .select(col(Key), col("prediction"))
    } { case ((feats, model), dir) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "features.txt"),
        feats.mkString("\n"))
      model.write.overwrite().save(s"$dir/gbt")
    } { dir =>
      (java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "features.txt"))
        .split("\n").toSeq, GBTRegressionModel.load(s"$dir/gbt"))
    }

    val joined: Plan = joins(Var("orders"), Var("lineitem"), Var("customer"))
    val encoded: Plan = joined
      .apply(cleaner)
      .apply(targetEnc)
      .transform(d => rec.span("encoders")(
        StringEncoder.encode(d, "o_comment", nComponents = 4).drop("o_comment")))
      .apply(vectorizer)
    val plan: Plan = encoded.apply(gbt)
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  def prepare(ctx: Ctx, dir: String): Part = new Part {
    val spark = ctx.spark
    val rec = ctx.rec
    def load(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    val train = Map("orders" -> load("orders_train"), "lineitem" -> load("lineitem"),
      "customer" -> load("customer"))
    val test = train + ("orders" -> load("orders_test"))
    val trainRows = train("orders").count()
    val testRows = test("orders").count()
    val p = new Pipeline(ctx)
    var learner: Learner = null
    var predictions: Seq[Row] = Nil

    def pass(): Unit = {
      rec.op("fit", trainRows) {
        learner = rec.span("plans")(Plan.makeLearner(p.plan).fit(train))
      }
      rec.op("predict", testRows) {
        predictions = rec.span("plans")(rowsOf(learner.transform(test)))
      }
      rec.op("inspect", trainRows) {
        val joined = Plan.makeLearner(p.joined).fitTransform(train)
        rec.span("operators.report") {
          TableReport.summarize(joined).collect()
          ColumnAssociations.allPairs(joined).collect()
        }
      }
    }

    def checks(): Unit = {
      ctx.checking("predictions_cover_test_rows") {
        (predictions.length == testRows && predictions.forall(!_.isNullAt(1)),
          s"${predictions.length} predictions for $testRows held-out rows")
      }
      ctx.checking("save_load_same_predictions") {
        val dir = ctx.freshDir("learner-")
        learner.save(dir)
        val reloaded = rowsOf(Plan.loadLearner(p.plan, dir).transform(test))
        def keyed(rs: Seq[Row]) =
          rs.map(r => r.getAs[Number](0).longValue -> r.getDouble(1)).sortBy(_._1)
        val (a, b) = (keyed(predictions), keyed(reloaded))
        (a == b, s"${a.length} rows, ${a.zip(b).count(x => x._1 != x._2)} differ")
      }
      ctx.checking("encoded_equals_one_shot_vectorizer") {
        // the fitted vectorizer stage, applied as the plan applies it, against
        // a one-shot fitTransform of the frame that stage was fitted on
        val in = p.vecFitIn.drop(Target).persist()
        val staged = p.vecModel.transform(in)
        val oneShot = TableVectorizer.fitTransform(in)
        val sameCols = staged.columns.toSeq == oneShot.columns.toSeq
        val diff = if (!sameCols) -1L
          else staged.exceptAll(oneShot).count() + oneShot.exceptAll(staged).count()
        in.unpersist(blocking = false)
        (sameCols && diff == 0, s"${staged.columns.length} columns, $diff differing rows")
      }
    }
  }
}
