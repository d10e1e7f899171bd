package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Stage

/** Hyperparameter choices + search/CV over plans (reference
  * skrub/_data_ops/_choosing.py:332-883, _estimator.py:1032-1423).
  *
  * A `Choice` is a named hyperparameter with an ordered outcome list; plans
  * consume choices through `Choosing.planFor(params)` factories, and the
  * search drivers expand the cross-product grid (reference
  * `describe_param_grid` / ParamSearch) or sample it, fitting one learner
  * per combination. Default (no tuning) = first outcome, like the
  * reference. CV splits use deterministic row hashing (xxhash64 % k), so
  * folds are reproducible under any partitioning; fit/score per fold
  * mirrors `cross_validate`'s refit-per-fold contract.
  */
final case class Choice[A](name: String, outcomes: Seq[A],
                           defaultIndex: Int = 0) {
  require(outcomes.nonEmpty, s"choice '$name' has no outcomes")
  require(defaultIndex >= 0 && defaultIndex < outcomes.length,
    s"choice '$name': defaultIndex $defaultIndex out of range")
  def default: A = outcomes(defaultIndex)
}

/** A CONTINUOUS numeric hyperparameter range (reference `choose_float` /
  * `choose_int` with `n_steps=None`, _choosing.py:707-757 NumericChoice):
  * draws are uniform over [low, high] — on a log scale when `log` — and
  * the no-tuning default is the (log-)midpoint of the range. `toInt`
  * truncates draws (sampling over [low, high+1) so `high` stays reachable)
  * and rounds the default, exactly like the reference.
  */
final case class NumericRange(name: String, low: Double, high: Double,
                              log: Boolean = false, toInt: Boolean = false,
                              defaultOverride: Option[Double] = None) {
  require(low <= high, s"range '$name': low > high")
  require(!log || low > 0, s"range '$name': log scale needs low > 0")

  def default: Double = defaultOverride.getOrElse {
    val mid =
      if (log) math.exp((math.log(low) + math.log(high)) / 2)
      else (low + high) / 2
    if (toInt) math.round(mid).toDouble else mid
  }

  /** One draw (reference `rvs`): uniform / loguniform over the range, with
    * the +1-1e-6 offset for integer ranges so truncation keeps `high`
    * inside the support.
    */
  def draw(rng: scala.util.Random): Double = {
    val offset = if (toInt) 1 - 1e-6 else 0.0
    val v =
      if (log) {
        val (l, h) = (math.log(low), math.log(high + offset))
        math.exp(l + rng.nextDouble() * (h - l))
      } else low + rng.nextDouble() * (high - low + offset)
    if (toInt) v.toLong.toDouble else v
  }
}

object Choices {

  def chooseFrom[A](name: String, outcomes: Seq[A]): Choice[A] =
    Choice(name, outcomes)

  def chooseBool(name: String, default: Boolean = true): Choice[Boolean] =
    Choice(name, Seq(default, !default))

  /** `nSteps` evenly spaced values over [low, high] (log-spaced if `log`) —
    * reference choose_float with n_steps (DiscretizedNumericChoice,
    * _choosing.py:759-797): the grid is linspace in (log-)space and the
    * no-tuning default is the MIDDLE grid element, `grid[(len-1)/2]`.
    * For a continuous (non-discretized) range use `chooseFloatRange`.
    */
  def chooseFloat(name: String, low: Double, high: Double, nSteps: Int,
                  log: Boolean = false): Choice[Double] = {
    require(nSteps >= 2, "nSteps >= 2")
    val vals =
      if (log) {
        val (l, h) = (math.log(low), math.log(high))
        (0 until nSteps).map(i => math.exp(l + (h - l) * i / (nSteps - 1)))
      } else (0 until nSteps).map(i => low + (high - low) * i / (nSteps - 1))
    Choice(name, vals, (vals.length - 1) / 2)
  }

  def chooseInt(name: String, low: Int, high: Int, nSteps: Int,
                log: Boolean = false): Choice[Int] = {
    val vals = chooseFloat(name, low.toDouble, high.toDouble, nSteps, log)
      .outcomes.map(math.round(_).toInt).distinct
    Choice(name, vals, (vals.length - 1) / 2)
  }

  /** A choice between `Some(value)` and `None` (reference `optional`,
    * _choosing.py:460: equivalent to choose_from([value, None]) — an
    * optional pipeline component such as a dimensionality-reduction step).
    * Default outcome is the value; pass `defaultNone = true` to flip.
    */
  def optional[A](name: String, value: A,
                  defaultNone: Boolean = false): Choice[Option[A]] =
    Choice(name, Seq(Some(value), None), if (defaultNone) 1 else 0)

  /** Continuous float range (reference choose_float, n_steps=None). */
  def chooseFloatRange(name: String, low: Double, high: Double,
                       log: Boolean = false,
                       default: Option[Double] = None): NumericRange =
    NumericRange(name, low, high, log = log, toInt = false,
      defaultOverride = default)

  /** Continuous int range (reference choose_int, n_steps=None). */
  def chooseIntRange(name: String, low: Int, high: Int, log: Boolean = false,
                     default: Option[Int] = None): NumericRange =
    NumericRange(name, low.toDouble, high.toDouble, log = log, toInt = true,
      defaultOverride = default.map(_.toDouble))

  /** `n` independent parameter draws over discrete choices + continuous
    * ranges (reference RandomizedSearchCV sampling: each parameter sampled
    * independently per candidate). Deterministic under `seed`; discrete
    * choices draw uniformly from their outcome list, ranges draw via
    * `NumericRange.draw` (int ranges land as Long in the map).
    */
  def randomDraws(choices: Seq[Choice[_]], ranges: Seq[NumericRange], n: Int,
                  seed: Long = 0L): Seq[Map[String, Any]] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val disc = choices.map(c =>
        c.name -> c.outcomes(rng.nextInt(c.outcomes.length)))
      val cont = ranges.map { r =>
        val v = r.draw(rng)
        // ascribe Any: a bare if would numerically WIDEN the Long branch to
        // Double and int draws would box as java.lang.Double downstream
        val boxed: Any = if (r.toInt) v.toLong else v
        r.name -> boxed
      }
      (disc ++ cont).toMap
    }
  }

  /** Full cross-product grid over the given choices, as parameter maps. */
  def grid(choices: Seq[Choice[_]]): Seq[Map[String, Any]] =
    choices.foldLeft(Seq(Map.empty[String, Any])) { (acc, c) =>
      for (m <- acc; v <- c.outcomes) yield m + (c.name -> v)
    }

  /** Deterministic subsample of the grid (md5-ordered — reproducible
    * randomized search).
    */
  def sampledGrid(choices: Seq[Choice[_]], n: Int): Seq[Map[String, Any]] = {
    val full = grid(choices)
    full.sortBy(m => graft.functions.NgramVec.md5Hex(m.toSeq.sortBy(_._1)
      .mkString("|"))).take(n)
  }

  /** Human-readable description of the search space (reference
    * `.skb.describe_param_grid`, _skrub_namespace.py:1568): one line per
    * choice, `name: [outcomes]`, plus the total combination count.
    */
  def describeParamGrid(choices: Seq[Choice[_]]): String = {
    val lines = choices.map { c =>
      val vals = c.outcomes.map {
        case d: Double => f"$d%.4g"
        case v         => v.toString
      }
      s"- ${c.name}: [${vals.mkString(", ")}]"
    }
    val total = choices.map(_.outcomes.length.toLong).product
    (lines :+ s"total combinations: $total").mkString("\n")
  }

  final case class SearchResult(params: Map[String, Any], score: Double,
                                learner: Learner)

  /** Grid search: fit one learner per parameter combination on `fitEnv`,
    * score on `valEnv`, best (highest score) first.
    */
  def gridSearch(choices: Seq[Choice[_]],
                 planFor: Map[String, Any] => Plan,
                 fitEnv: Map[String, DataFrame],
                 valEnv: Map[String, DataFrame],
                 score: DataFrame => Double,
                 maxCombinations: Int = Int.MaxValue): Seq[SearchResult] =
    searchParams(grid(choices).take(maxCombinations), planFor, fitEnv,
      valEnv, score)

  /** Randomized search over discrete choices AND continuous numeric ranges
    * (reference randomized search over NumericChoice distributions): `n`
    * independent seeded draws, one full fit + score each, best first.
    */
  def randomizedSearch(choices: Seq[Choice[_]], ranges: Seq[NumericRange],
                       planFor: Map[String, Any] => Plan,
                       fitEnv: Map[String, DataFrame],
                       valEnv: Map[String, DataFrame],
                       score: DataFrame => Double,
                       n: Int, seed: Long = 0L): Seq[SearchResult] =
    searchParams(randomDraws(choices, ranges, n, seed), planFor, fitEnv,
      valEnv, score)

  /** Adaptive search — the reference's Optuna driver gap
    * (skrub/_data_ops/_optuna.py delegates to Optuna's TPE sampler, a
    * third-party dependency this environment cannot ship). This is an
    * in-house deterministic TPE (tree-structured Parzen estimator,
    * Bergstra et al. 2011, published algorithm): after `nStartup` seeded
    * random trials, each new trial splits history into the top `gamma`
    * fraction (good) and the rest, draws `nCandidates` parameter sets from
    * a kernel around good values, and keeps the candidate maximizing the
    * good/bad density ratio l(x)/g(x). Numeric kernels are Gaussian in
    * (log-)space with bandwidth = span/sqrt(|good|); discrete choices draw
    * from +1-smoothed good counts. One full fit + score per trial; results
    * best-first.
    */
  def adaptiveSearch(choices: Seq[Choice[_]], ranges: Seq[NumericRange],
                     planFor: Map[String, Any] => Plan,
                     fitEnv: Map[String, DataFrame],
                     valEnv: Map[String, DataFrame],
                     score: DataFrame => Double,
                     nTrials: Int, nStartup: Int = 5,
                     nCandidates: Int = 24, gamma: Double = 0.25,
                     seed: Long = 0L): Seq[SearchResult] = {
    require(nTrials >= 1 && nStartup >= 1, "nTrials/nStartup >= 1")
    val rng = new scala.util.Random(seed)
    val history = scala.collection.mutable.ArrayBuffer[SearchResult]()
    def evalOne(params: Map[String, Any]): Unit = {
      val learner = Plan.makeLearner(planFor(params))
      learner.fit(fitEnv)
      history += SearchResult(params, score(learner.transform(valEnv)), learner)
    }
    def drawOne(): Map[String, Any] = {
      val disc = choices.map(c =>
        c.name -> c.outcomes(rng.nextInt(c.outcomes.length)))
      val cont = ranges.map { r =>
        val v = r.draw(rng)
        val boxed: Any = if (r.toInt) v.toLong else v
        r.name -> boxed
      }
      (disc ++ cont).toMap
    }
    (0 until math.min(nStartup, nTrials)).foreach(_ => evalOne(drawOne()))
    while (history.length < nTrials) {
      val ranked = history.sortBy(-_.score)
      val nGood = math.max(1, math.ceil(gamma * ranked.length).toInt)
      val (good, bad) = (ranked.take(nGood), ranked.drop(nGood))
      def numOf(a: Any): Double = a match {
        case d: Double => d; case l: Long => l.toDouble; case i: Int => i.toDouble
        case other => throw new IllegalStateException(s"non-numeric $other")
      }
      // Parzen density of x under the trial set's values for range r
      def density(x: Double, vals: scala.collection.Seq[Double],
                  r: NumericRange): Double = {
        if (vals.isEmpty) return 1.0
        def t(v: Double) = if (r.log) math.log(v) else v
        val span = math.max(t(r.high) - t(r.low), 1e-12)
        val bw = math.max(span / math.sqrt(vals.length.toDouble), 1e-12)
        vals.map { v =>
          val z = (t(x) - t(v)) / bw
          math.exp(-0.5 * z * z)
        }.sum / vals.length
      }
      val candidates = (0 until nCandidates).map { _ =>
        val disc = choices.map { c =>
          // +1-smoothed counts over GOOD trials
          val counts = c.outcomes.map(o =>
            1.0 + good.count(_.params(c.name) == o))
          val total = counts.sum
          var pick = rng.nextDouble() * total
          var idx = 0
          while (idx < counts.length - 1 && pick >= counts(idx)) {
            pick -= counts(idx); idx += 1
          }
          c.name -> c.outcomes(idx)
        }
        val cont = ranges.map { r =>
          val goodVals = good.map(g => numOf(g.params(r.name)))
          // kernel draw around a random good value (startup fallback: prior)
          val v0 =
            if (goodVals.isEmpty) r.draw(rng)
            else {
              val center = goodVals(rng.nextInt(goodVals.length))
              def t(v: Double) = if (r.log) math.log(v) else v
              def back(v: Double) = if (r.log) math.exp(v) else v
              val span = math.max(t(r.high) - t(r.low), 1e-12)
              val bw = span / math.sqrt(goodVals.length.toDouble)
              val raw = back(t(center) + rng.nextGaussian() * bw)
              math.min(r.high, math.max(r.low, raw))
            }
          val v = if (r.toInt) v0.toLong.toDouble else v0
          val boxed: Any = if (r.toInt) v.toLong else v
          r.name -> boxed
        }
        (disc ++ cont).toMap
      }
      // keep the candidate maximizing the good/bad density ratio (TPE's
      // expected-improvement surrogate); discrete parts use smoothed count
      // ratios on the same principle
      def ratio(params: Map[String, Any]): Double = {
        val contR = ranges.map { r =>
          val x = numOf(params(r.name))
          val l = density(x, good.map(g => numOf(g.params(r.name))), r)
          val g = density(x, bad.map(b => numOf(b.params(r.name))), r)
          l / math.max(g, 1e-12)
        }
        val discR = choices.map { c =>
          val v = params(c.name)
          val l = (1.0 + good.count(_.params(c.name) == v)) /
            (c.outcomes.length + good.length).toDouble
          val g = (1.0 + bad.count(_.params(c.name) == v)) /
            (c.outcomes.length + bad.length).toDouble
          l / g
        }
        (contR ++ discR).product
      }
      evalOne(candidates.maxBy(ratio))
    }
    history.sortBy(-_.score).toSeq
  }

  /** Fit + score one learner per parameter map, best (highest score) first —
    * the shared engine behind grid / randomized search.
    */
  def searchParams(paramSets: Seq[Map[String, Any]],
                   planFor: Map[String, Any] => Plan,
                   fitEnv: Map[String, DataFrame],
                   valEnv: Map[String, DataFrame],
                   score: DataFrame => Double): Seq[SearchResult] =
    paramSets.map { params =>
      val learner = Plan.makeLearner(planFor(params))
      learner.fit(fitEnv)
      SearchResult(params, score(learner.transform(valEnv)), learner)
    }.sortBy(-_.score)

  /** Deterministic k-fold assignment column (xxhash64 of all columns mod k —
    * stable under repartitioning; reference folds are row-position based,
    * which Spark cannot reproduce, SURVEY §1.2 row-identity contract).
    */
  def foldOf(df: DataFrame, k: Int, seed: Long = 42L) =
    pmod(xxhash64(df.columns.map(col) :+ lit(seed): _*), lit(k))

  /** Adaptive search by successive halving (the reference delegates
    * adaptive search to optuna, _data_ops/_optuna.py — a third-party
    * sampler this environment cannot ship; halving is the deterministic,
    * cluster-friendly equivalent): round r fits every surviving candidate
    * on a deterministic md5-bucket FRACTION of the fit table (a pure
    * pushed-down filter — no shuffle, no sample job, same rows every run),
    * keeps the best 1/factor, and multiplies the fraction by factor until
    * one candidate remains or the fraction reaches 1. Cheap configs die on
    * cheap data; only finalists pay a full fit.
    */
  def halvingSearch(choices: Seq[Choice[_]],
                    planFor: Map[String, Any] => Plan,
                    fitEnv: Map[String, DataFrame],
                    valEnv: Map[String, DataFrame],
                    score: DataFrame => Double,
                    xVar: String,
                    splitKeys: Seq[String],
                    nCandidates: Int = 8,
                    factor: Int = 2,
                    minFraction: Double = 0.125,
                    seed: Long = 0L): Seq[SearchResult] = {
    require(factor >= 2, "factor >= 2")
    val x = fitEnv(xVar)
    var survivors = sampledGrid(choices, nCandidates)
    var fraction = minFraction
    var ranked = Seq.empty[SearchResult]
    while (survivors.length > 1 && fraction < 1.0) {
      val cut = (fraction * 1000).toInt
      val frame = x.filter(Splits.bucket(splitKeys, seed) < cut)
      ranked = survivors.map { params =>
        val learner = Plan.makeLearner(planFor(params))
        learner.fit(fitEnv + (xVar -> frame))
        SearchResult(params, score(learner.transform(valEnv)), learner)
      }.sortBy(-_.score)
      survivors = ranked.take(math.max(1, survivors.length / factor)).map(_.params)
      fraction = math.min(1.0, fraction * factor)
    }
    // final round: full-data fit of the survivors
    survivors.map { params =>
      val learner = Plan.makeLearner(planFor(params))
      learner.fit(fitEnv)
      SearchResult(params, score(learner.transform(valEnv)), learner)
    }.sortBy(-_.score)
  }

  final case class CvResult(params: Map[String, Any], foldScores: Seq[Double]) {
    def meanScore: Double = foldScores.sum / foldScores.length
  }

  /** k-fold cross-validation of one parameter combination: for each fold,
    * refit the whole plan on the other k-1 folds of the X table and score
    * on the held-out fold (reference cross_validate's refit-per-fold).
    * `xVar` names the environment entry to split.
    */
  def crossValidate(params: Map[String, Any],
                    planFor: Map[String, Any] => Plan,
                    env: Map[String, DataFrame], xVar: String, k: Int,
                    score: DataFrame => Double, seed: Long = 42L): CvResult = {
    val scores = Stage.scoped(env(xVar)) { x =>
      val fold = foldOf(x, k, seed)
      (0 until k).map { i =>
        val learner = Plan.makeLearner(planFor(params))
        learner.fit(env + (xVar -> x.filter(fold =!= i)))
        score(learner.transform(env + (xVar -> x.filter(fold === i))))
      }
    }
    CvResult(params, scores)
  }
}
