package graft.plans

import org.apache.spark.sql.DataFrame
import graft.ops.Stage

/** DataOps core (reference skrub/_data_ops/, SURVEY §2.10): lazy,
  * environment-bound, REFITTABLE multi-table computation plans.
  *
  * The reference's relational node types (GetItem/BinOp/CallMethod) are
  * Catalyst's job — a graft Plan node holds whole-DataFrame steps and the
  * things Catalyst cannot know about:
  *
  *  - `Var`: a named input bound from the environment at evaluation time
  *    (reference Var, _data_ops.py:955);
  *  - `Transform`: a stateless DataFrame function (reference `deferred` /
  *    `.skb.apply_func`);
  *  - `Apply`: a STATEFUL estimator stage — fit mode runs `fit` and records
  *    the fitted transformer, transform mode replays it frozen (reference
  *    Apply / FreezeAfterFit semantics, _data_ops.py:1409,1358);
  *  - `Merge`: an n-ary combinator (joins, concats) over upstream plans.
  *
  * Evaluation memoizes per node (the reference's per-node result cache,
  * _evaluation.py:319-330) and stages any node consumed by more than one
  * parent while fitting (the persist-at-fanout rule of SURVEY §4, through
  * `Stage.scope`) — a node shared by two
  * branches computes once per evaluation, not once per consumer.
  */
sealed trait Plan {
  def transform(fn: DataFrame => DataFrame): Plan = Transform(this, fn)
  def apply(est: Estimator): Plan = Apply(this, est)
  def subsample(n: Int, how: String = "head"): Plan = Subsample(this, n, how)
  def named(name: String, description: String = null): Plan =
    Named(this, name, Option(description))
}

final case class Var(name: String) extends Plan
final case class Value(df: DataFrame) extends Plan
final case class Transform(input: Plan, fn: DataFrame => DataFrame) extends Plan
final case class Apply(input: Plan, estimator: Estimator) extends Plan
final case class Merge(inputs: Seq[Plan],
                       fn: Seq[DataFrame] => DataFrame) extends Plan

/** Control node (reference IfElse, _data_ops.py:1319): evaluate `cond`,
  * reduce it to a driver boolean with `pred`, then evaluate ONLY the taken
  * branch — the untaken branch never triggers a Spark job.
  */
final case class IfElse(cond: Plan, pred: DataFrame => Boolean,
                        ifTrue: Plan, ifFalse: Plan) extends Plan

/** Control node (reference Match, _data_ops.py:1338): evaluate `key`, reduce
  * to a driver string with `keyFn`, route to the matching case (or
  * `default`). Only the chosen case evaluates.
  */
final case class MatchOn(key: Plan, keyFn: DataFrame => String,
                         cases: Map[String, Plan], default: Plan) extends Plan

/** Label node (reference `.skb.set_name` / `.skb.set_description`,
  * _skrub_namespace.py:3204,3281): a pass-through that names a plan position
  * for introspection (`describeSteps`, `drawGraph`, `findNode`). Evaluation
  * ignores it.
  */
final case class Named(input: Plan, name: String,
                       description: Option[String] = None) extends Plan

/** Design-matrix marker (reference `.skb.mark_as_X()`,
  * _skrub_namespace.py:2823): a pass-through node naming the plan position
  * that train/test and CV splitting operate on.
  */
final case class MarkX(input: Plan) extends Plan

/** Target marker (reference `.skb.mark_as_y()`, _skrub_namespace.py:2995). */
final case class MarkY(input: Plan) extends Plan

/** Preview-subsampling marker (reference `.skb.subsample` +
  * should_subsample, _data_ops/_subsampling.py:14-60): active only when the
  * evaluation requests subsampling (preview, or fit with subsample=true) —
  * transform NEVER subsamples, matching the reference's mode gate.
  *
  *  - `how = "head"`: `limit(n)` — zero-shuffle, the reference default;
  *  - `how = "random"`: deterministic md5 order + limit — plans as
  *    TakeOrderedAndProject (per-partition top-n, no full sort), and the
  *    md5 key makes the same rows win on every engine and every run.
  */
final case class Subsample(input: Plan, n: Int, how: String = "head") extends Plan {
  require(how == "head" || how == "random", s"how must be head|random, got $how")
}

/** A stateful pipeline stage: `fit` learns from the fit-time frame and
  * returns the frozen transformer replayed at transform time.
  */
trait Estimator {
  def fit(df: DataFrame): Transformer
}

trait Transformer {
  def transform(df: DataFrame): DataFrame
}

/** A transformer whose fitted state serializes to a string (the learner
  * persistence contract — reference learners pickle,
  * skrub/_data_ops/_estimator.py:182; ours is explicit and code-stable).
  */
trait PersistentTransformer extends Transformer {
  def saveData: String
}

/** An estimator that can rebuild its fitted transformer from `saveData`. */
trait PersistentEstimator extends Estimator {
  def loadTransformer(data: String): Transformer
}

object Plan {

  private def parentCounts(root: Plan): Map[Plan, Int] = {
    val counts = scala.collection.mutable.Map[Plan, Int]().withDefaultValue(0)
    def walk(p: Plan): Unit = {
      counts(p) += 1
      if (counts(p) == 1) p match {
        case Transform(in, _) => walk(in)
        case Apply(in, _)     => walk(in)
        case Merge(ins, _)    => ins.foreach(walk)
        case IfElse(c, _, t, f) => walk(c); walk(t); walk(f)
        case MatchOn(k, _, cs, d) => walk(k); cs.values.foreach(walk); walk(d)
        case MarkX(in) => walk(in)
        case MarkY(in) => walk(in)
        case Named(in, _, _) => walk(in)
        case Subsample(in, _, _) => walk(in)
        case _                =>
      }
    }
    walk(root)
    counts.toMap
  }

  /** One evaluation pass. In fit mode (`fitScope` given) every Apply runs
    * `estimator.fit` on its input and records the fitted transformer into
    * `fitted`; in transform mode (None) it replays `fitted`.
    *
    * Fan-out stage lifecycle: nodes with 2+ consumers are staged ONLY in
    * fit mode, in `fitScope`, where stage fits run jobs during this pass
    * and genuinely share the staged parent; the caller's scope releases
    * them when it closes (an unreleased stage would hold its blocks until
    * the ContextCleaner runs). In transform mode the pass is pure lazy
    * plan composition — no job runs here, so nothing is staged — and
    * shared subtrees that end in a shuffle still get within-query sharing
    * from ReusedExchange.
    */
  private[plans] def evaluate0(root: Plan, env: Map[String, DataFrame],
                               fitted: scala.collection.mutable.Map[Apply, Transformer],
                               fitScope: Option[Stage.Scope],
                               subsampleOn: Boolean = false): DataFrame = {
    val fanout = parentCounts(root)
    val memo = scala.collection.mutable.Map[Plan, DataFrame]()
    def eval(p: Plan): DataFrame = memo.getOrElseUpdate(p, {
      val out = p match {
        case Var(name) => env.getOrElse(name,
          throw new IllegalArgumentException(s"unbound plan variable '$name'"))
        case Value(df)          => df
        case Transform(in, fn)  => fn(eval(in))
        case a @ Apply(in, est) =>
          val input = eval(in)
          val t =
            if (fitScope.isDefined) { val f = est.fit(input); fitted(a) = f; f }
            else fitted.getOrElse(a,
              throw new IllegalStateException("transform before fit"))
          t.transform(input)
        case Merge(ins, fn) => fn(ins.map(eval))
        case IfElse(c, pred, t, f) => if (pred(eval(c))) eval(t) else eval(f)
        case MatchOn(k, keyFn, cases, default) =>
          eval(cases.getOrElse(keyFn(eval(k)), default))
        case MarkX(in) => eval(in)
        case MarkY(in) => eval(in)
        case Named(in, _, _) => eval(in)
        case Subsample(in, n, how) =>
          val d = eval(in)
          if (!subsampleOn) d
          else if (how == "head") d.limit(n)
          else {
            import org.apache.spark.sql.functions.{col, concat_ws, md5}
            d.orderBy(md5(concat_ws("",
              d.columns.map(c => col(c).cast("string")).toSeq: _*))).limit(n)
          }
      }
      fitScope.filter(_ => fanout(p) > 1).fold(out)(_(out))
    })
    eval(root)
  }

  /** The `MarkX` node of a plan, if any (reference `find_X`,
    * _skrub_namespace.py:3624).
    */
  def findX(root: Plan): Option[MarkX] = find(root) { case m: MarkX => m }

  /** The `MarkY` node of a plan, if any. */
  def findY(root: Plan): Option[MarkY] = find(root) { case m: MarkY => m }

  private def find[A](root: Plan)(pf: PartialFunction[Plan, A]): Option[A] = {
    val seen = scala.collection.mutable.Set[Plan]()
    def walk(p: Plan): Option[A] =
      if (!seen.add(p)) None
      else pf.lift(p).orElse(p match {
        case Transform(in, _)     => walk(in)
        case Apply(in, _)         => walk(in)
        case Merge(ins, _)        => ins.view.flatMap(walk(_)).headOption
        case IfElse(c, _, t, f)   => walk(c).orElse(walk(t)).orElse(walk(f))
        case MatchOn(k, _, cs, d) =>
          walk(k).orElse(cs.values.view.flatMap(walk(_)).headOption).orElse(walk(d))
        case MarkX(in)            => walk(in)
        case MarkY(in)            => walk(in)
        case Named(in, _, _)      => walk(in)
        case Subsample(in, _, _)  => walk(in)
        case _                    => None
      })
    walk(root)
  }

  /** The node labeled `name` by `.named(...)`, if any (reference `.skb.find`,
    * _skrub_namespace.py:3482).
    */
  def findNode(root: Plan, name: String): Option[Plan] =
    find(root) { case Named(in, n, _) if n == name => in }

  /** Every distinct environment variable the plan reads, in first-use
    * depth-first order (reference `.skb.get_vars`, _skrub_namespace.py:1398)
    * — the contract for what an evaluation environment must bind.
    */
  def vars(root: Plan): Seq[String] = {
    val seen = scala.collection.mutable.Set[Plan]()
    val out = scala.collection.mutable.LinkedHashSet[String]()
    def walk(p: Plan): Unit = if (seen.add(p)) p match {
      case Var(name) => out += name
      case other     => children(other).foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  /** Compile a plan into a refittable learner (reference
    * `.skb.make_learner()`, _skrub_namespace.py:1815).
    */
  def makeLearner(root: Plan): Learner = new Learner(root)

  /** Deterministic depth-first ordering of a plan's Apply stages — the
    * stable index space for learner persistence.
    */
  def applyNodes(root: Plan): Seq[Apply] = {
    val seen = scala.collection.mutable.Set[Plan]()
    val out = scala.collection.mutable.ListBuffer[Apply]()
    def walk(p: Plan): Unit = if (seen.add(p)) p match {
      case a @ Apply(in, _)     => walk(in); out += a
      case Transform(in, _)     => walk(in)
      case Merge(ins, _)        => ins.foreach(walk)
      case IfElse(c, _, t, f)   => walk(c); walk(t); walk(f)
      case MatchOn(k, _, cs, d) =>
        walk(k); cs.toSeq.sortBy(_._1).foreach(e => walk(e._2)); walk(d)
      case MarkX(in)            => walk(in)
      case MarkY(in)            => walk(in)
      case Named(in, _, _)      => walk(in)
      case Subsample(in, _, _)  => walk(in)
      case _                    =>
    }
    walk(root)
    out.toList
  }

  // --- introspection (reference describe_steps / draw_graph,
  // _skrub_namespace.py:1519,1501) ----------------------------------------

  private def nodeLabel(p: Plan): String = p match {
    case Var(name)          => s"var '$name'"
    case _: Value           => "value <dataframe>"
    case _: Transform       => "transform <function>"
    case Apply(_, est)      => s"apply ${est.getClass.getSimpleName.stripSuffix("$")}"
    case Merge(ins, _)      => s"merge of ${ins.length} inputs"
    case _: IfElse          => "if_else"
    case m: MatchOn         => s"match on ${m.cases.size} cases"
    case _: MarkX           => "mark_as_X"
    case _: MarkY           => "mark_as_y"
    case Named(_, n, d)     => s"'$n'" + d.fold("")(s => s" — $s")
    case Subsample(_, n, h) => s"subsample n=$n how=$h"
  }

  private def children(p: Plan): Seq[Plan] = p match {
    case Transform(in, _)     => Seq(in)
    case Apply(in, _)         => Seq(in)
    case Merge(ins, _)        => ins
    case IfElse(c, _, t, f)   => Seq(c, t, f)
    case MatchOn(k, _, cs, d) => k +: cs.toSeq.sortBy(_._1).map(_._2) :+ d
    case MarkX(in)            => Seq(in)
    case MarkY(in)            => Seq(in)
    case Named(in, _, _)      => Seq(in)
    case Subsample(in, _, _)  => Seq(in)
    case _                    => Seq.empty
  }

  /** Deterministic depth-first (children-first) ordering of every distinct
    * node — the numbering used by `describeSteps` and `drawGraph`.
    */
  private def topoOrder(root: Plan): Seq[Plan] = {
    val seen = scala.collection.mutable.LinkedHashSet[Plan]()
    def walk(p: Plan): Unit = if (!seen.contains(p)) {
      children(p).foreach(walk)
      seen.add(p)
    }
    walk(root)
    seen.toSeq
  }

  /** Numbered step list of the plan, children before parents (reference
    * `.skb.describe_steps`, _skrub_namespace.py:1519). A node consumed by
    * more than one parent is listed once and marked `(shared)` — shared
    * nodes evaluate once per pass and are staged (persist-at-fanout).
    */
  def describeSteps(root: Plan): String = {
    val fanout = parentCounts(root)
    topoOrder(root).zipWithIndex.map { case (p, i) =>
      val shared = if (fanout.getOrElse(p, 0) > 1) " (shared)" else ""
      s"$i. ${nodeLabel(p)}$shared"
    }.mkString("\n")
  }

  /** GraphViz DOT rendering of the plan DAG (reference `.skb.draw_graph`,
    * _skrub_namespace.py:1501) — edges point from input to consumer.
    */
  def drawGraph(root: Plan): String = {
    val order = topoOrder(root)
    val id = order.zipWithIndex.toMap
    val nodes = order.map { p =>
      val shape = p match {
        case _: Var   => "ellipse"
        case _: Apply => "box"
        case _: IfElse | _: MatchOn => "diamond"
        case _        => "plaintext"
      }
      // DOT string escapes: backslashes first, then quotes; newlines become
      // DOT's literal \n so multi-line descriptions stay one valid label
      val label = nodeLabel(p).replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\r", "")
      s"""  n${id(p)} [label="${id(p)}: $label", shape=$shape];"""
    }
    val edges = order.flatMap(p => children(p).map(c => s"  n${id(c)} -> n${id(p)};"))
    (Seq("digraph plan {", "  rankdir=TB;") ++ nodes ++ edges :+ "}").mkString("\n")
  }

  /** Rebuild a fitted learner from `save` output. The plan itself is code
    * (lambdas are not serialized — the caller reconstructs the same plan,
    * exactly like spark.ml's Pipeline.load needs its stage classes on the
    * classpath); every saved stage's estimator must be a
    * `PersistentEstimator`.
    */
  def loadLearner(root: Plan, path: String): Learner = {
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "learner.json"))
    val meta = Json.parse(json).asInstanceOf[Map[String, Any]]
    require(meta("type") == "graft.Learner", s"not a Learner at $path")
    val applies = applyNodes(root)
    val learner = new Learner(root)
    meta("stages").asInstanceOf[List[Any]].foreach { e =>
      val m = e.asInstanceOf[Map[String, Any]]
      val i = m("stage").asInstanceOf[Long].toInt
      require(i < applies.length,
        s"saved stage $i has no Apply node in the plan (plan changed?)")
      val node = applies(i)
      node.estimator match {
        case pe: PersistentEstimator =>
          learner.restore(node, pe.loadTransformer(m("data").asInstanceOf[String]))
        case _ => throw new IllegalArgumentException(
          s"stage $i estimator is not a PersistentEstimator")
      }
    }
    learner.markFit()
    learner
  }
}

/** Fitted-plan holder: `fit(env)` learns every Apply stage against one
  * environment; `transform(env)` replays the SAME fitted state against
  * another (reference SkrubLearner, _estimator.py:182).
  */
final class Learner(root: Plan) {
  private val fitted = scala.collection.mutable.Map[Apply, Transformer]()
  private var isFit = false

  /** The config gate on subsampling (reference enable_subsampling,
    * _config.py:85 + _subsampling.py): "force" subsamples every fit,
    * "disable" turns it off everywhere INCLUDING preview, "default" honors
    * the per-call request.
    */
  private def gated(requested: Boolean): Boolean =
    graft.ops.Config.get.enableSubsampling match {
      case "force"   => true
      case "disable" => false
      case _         => requested
    }

  def fit(env: Map[String, DataFrame], subsample: Boolean = false): Learner = {
    fitted.clear()
    // the output frame is discarded — the fan-out stages served the stage
    // fits that just ran; releasing here costs nothing and leaks nothing
    Stage.scope(s => Plan.evaluate0(root, env, fitted, Some(s), gated(subsample)))
    isFit = true
    this
  }

  def fitTransform(env: Map[String, DataFrame],
                   subsample: Boolean = false): DataFrame = {
    fitted.clear()
    // fit jobs already shared the stages; releasing before returning means
    // actions on `out` recompute shared subtrees lazily (bounded, and
    // ReusedExchange still collapses shuffle-terminated ones) instead of
    // this call holding their blocks for the output's lifetime
    val out = Stage.scope(s =>
      Plan.evaluate0(root, env, fitted, Some(s), gated(subsample)))
    isFit = true
    out
  }

  /** Preview evaluation (reference mode="preview": subsampling always on,
    * _subsampling.py:20-25): fits into a THROWAWAY state — the learner's
    * own fitted stages and fit flag are untouched.
    */
  def preview(env: Map[String, DataFrame]): DataFrame =
    Stage.scope(s => Plan.evaluate0(root, env,
      scala.collection.mutable.Map[Apply, Transformer](), Some(s), gated(true)))

  def transform(env: Map[String, DataFrame]): DataFrame = {
    if (!isFit) throw new IllegalStateException("learner is not fitted")
    Plan.evaluate0(root, env, fitted, None)
  }

  /** HTML report of the plan and its (subsampled) preview output (reference
    * `.skb.full_report`, _skrub_namespace.py:1687): step list, DOT graph
    * source, and the preview frame's schema + first rows. Preview fits into
    * throwaway state, so the learner is untouched.
    */
  def fullReport(env: Map[String, DataFrame], maxRows: Int = 10): String = {
    val esc = graft.operators.TableReport.esc _
    val out = preview(env)
    val steps = esc(Plan.describeSteps(root))
    val dot = esc(Plan.drawGraph(root))
    val schema = out.schema.fields
      .map(f => s"<li><code>${esc(f.name)}</code>: ${esc(f.dataType.simpleString)}</li>")
      .mkString("\n")
    val rows = out.limit(maxRows).collect()
    val header = out.columns.map(c => s"<th>${esc(c)}</th>").mkString
    val body = rows.map(r => "<tr>" + out.columns.indices.map { i =>
      val v = if (r.isNullAt(i)) "<i>null</i>" else esc(r.get(i).toString)
      s"<td>$v</td>"
    }.mkString + "</tr>").mkString("\n")
    s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>graft plan report</title></head>
       |<body>
       |<h1>Plan report</h1>
       |<h2>Steps</h2><pre>$steps</pre>
       |<h2>Graph (DOT)</h2><pre>$dot</pre>
       |<h2>Preview schema</h2><ul>$schema</ul>
       |<h2>Preview rows (first ${rows.length})</h2>
       |<table border="1"><tr>$header</tr>
       |$body
       |</table>
       |</body></html>""".stripMargin
  }

  private[plans] def restore(node: Apply, t: Transformer): Unit = fitted(node) = t
  private[plans] def markFit(): Unit = isFit = true

  /** Persist every fitted stage (stages whose transformer implements
    * `PersistentTransformer`; an Apply that never fitted — e.g. on an
    * untaken IfElse branch — is simply absent, matching in-memory replay).
    */
  def save(path: String): Unit = {
    if (!isFit) throw new IllegalStateException("cannot save an unfitted learner")
    val applies = Plan.applyNodes(root)
    val stages = applies.zipWithIndex.flatMap { case (a, i) =>
      fitted.get(a).map {
        case pt: PersistentTransformer =>
          Json.obj(Seq("stage" -> Json.num(i.toLong), "data" -> Json.str(pt.saveData)))
        case _ => throw new IllegalArgumentException(
          s"stage $i fitted transformer is not a PersistentTransformer; " +
            "implement saveData/loadTransformer to persist this plan")
      }
    }
    val json = Json.obj(Seq(
      "type" -> Json.str("graft.Learner"),
      "stages" -> Json.arr(stages)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "learner.json"), json)
  }
}
