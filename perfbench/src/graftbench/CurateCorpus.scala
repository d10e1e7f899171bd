package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.operators.{Dedup, Recipe}

/** `curate_corpus`: the LLM-curation batch job. The pass runs text
  * near-duplicate detection (`Dedup.minhashLshPairs` -> `Dedup.keepBest`),
  * embedding dedup (`Dedup.semanticDedup`) and the eleven-stage
  * `Recipe.pipelineFull` on the survivors against a benchmark set, and
  * collects the verdicts.
  */
object CurateCorpus {
  val NGram = 3
  val RowsPerBand = 2
  val Bands = 16
  val MinJaccard = 0.3
  val MinCosine = 0.98
  val PackBudget = 256L
  /** Share of planted near-duplicate pairs the minhash candidates must find. */
  val RecallFloor = 0.9
  private val Sources = (0 until 8).map(i => s"src$i")
  private val Budgets = Sources.map(_ -> 12000L).toMap
  private val Epochs = Sources.zipWithIndex.map { case (s, i) =>
    s -> Seq(1.0, 2.0, 0.5, 1.5)(i % 4) }.toMap

  def pairs(docs: DataFrame): DataFrame =
    Dedup.minhashLshPairs(docs, "text", "doc_id", n = NGram,
      rowsPerBand = RowsPerBand, nBands = Bands, minJaccard = MinJaccard)

  /** The curation pipeline; its output is collected inside the recipe span. */
  def curate(ctx: Ctx, docs: DataFrame, bench: DataFrame): Array[Row] = {
    val rec = ctx.rec
    val cand = rec.span("operators.dedup")(pairs(docs))
    val scored = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("score"))
    val best = rec.span("operators.dedup")(
      Dedup.keepBest(scored, cand, "doc_id", "score"))
    val textKept = docs.join(best.filter(col("kept")).select(col("doc_id")), "doc_id")
    val sem = rec.span("operators.dedup")(
      Dedup.semanticDedup(textKept, "embedding", "doc_id", MinCosine))
    val survivors = textKept.join(
      sem.filter(!col("is_dup")).select(col("vec_id").as("doc_id")), "doc_id")
    val ckDir = ctx.freshDir("recipe-")
    rec.span("operators.recipe") {
      Recipe.pipelineFull(survivors, bench, "text", "doc_id", "source",
          Budgets, Epochs, decontaminateN = 8, lmMaxNll = 9.0,
          packBudget = PackBudget, checkpointDir = ckDir)
        .select("doc_id", "source", "contaminated", "kept", "repeat_idx",
          "pack_id", "pack_tokens")
        .collect()
    }
  }

  /** Order-independent digest of the shipped (doc, repeat, pack) triples. */
  def digest(rows: Array[Row]): String = {
    val kept = rows.filter(_.getAs[Boolean]("kept")).map(r =>
      s"${r.getAs[Long]("doc_id")}:${r.getAs[Any]("repeat_idx")}:${r.getAs[Any]("pack_id")}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(kept.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def prepare(ctx: Ctx, dir: String): Part = new Part {
    val spark = ctx.spark
    val docs = spark.read.parquet(s"$dir/docs.parquet")
    val bench = spark.read.parquet(s"$dir/bench.parquet")
    val planted = Planted.load(dir)
    val nDocs = docs.count()
    var out: Array[Row] = Array.empty

    def pass(): Unit = ctx.rec.op("curate", nDocs) { out = curate(ctx, docs, bench) }

    def checks(): Unit = {
      // the slow checks run in the traced run only (README, "Output
      // checks"): a second, untimed pass from the same cleared state must
      // ship the same kept set, and the minhash candidates must find the
      // planted near-duplicate pairs
      if (ctx.trace) ctx.checking("kept_digest_stable") {
        ctx.clearState()
        val again = curate(ctx, docs, bench)
        val (first, second) = (digest(out), digest(again))
        (out.nonEmpty && first == second, s"digests $first and $second")
      }
      if (ctx.trace) ctx.checking("planted_duplicate_recall") {
        val found = pairs(docs).select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val plantedPairs = planted.pairs("planted_dup_pairs")
        val hit = plantedPairs.count { case (a, b) =>
          found((math.min(a, b), math.max(a, b))) }
        val recall = hit.toDouble / math.max(1, plantedPairs.length)
        ctx.extra("operators.dedup.pairs_out", found.size.toDouble)
        ctx.extra("operators.dedup.planted_recall", recall)
        (recall >= RecallFloor,
          f"recall $recall%.4f over ${plantedPairs.length} planted pairs, floor $RecallFloor")
      }
      ctx.checking("decontamination_drops_planted") {
        val contaminated = planted.longs("planted_contaminated").toSet
        val seen = out.filter(r => contaminated(r.getAs[Long]("doc_id")))
        val missed = seen.count(r => !r.getAs[Boolean]("contaminated") || r.getAs[Boolean]("kept"))
        (seen.nonEmpty && missed == 0,
          s"${seen.length} planted contaminated docs reached the recipe, $missed not dropped")
      }
      ctx.checking("packs_within_budget") {
        val packs = out.filter(r => !r.isNullAt(r.fieldIndex("pack_id")))
          .groupBy(r => (r.getAs[String]("source"), r.getAs[Long]("pack_id")))
        // boundary-aligned packing: every doc starts inside the pack's budget
        // window, so all but the pack's largest doc fit within the budget
        val over = packs.values.count { rs =>
          val toks = rs.map(_.getAs[Long]("pack_tokens"))
          toks.max > PackBudget || toks.sum - toks.max >= PackBudget
        }
        (packs.nonEmpty && over == 0, s"${packs.size} packs, $over over budget $PackBudget")
      }
    }
  }
}

/** Ground truth the generator planted (`planted.json`). */
final class Planted(m: Map[String, Any]) {
  def longs(k: String): Seq[Long] = m(k).asInstanceOf[List[Any]].map {
    case l: Long => l; case d: Double => d.toLong; case o => o.toString.toLong }
  def strings(k: String): Seq[String] = m(k).asInstanceOf[List[Any]].map(_.toString)
  def pairs(k: String): Seq[(Long, Long)] = m(k).asInstanceOf[List[Any]].map { p =>
    val Seq(a, b) = p.asInstanceOf[List[Any]].map(_.toString.toLong)
    (a, b)
  }
}

object Planted {
  def load(dir: String): Planted = new Planted(graft.plans.Json.parse(
    java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "planted.json")))
    .asInstanceOf[Map[String, Any]])
}
