package graftbench

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.Standing
import graft.operators.{Dedup, Retrieval, SimilaritySearch, TextSearch}

/** `index_serve`: reads beside writes on the standing-index lifecycle.
  *
  * Set-up ensures a BM25, an LSH-ANN and a minhash-band index over the base
  * corpus, twice each (the second call must reuse). The timed section is a
  * fixed request sequence from the generator: `query` requests probe text
  * and ANN with one query batch, fuse the legs with RRF and collect;
  * `ingest` requests probe the dedup index with a new doc batch and append
  * the non-duplicates to all three indexes. Appends grow the files per
  * bucket inside a run, and the sequence is the same in every run. The
  * traced run traces the set-up's ensure calls, every request and the
  * compaction.
  */
object IndexServe {
  val K = 10
  val Buckets = 4
  val MinJaccard = 0.3
  val NGram = 3
  val RowsPerBand = 2
  val Bands = 16
  /** Minimum share of the brute-force cosine top-k the LSH probe returns. */
  val AnnRecallFloor = 0.5
  /** Minimum share of the planted near-duplicates an ingest probe flags. */
  val DupRecallFloor = 0.8

  private val qSchema = StructType(Seq(StructField("q_id", LongType),
    StructField("q_text", StringType), StructField("embedding", ArrayType(FloatType))))
  private val dSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))

  /** One set of the three standing indexes, under its own names and paths. */
  final class Indexes(ctx: Ctx, tag: String) {
    val text = s"pb_text_$tag"
    val ann = s"pb_ann_$tag"
    val dedup = s"pb_dedup_$tag"
    val root = s"${ctx.runDir}/indexes/$tag"
    def dir(name: String, gen: Int = 0): String = s"$root/$name-$gen"
    var ensureCalls = 0
    var reused = 0

    def ensure(base: DataFrame): Unit = for (_ <- 1 to 2) ctx.rec.span("api.standing.ensure") {
      val built = Seq(
        Standing.ensureText(base, "text", "doc_id", text, dir(text), Buckets),
        Standing.ensureAnn(base, "embedding", "doc_id", ann, dir(ann), 4, 8,
          Buckets, false),
        Standing.ensureDedup(base, "text", "doc_id", dedup, dir(dedup), NGram,
          RowsPerBand, Bands, Buckets))
      ensureCalls += built.length
      reused += built.count(!_)
      ctx.log(s"ensured, ${built.count(!_)} of ${built.length} reused")
    }

    def compact(): Unit = ctx.rec.span("api.standing.compact") {
      Standing.compactText(ctx.spark, text, dir(text, 1))
      Standing.compactAnn(ctx.spark, ann, dir(ann, 1))
      Standing.compactDedup(ctx.spark, dedup, dir(dedup, 1))
    }

    def bytes: Long = du(new File(root))
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  /** Data files per bucket, averaged over the index tables under `root`. */
  private def filesPerBucket(root: File): Double = {
    val tables = Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory))
    val counts = tables.map(t => Option(t.listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet")))
    if (counts.isEmpty) 0.0 else counts.sum.toDouble / (counts.length * Buckets)
  }

  def run(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val planted = Planted.load(dir)
    val base = spark.read.parquet(s"$dir/base.parquet")
    def local(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
    def byReq(name: String, schema: StructType): Map[Int, Seq[Row]] =
      spark.read.parquet(s"$dir/$name.parquet").collect().toSeq
        .groupBy(_.getAs[Int]("req"))
        .map { case (r, rows) => r -> rows.map(x => Row(x.getLong(0), x.getString(1),
          x.getSeq[Float](2))) }
    val queries = byReq("queries", qSchema)
    val ingests = byReq("ingest", dSchema)
    val kinds = planted.strings("request_kinds")
    val baseUserBytes = base.agg(sum(length(col("text")) + size(col("embedding")) * 4))
      .head().getLong(0)
    def userBytes(rows: Seq[Row]): Long =
      rows.map(r => r.getString(1).length + r.getSeq[Float](2).length * 4L).sum

    def query(ix: Indexes, rows: Seq[Row]): Seq[Row] = {
      val qb = local(rows, qSchema)
      val lex = rec.span("api.standing.probe_text")(
        Standing.probeText(spark, ix.text, qb, "q_text", "q_id", K)
          .select("q_id", "doc_id", "rank").collect().toSeq)
      val sem = rec.span("api.standing.probe_ann")(
        Standing.probeAnn(qb, "embedding", "q_id", ix.ann, K)
          .select(col("query_id").as("q_id"), col("corpus_id").as("doc_id"),
            col("rank")).collect().toSeq)
      val legSchema = StructType(Seq(StructField("q_id", LongType),
        StructField("doc_id", LongType), StructField("rank", LongType)))
      val legs = Seq(lex, sem).map(rs => local(rs.map(r =>
        Row(r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)), legSchema))
      rec.span("operators.retrieval")(Retrieval.rrf(legs, K).collect().toSeq)
      lex ++ sem
    }

    def probeDups(ix: Indexes, rows: Seq[Row]): Map[Long, Long] =
      rec.span("api.standing.probe_dedup")(
        Standing.probeDedup(local(rows, dSchema), "text", "doc_id", ix.dedup, MinJaccard)
          .select("id", "match_id").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)

    val flagged = scala.collection.mutable.Set[Long]()
    def ingest(ix: Indexes, rows: Seq[Row]): Seq[Row] = {
      val dups = probeDups(ix, rows)
      flagged ++= dups.keys
      val fresh = rows.filterNot(x => dups.contains(x.getLong(0)))
      val df = local(fresh, dSchema)
      rec.span("api.standing.append") {
        Standing.appendText(df, "text", "doc_id", ix.text)
        Standing.appendAnn(df, "embedding", "doc_id", ix.ann)
        Standing.appendDedup(df, "text", "doc_id", ix.dedup)
      }
      fresh
    }

    val ix = new Indexes(ctx, "a")
    rec.setTracing(ctx.trace)
    ix.ensure(base)
    rec.setTracing(false)
    ctx.log("indexes ensured")
    val appended = Seq.newBuilder[Row]
    ctx.clearState()
    val bytes0 = ix.bytes
    var appendedTimed = 0L
    var probeRows = 0L
    ctx.ready()
    rec.setTracing(ctx.trace)
    kinds.zipWithIndex.foreach { case (kind, r) =>
      if (kind == "query") rec.op("query", queries(r).length) {
        probeRows += query(ix, queries(r)).length
      } else rec.op("ingest", ingests(r).length) {
        val fresh = ingest(ix, ingests(r))
        appended ++= fresh
        appendedTimed += userBytes(fresh)
      }
    }
    rec.setTracing(false)
    ctx.timedDone()

    // sources: the index layouts after the timed section
    val corpusRows = appended.result()
    val grown = ix.bytes
    ctx.extra("sources.index_bytes_per_user_byte",
      grown.toDouble / (baseUserBytes + userBytes(corpusRows)))
    ctx.extra("sources.write_amp", (grown - bytes0).toDouble / math.max(1L, appendedTimed))
    ctx.extra("sources.files_per_bucket", filesPerBucket(new File(ix.root)))
    ctx.extra("api.standing.ensure_reuse_ratio", ix.reused.toDouble / ix.ensureCalls)
    // rows the traced probes returned: the base of rows_examined_per_result
    ctx.extra("api.standing.probe_result_rows", probeRows.toDouble)

    // output checks: sampled probes against the one-shot operators on the
    // same corpus state, after the ingests and again after compaction
    val corpus = base.unionByName(local(corpusRows, dSchema))
    val checkQ = queries(-1)
    val checkBatch = ingests(-1)
    val qb = local(checkQ, qSchema)
    // lazy: a one-shot operator that throws fails its check, not the run
    lazy val textTruth = TextSearch.topk(corpus, "text", "doc_id", qb, "q_text", "q_id", K)
      .select("q_id", "doc_id", "rank").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    lazy val annTruth = SimilaritySearch.bruteForceTopK(corpus,
        qb.withColumnRenamed("q_id", "doc_id"), "embedding", "doc_id", K)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIds = checkBatch.map(_.getLong(0)).toSet
    lazy val dedupTruth = Dedup.minhashLshPairs(
        corpus.select("doc_id", "text").unionByName(
          local(checkBatch, dSchema).select("doc_id", "text")),
        "text", "doc_id", n = NGram, rowsPerBand = RowsPerBand, nBands = Bands,
        minJaccard = MinJaccard)
      .collect().flatMap { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        if (batchIds(a) && !batchIds(b)) Some((a, b, j))
        else if (batchIds(b) && !batchIds(a)) Some((b, a, j))
        else None
      }.groupBy(_._1).map { case (id, ms) =>
        id -> ms.minBy { case (_, m, j) => (-j, m) }._2 }

    def checkProbes(when: String): Unit = {
      ctx.checking(s"text_probe_equals_topk_$when") {
        val got = Standing.probeText(spark, ix.text, qb, "q_text", "q_id", K)
          .select("q_id", "doc_id", "rank").collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        (got == textTruth, s"${got.size} probe rows, ${(got diff textTruth).size} not in topk")
      }
      ctx.checking(s"ann_probe_recall_$when") {
        val got = Standing.probeAnn(qb, "embedding", "q_id", ix.ann, K)
          .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = (got intersect annTruth).size.toDouble / math.max(1, annTruth.size)
        (recall >= AnnRecallFloor, f"recall@$K $recall%.3f, floor $AnnRecallFloor")
      }
      if (ctx.trace) ctx.checking(s"dedup_probe_equals_pairs_$when") {
        val got = probeDups(ix, checkBatch)
        (got == dedupTruth, s"${got.size} probe matches, ${dedupTruth.size} from minhashLshPairs")
      }
    }
    ctx.checking("planted_ingest_dups_flagged") {
      val dupIds = planted.longs("planted_ingest_dup_ids")
      val recall = dupIds.count(flagged).toDouble / math.max(1, dupIds.length)
      (dupIds.nonEmpty && recall >= DupRecallFloor,
        f"$recall%.3f of ${dupIds.length} planted near-duplicates flagged, floor $DupRecallFloor")
    }
    checkProbes("after_ingest")
    // the slow half of the checks: only the traced run compares dedup probes
    // with minhashLshPairs, compacts and checks the compacted indexes (see
    // README, "Output checks")
    if (ctx.trace) {
      rec.setTracing(true)
      ix.compact()
      rec.setTracing(false)
      ctx.log("compacted")
      checkProbes("after_compact")
    }
  }
}
