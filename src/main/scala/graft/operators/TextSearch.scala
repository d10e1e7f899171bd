package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Bucketize
import graft.ops.Stage

/** BM25 full-text retrieval over a document corpus — the lexical half of
  * the retrieval story next to the ANN family (`SimilaritySearch`,
  * `AnnIndex` cover the embedding half). The reference ecosystem reaches
  * for this through external search engines; here it is a first-class
  * Spark operator so corpus curation (dedup → quality gates → retrieval
  * eval) runs in one engine.
  *
  * Scoring is Lucene-flavored BM25:
  *   idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
  *   tfn(t, d) = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
  *   score     = Σ_t idf(t) * tfn(t, d)  over the DISTINCT query terms
  * with the library's oracle-parity float discipline: each per-term
  * contribution is rounded to 6 dp, summed as DECIMAL(28,6) (exact,
  * order-independent), and reported as an integer micro-score
  * (`score_micro = round(score * 1e6)`), so ranking ties break
  * deterministically and the whole operator hash-matches a SQL oracle.
  * ONE scorer (`scoreMicro`) feeds every surface — in-memory, persisted
  * index, streaming — so the formula and the rounding discipline cannot
  * drift between paths (TextSearchSpec pins probe ≡ topk bit-identically).
  *
  * 100 TB shape: the postings build is ONE corpus-token shuffle
  * (by term, at the bucket count) plus a vocab-bounded df aggregate. The
  * query batch is small: the scorer resolves its (query, term) pairs once
  * on the driver, and the postings are filtered by a literal `term IN
  * (…)` — on a standing index that is a filter on the bucket key — so
  * only candidate postings, rows whose term appears in some query, move
  * into the (query, doc) score aggregation. The top-k is a bounded minKBy
  * aggregate (k rows per (query, partition) reach the shuffle — never a
  * per-query window sort of every candidate). For a standing corpus,
  * persist the postings with `buildIndex` (bucketed by term,
  * `graft.sources.Bucketize`) and probe with zero corpus-side Exchange
  * like `DedupIndex`/`AnnIndex`.
  */
object TextSearch {

  /** Tokenized corpus: (id, toks, dl). Empty/null texts keep dl = 0. */
  private def tokenized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        graft.functions.Text.tokens(coalesce(col(textCol), lit(""))).as("toks"))
      .withColumn("dl", size(col("toks")).cast(LongType))

  /** Postings (term, doc_id, tf) + per-doc lengths (doc_id, dl) from a
    * corpus, for the INDEX WRITERS. The tokens take ONE shuffle,
    * `repartition(numBuckets, term)`, and tf is counted after it, so the
    * postings come out hash-partitioned on the postings table's bucket
    * key at its bucket count, and the planner drops the bucketed write's
    * own clustering repartition as redundant. The lens frame includes
    * EMPTY docs (dl = 0) — the persisted lens table is the nDocs ground
    * truth `repair`/`probe` consistency checks rely on, so it must carry
    * one row per corpus doc. (The one-shot `scores` path instead derives
    * candidate lens from the postings — see there.)
    */
  private def postings(df: DataFrame, textCol: String, idCol: String,
                       numBuckets: Int): (DataFrame, DataFrame) = {
    val tk = tokenized(df, textCol, idCol)
    val post = tk.select(col("doc_id"), explode(col("toks")).as("term"))
      .repartition(numBuckets, col("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    (post, tk.select(col("doc_id"), col("dl")))
  }

  /** (nDocs, sumDl) from a lens frame — N counts every document row
    * (empty docs included; they are real corpus members for idf).
    */
  private def corpusStats(docLens: DataFrame): (Long, Long) = {
    val stats = lensStats(docLens)
    require(stats._1 > 0, "TextSearch: empty corpus")
    stats
  }

  /** (doc count, length sum) of a lens frame in one aggregate; (0, 0) when
    * it is empty (its sum is NULL). */
  private def lensStats(docLens: DataFrame): (Long, Long) = {
    val stats = docLens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .head()
    (stats.getLong(0), if (stats.isNullAt(1)) 0L else stats.getLong(1))
  }

  /** A query batch's distinct (q_id, term) pairs, gathered on the driver
    * as term → the ids of the queries holding it. A batch built on the
    * driver (a local relation) is read without a Spark job; any other
    * batch costs one small job. A null text has no terms. Ids keep their
    * type: `q_id` may be any type the batch carries.
    */
  private def queryTerms(queries: DataFrame, qTextCol: String,
                         qIdCol: String): (Map[String, Seq[Any]], DataType) = {
    val q = queries.select(col(qIdCol).as("q_id"),
      array_distinct(graft.functions.Text.tokens(
        coalesce(col(qTextCol), lit("")))).as("terms"))
    val pairs = q.collect().toSeq
      .flatMap(r => r.getSeq[String](1).map(_ -> r.get(0)))
    // binary ids compare by content, as Spark's distinct compares them
    val byTerm = pairs.groupBy(_._1).map { case (t, ps) =>
      t -> ps.map(_._2).distinctBy {
        case a: Array[_] => a.toSeq
        case id          => id
      }
    }
    (byTerm, q.schema("q_id").dataType)
  }

  /** THE scorer — every public surface goes through here. BM25 micro-
    * scores of `queries` against (post, docLens) under the given corpus
    * stats: (q_id, doc_id, score_micro). The batch's terms are resolved
    * on the driver (`queryTerms`): the postings are filtered by a literal
    * `term IN (…)` — an empty term list filters by `false`, so a batch
    * with no terms scores nothing — and each candidate posting fans out
    * to the queries holding its term through a literal term → ids map,
    * with no join and no Spark job of its own. A map lookup scans the
    * map's keys; against a broadcast hash join of the same pairs, probe
    * walls measured even at 80-4,000 batch terms and 10% slower at 10,000
    * (a 60k-doc, 20k-term index on local[4]). Document frequency
    * attaches to the query-term-filtered postings in one of two plan
    * shapes — the VALUES are identical either way (postings are unique
    * per (term, doc) and df is counted before the q_id fan-out), only the
    * physical plan differs:
    *
    *  - `dfViaWindow = true` (persisted-index probes): a term-window over
    *    the bucketed postings scan. The scan's hash partitioning on `term`
    *    satisfies the window, so the probe touches NO corpus-side Exchange
    *    — and a term's postings already live in one bucket by layout, so
    *    the window adds no funnel the layout didn't have.
    *  - `dfViaWindow = false` (one-shot): the same window over unbucketed
    *    postings would EXCHANGE the candidates by bare `term` and push a
    *    hot query term's ENTIRE posting list through one task (guide-§2.2
    *    skew: a stopword-ish query term at corpus scale is a single-task
    *    sort). Instead df is a map-side-combined aggregate of the filtered
    *    postings down to one (term, df) row per query term — no single-
    *    task funnel at any skew — broadcast-joined back. The aggregate
    *    references the filtered postings a second time, but both consumers
    *    share the identical (term, doc_id) tf-aggregation exchange, which
    *    AQE stage reuse computes ONCE — the corpus is still tokenized and
    *    scanned exactly once (TextSearchSpec pins the executed plan), and
    *    this shape drops the window's whole Exchange+Sort of candidates.
    */
  private def scoreMicro(post: DataFrame, docLens: Option[DataFrame],
                         nDocs: Long, avgdl: Double,
                         queries: DataFrame, qTextCol: String, qIdCol: String,
                         k1: Double, b: Double,
                         dfViaWindow: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.catalyst.expressions.Literal
    val (byTerm, qIdType) = queryTerms(queries, qTextCol, qIdCol)
    val terms = byTerm.keys.toSeq.sorted
    val semi = post.filter(
      if (terms.isEmpty) lit(false) else col("term").isin(terms: _*))
    val qIdsOf = org.apache.spark.sql.GraftBridge.column(Literal.create(
      byTerm, MapType(StringType, ArrayType(qIdType))))
    val filtered =
      if (dfViaWindow)
        semi.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      else {
        // Skew-safe df for the one-shot path. The `tf >= 1 AND dl >= 0`
        // guard is ALWAYS true (tf is a group count, dl a non-null array
        // size) and changes nothing the aggregate counts; it exists so this
        // branch consumes the same columns as the scoring branch — column
        // pruning would otherwise specialize this branch's copy of the
        // (term, doc_id) aggregation (dropping first(dl)) into a DIFFERENT
        // exchange and silently break the stage reuse that keeps the
        // corpus single-scanned. Pinned by TextSearchSpec's executed-plan
        // scan count.
        val dfByTerm = semi
          .groupBy(col("term"))
          .agg(count(when(col("tf") >= 1 && col("dl") >= 0, 1)).as("df"))
        semi.join(broadcast(dfByTerm), Seq("term"))
      }
    val idf = log(lit(1.0) + (lit(nDocs.toDouble) - col("df").cast(DoubleType) + lit(0.5))
      / (col("df").cast(DoubleType) + lit(0.5)))

    val tfD = col("tf").cast(DoubleType)
    val dlD = col("dl").cast(DoubleType)
    val tfn = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * (dlD / lit(avgdl))))

    val candidates = filtered
      .withColumn("q_id", explode(try_element_at(qIdsOf, col("term"))))
      .withColumn("idf", idf).drop("df")
    // Some(lens): the persisted-index path joins its bucketed lens table.
    // None: `post` already CARRIES dl on every row — the one-shot path
    // rides dl through the single postings exchange instead of paying a
    // second lens branch and a join.
    docLens.fold(candidates)(l => candidates.join(l, Seq("doc_id")))
      .withColumn("contrib", round(col("idf") * tfn, 6).cast(DecimalType(28, 6)))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("s"))
      .select(col("q_id"), col("doc_id"),
        (col("s") * lit(1000000)).cast(LongType).as("score_micro"))
  }

  /** Deterministic bounded top-k of a scored frame: rank 1..k by
    * (score_micro desc, doc_id asc) via the minKBy aggregate — only k rows
    * per (query, partition) reach the shuffle, never a per-query window
    * sort of every candidate (the `SimilaritySearch.topK` discipline).
    */
  private def topkOf(sc: DataFrame, k: Int): DataFrame =
    sc.groupBy(col("q_id"))
      .agg(graft.functions.AggExprs.minKBy(
        struct((-col("score_micro")).as("ns"), col("doc_id").as("doc_id"),
          col("score_micro").as("score_micro")), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.doc_id").as("doc_id"),
        col("t.score_micro").as("score_micro"),
        (col("pos") + 1).cast(LongType).as("rank"))

  /** BM25 scores for every (query, candidate) pair that shares ≥1 term.
    * Output: (q_id, doc_id, score_micro: bigint). `queries` is expected to
    * be small (its terms are gathered on the driver); the corpus side is
    * `df`.
    */
  def scores(df: DataFrame, textCol: String, idCol: String,
             queries: DataFrame, qTextCol: String, qIdCol: String,
             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // One-shot plan shape (r11): dl RIDES the postings rows through the
    // one corpus-token exchange (+8 bytes per posting), so there is no
    // lens branch and no lens join at all — the scorer reads dl off the
    // candidate rows. Empty docs have no postings — and can never be
    // candidates (no shared term) — so nothing the scorer reads is lost;
    // they still count in nDocs/avgdl via the stats pass below (one eager
    // aggregate, the only other corpus scan). No persist anywhere:
    // nothing outlives the call (the Drift.withRefCounts one-shot
    // discipline).
    val tk = tokenized(df, textCol, idCol)
    val st = tk.agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
    val nDocs = st.getLong(0)
    require(nDocs > 0, "TextSearch: empty corpus")
    val sumDl = st.getLong(1)
    val post = tk
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    scoreMicro(post, None, nDocs, sumDl.toDouble / nDocs.toDouble,
      queries, qTextCol, qIdCol, k1, b, dfViaWindow = false)
  }

  /** Top-k BM25 hits per query with a fully deterministic rank:
    * (score_micro desc, doc_id asc). Output adds `rank` (1-based).
    */
  def topk(df: DataFrame, textCol: String, idCol: String,
           queries: DataFrame, qTextCol: String, qIdCol: String,
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topkOf(scores(df, textCol, idCol, queries, qTextCol, qIdCol, k1, b), k)

  /** The BM25 layout: doc lengths bucketed by doc id, postings by term;
    * the corpus stats live on the postings table. Lens comes first so a
    * crash between the two appends leaves lens rows without postings —
    * docs that score as empty, never orphan postings that skew df.
    */
  val layout: StandingIndex.Layout = StandingIndex.Layout("postings",
    StandingIndex.Part("lens", Seq("doc_id")),
    StandingIndex.Part("postings", Seq("term")))

  private val PendingKey = "graft.bm25.pendingBatch"
  private val NDocsKey = "graft.bm25.nDocs"
  private val SumDlKey = "graft.bm25.sumDl"

  private def stats(nDocs: Long, sumDl: Long): Seq[(String, Long)] =
    Seq(NDocsKey -> nDocs, SumDlKey -> sumDl)

  /** Loud guard against the half-applied-append window: `append` stamps a
    * pending-batch marker before it mutates anything and clears it only
    * after both data appends commit, so any crash inside the window is
    * DETECTED by the next MUTATION instead of silently double-counting
    * stats on a blind retry. Deliberately NOT checked by `probe`: a
    * pending marker is also what a healthy in-flight append looks like,
    * and reads must stay available during ingest (search-as-you-ingest) —
    * a probe under the window sees at worst the documented monotone-
    * degraded state (batch docs registered in the stats but not yet
    * retrievable). Only run `repair` when no append is in flight.
    */
  private def requireClean(props: Map[String, String], name: String): Unit =
    props.get(PendingKey).filter(_.nonEmpty).foreach { b =>
      throw new IllegalStateException(
        s"TextSearch.append: index '$name' has a pending append " +
          s"(batch '$b'). If an append is RUNNING, wait for it; if it " +
          "CRASHED, do NOT retry it — run " +
          s"TextSearch.repair(spark, \"$name\") to resync the stats " +
          "from the lens table, or rebuild the index from source.")
    }

  /** Persist the corpus as a standing BM25 index (`layout`), corpus stats
    * as table properties. `probe` then touches no corpus-side Exchange:
    * the query terms filter the bucketed postings scan by literal. The
    * tokenize happens twice (postings write, lens write) — the stats come
    * from the lens frame, staged for the write and the stats job, not a
    * third pass.
    */
  def buildIndex(df: DataFrame, textCol: String, idCol: String,
                 name: String, path: String, numBuckets: Int = 32): Unit = {
    val (post, lens) = postings(df, textCol, idCol, numBuckets)
    Stage.scoped(lens)(docLens => layout.write(df.sparkSession, name, path,
      numBuckets, Map("lens" -> docLens, "postings" -> post),
      (stats _).tupled(corpusStats(docLens))))
  }

  /** The STANDING-INDEX lifecycle in one call (r14 — the bench
    * registries' reuse pattern promoted to operator API): make sure a
    * probe-ready BM25 index named `name` exists for EXACTLY this corpus
    * content and build geometry, building/rebuilding only when it does
    * not. Returns true when it (re)built, false when the standing index
    * was reused — the caller probes either way. The reuse policy is
    * `StandingIndex.Layout.ensure`'s, shared by all four index families:
    *  - dir-backed corpora (`df` is a plain file scan, modulo
    *    Project/Filter — the common shape) key on the O(files) LISTING
    *    (file names + lengths + the plan's own filter fingerprint), so a
    *    corpus regenerated in place rebuilds and the per-call reuse cost
    *    is one directory listing, not a corpus scan. Blind spot: an
    *    in-place mutation preserving file name AND length;
    *  - everything else (and the precise opt-in, via
    *    `precomputedKey = Some(IndexManifest.textKey(df, textCol,
    *    "bm25:b<n>"))`) keys on the corpus manifest — n_docs, n_tokens,
    *    content hash, one bounded tokenize aggregate over `df`.
    * An ingest loop that already tracks its corpus manifest additively
    * (`IndexManifest.combine` per batch) passes it as `precomputedKey`
    * and skips both the scan and the listing — the 100 TB shape.
    *
    * Composes with `append`: appends through `TextSearch.append` keep a
    * manifest-scan key LIVE by combining the batch's manifest (additive);
    * a listing-derived key cannot absorb out-of-band rows, so `append`
    * DROPS it and the next `ensure` rebuilds — wasteful, never stale.
    *
    * `path` is BY-NAME: evaluated only when a (re)build actually happens,
    * so callers may pass an expression that provisions/wipes the layout
    * directory (the bench registries do) without invalidating a standing
    * index they are about to reuse. SINGLE-WRITER per index name (see
    * `StandingIndex.Layout.ensure`; mirrors `append`'s single-writer
    * note).
    */
  def ensureIndex(df: DataFrame, textCol: String, idCol: String,
                  name: String, path: => String, numBuckets: Int = 32,
                  precomputedKey: Option[String] = None): Boolean =
    layout.ensure(df, name, s"bm25:b$numBuckets", Seq(textCol, idCol),
      precomputedKey, IndexManifest.textKey(df, textCol, _))(
      buildIndex(df, textCol, idCol, name, path, numBuckets))

  /** Append an ingest batch to a standing index — the accumulate-over-
    * months half of the story (probe the batch, route dups away, append
    * the survivors — the `DedupIndex.append` rhythm). Postings and lens
    * rows land in new per-bucket files (probes stay exchange-free); the
    * corpus stats in the table properties are UPDATED from the batch's
    * own lens aggregate, so idf/avgdl keep tracking the true corpus. An
    * empty batch is a no-op (a routing stage may legitimately drop every
    * doc). The caller is responsible for id uniqueness across ingests.
    *
    * Crash ordering: stats are computed FIRST and the properties updated
    * BEFORE the data appends, so every intermediate crash state is
    * monotone-degraded (batch docs registered in N but not yet
    * retrievable — like empty docs) rather than silently mis-scored in
    * both directions. The window is additionally STAMPED: a pending-batch
    * marker is set before the stats mutation and cleared only after both
    * data appends commit, so a crashed append is detected loudly by the
    * next append (`probe` deliberately skips that check — see
    * `requireClean`) instead of silently double-counting on a blind
    * retry. Recovery: `repair` (resync stats from the lens table) or a
    * rebuild from source.
    *
    * Concurrency: appends are SINGLE-WRITER. Metastore property updates
    * are last-write-wins, so two interleaved appends could double-count
    * nDocs/sumDl without either marker firing; the stamp-then-verify
    * check below detects the common interleaving (both passed the clean
    * check, one stamp overwrote the other) and aborts the loser before
    * any data lands, but a fully adversarial schedule can still slip
    * through — serialize appends (one ingest driver per index) for the
    * hard guarantee.
    *
    * The batch is read once for its stats and once per table write, and
    * nothing of it is cached, so it must be deterministic (a local batch
    * or a table scan — not a sample). An append that starts from
    * lens-verified stats (see `probe`) marks the stats it leaves as
    * verified too: the lens table gained exactly the batch's bN rows, so
    * the next probe skips its lens count.
    */
  def append(df: DataFrame, textCol: String, idCol: String,
             name: String): Unit = graft.obs.phase("TextSearch.append") {
    val (post, docLens) = postings(df, textCol, idCol, Bucketize
      .bucketSpecOf(df.sparkSession, layout.table(name)).numBuckets)
    val (bN, bSum) = lensStats(docLens)
    if (bN > 0) appendBatch(df, textCol, name, post, docLens, bN, bSum)
  }

  private def appendBatch(df: DataFrame, textCol: String, name: String,
                          post: DataFrame, docLens: DataFrame,
                          bN: Long, bSum: Long): Unit = {
    val spark = df.sparkSession
    val pt = layout.table(name)
    val props = layout.props(spark, name)
    requireClean(props, name)
    val (nDocs, sumDl) = (props(NDocsKey).toLong, props(SumDlKey).toLong)
    val batchTag = java.util.UUID.randomUUID().toString
    Bucketize.alterTableProps(spark, pt,
      (PendingKey -> batchTag) +: stats(nDocs + bN, sumDl + bSum))
    // stamp-then-verify: appends are SINGLE-WRITER by contract (metastore
    // property updates are last-write-wins, not CAS), but two appends that
    // both passed requireClean are best-effort DETECTED here — whichever
    // stamp lost re-reads a foreign batch tag and aborts BEFORE writing
    // any data. NOTE the surviving stats are NOT guaranteed consistent in
    // either direction: depending on which ALTER landed first, the
    // winner's properties may or may not include the aborted batch's
    // counts (probe's lens-count check catches the mismatch once the
    // marker clears, unless this append carries a verified tuple forward
    // — that step trusts the single-writer contract). This shrinks (not
    // closes — see scaladoc) the interleaving window; serialize appends
    // for a hard guarantee.
    val won = layout.props(spark, name).get(PendingKey).contains(batchTag)
    if (!won) throw new IllegalStateException(
      s"TextSearch.append: concurrent append detected on '$name' — " +
        "another batch stamped the pending marker between this append's " +
        "clean-check and its stamp. This append aborted before writing " +
        "data, but the surviving stats may be inconsistent EITHER way " +
        "(last-write-wins property updates): after the in-flight append " +
        s"completes, run TextSearch.repair(spark, \"$name\") to resync " +
        "the stats from the lens table, then retry this batch. Appends " +
        "are single-writer by contract.")
    layout.append(name, Map("lens" -> docLens, "postings" -> post))
    Bucketize.alterTableProps(spark, pt, Nil, Seq(PendingKey))
    if (verifiedStats.contains(statsKey(name, nDocs, sumDl)))
      verifiedStats.add(statsKey(name, nDocs + bN, sumDl + bSum))
    // ensure-managed indexes keep their content key LIVE across appends:
    // manifest-scan keys are additive over disjoint batches, so combining
    // the batch's manifest (one batch-sized aggregate) lets a later
    // `ensureIndex` over the accumulated corpus recognize it and reuse
    // instead of rebuilding. A LISTING-derived key (the r15 default)
    // cannot absorb out-of-band rows — they are not files of the corpus
    // dir — so it is DROPPED instead: the next ensure rebuilds, wasteful
    // but never stale. Ordered AFTER the marker clears: a crash anywhere
    // in the append window leaves the OLD (or dropped) key, which
    // mismatches the (now part-appended) corpus and forces a rebuild —
    // the safe direction. Indexes built via bare `buildIndex` carry no
    // key and skip this (no extra scan).
    IndexManifest.stored(spark, pt).foreach { k =>
      if (IndexManifest.isFilesKey(k)) IndexManifest.unset(spark, pt)
      else IndexManifest.stamp(spark, pt, IndexManifest.combine(k,
        IndexManifest.textKey(df, textCol, IndexManifest.paramsOf(k))))
    }
  }

  /** Recover from a detected half-applied append: recompute nDocs/sumDl
    * from the lens table (the ground truth for both — every committed doc
    * has exactly one lens row) and clear the pending marker. Postings of
    * the crashed batch may be absent (those docs score as empty — the
    * monotone-degraded state `append` documents) but never double-counted
    * in the stats; a compact-then-rebuild is the full-fidelity path.
    */
  def repair(spark: SparkSession, name: String): Unit = {
    val (nDocs, sumDl) = corpusStats(layout.scan(spark, name, "lens"))
    Bucketize.alterTableProps(spark, layout.table(name), stats(nDocs, sumDl),
      Seq(PendingKey))
  }

  // stats tuples already lens-verified this JVM (see probe's scaladoc)
  private[graft] val verifiedStats =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def statsKey(name: String, nDocs: Long, sumDl: Long): String =
    s"$name:$nDocs:$sumDl"

  /** Probe a persisted index built by `buildIndex` — the same scorer as
    * `topk`, with corpus stats from the index's own table properties, so a
    * probe cannot desynchronize from the layout it scores against.
    *
    * Consistency check: when NO append is in flight (pending marker
    * clear), the lens-table row count must equal the `nDocs` property —
    * every committed doc writes exactly one lens row, so a mismatch means
    * a torn append whose marker was cleared without `repair` (or a
    * corrupted layout), and the probe refuses with the recovery path
    * instead of silently mis-scoring idf/avgdl. A SET marker skips the
    * check: registered-but-not-yet-retrievable batch docs are the
    * documented monotone in-flight state, and reads stay available during
    * ingest. The count is one metadata-bounded job over the two-column
    * lens table, MEMOIZED per verified (name, nDocs, sumDl) tuple per JVM
    * (r15) — a standing index probed per query batch pays it once, not
    * per probe (at 100 TB the count is an O(files) footer pass). Sound:
    * every mutation that could invalidate a verified tuple also CHANGES
    * it — `append` rewrites nDocs/sumDl (stamping the pending marker
    * first; a torn append leaves the marker or the mutated stats),
    * `repair` rewrites them, a rebuild recreates the table. An append
    * that completes from a verified tuple carries the verification
    * forward to its new tuple (see `append`). Out-of-band layout
    * corruption from ANOTHER process is outside any per-call check's
    * reach anyway (the count would race it).
    *
    * The query batch's terms are read on the driver when `probe` is
    * called (no Spark job for a local batch); the returned frame reads
    * only the index tables.
    */
  def probe(spark: SparkSession, name: String,
            queries: DataFrame, qTextCol: String, qIdCol: String,
            k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    graft.obs.phase("TextSearch.probe") {
      val props = layout.props(spark, name)
      val nDocs = props(NDocsKey).toLong
      val avgdl = props(SumDlKey).toDouble / nDocs.toDouble
      val key = statsKey(name, nDocs, props(SumDlKey).toLong)
      val lens = layout.scan(spark, name, "lens")
      if (!props.get(PendingKey).exists(_.nonEmpty) &&
          !verifiedStats.contains(key)) {
        val lensN = lens.count()
        if (lensN != nDocs) throw new IllegalStateException(
          s"TextSearch.probe: index '$name' is INCONSISTENT — lens table " +
            s"has $lensN rows but the nDocs property says $nDocs, with no " +
            "append in flight. This is a torn append whose pending marker " +
            "was cleared without resyncing (or a corrupted layout): run " +
            s"TextSearch.repair(spark, \"$name\") to resync the stats from " +
            "the lens table, or rebuild the index from source.")
        verifiedStats.add(key)
      }
      topkOf(scoreMicro(layout.scan(spark, name), Some(lens), nDocs, avgdl,
        queries, qTextCol, qIdCol, k1, b, dfViaWindow = true), k)
    }

  /** Probe a persisted index with a live query stream: each micro-batch of
    * queries runs the same batch `probe` (same plan, exchange-free df over
    * the bucketed postings); all state lives in the index layout, not in
    * stream memory — the search-as-you-ingest twin of
    * `DedupIndex.probeStream` / `AnnIndex.probeStream`
    * (`StandingIndex.probeStream`).
    */
  def probeStream(stream: DataFrame, qTextCol: String, qIdCol: String,
                  name: String, k: Int)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    StandingIndex.probeStream(stream, None,
      b => probe(b.sparkSession, name, b, qTextCol, qIdCol, k))(sink)
}
