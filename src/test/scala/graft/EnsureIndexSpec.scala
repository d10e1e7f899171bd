package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, DedupIndex, IndexManifest, StandingIndex,
  TextSearch}
import graft.sources.Bucketize

/** The standing-index lifecycle API (r14): `ensure*` builds once, reuses
  * behind a CONTENT-keyed staleness guard, and rebuilds when the corpus
  * content (not the path!) or the build geometry changes — the r13
  * verdict's cache-validity contract, spec-pinned. Also pins the
  * manifest-key algebra the guard rides on (additivity is what lets
  * `TextSearch.append` keep the key live across ingests).
  */
class EnsureIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val corpusA = Seq(
    (1L, "alpha beta gamma delta"),
    (2L, "alpha beta gamma epsilonrare"),
    (3L, "alpha beta gamma zeta")).toDF("doc_id", "text")
  // same PATHLESS identity test: B differs from A by one doc's content
  private val corpusB = Seq(
    (1L, "alpha beta gamma delta"),
    (2L, "alpha beta gamma omegascarce"),
    (3L, "alpha beta gamma zeta")).toDF("doc_id", "text")

  test("IndexManifest keys: content-addressed, param-scoped, additive") {
    val a = IndexManifest.textKey(corpusA, "text", "bm25:b8")
    // order/layout independence: a repartitioned re-read keys identically
    assert(IndexManifest.textKey(corpusA.repartition(7), "text", "bm25:b8")
      === a)
    // content sensitivity: one changed doc changes the key
    assert(IndexManifest.textKey(corpusB, "text", "bm25:b8") !== a)
    // param scoping: same content, different geometry -> different key
    assert(IndexManifest.textKey(corpusA, "text", "bm25:b16") !== a)
    // additivity over a disjoint split (what append-combining relies on)
    val lo = corpusA.filter($"doc_id" <= 1L)
    val hi = corpusA.filter($"doc_id" > 1L)
    assert(IndexManifest.combine(
      IndexManifest.textKey(lo, "text", "bm25:b8"),
      IndexManifest.textKey(hi, "text", "bm25:b8")) === a)
    // rowsKey: the vector-corpus form obeys the same laws
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.6, 0.8))).toDF("vec_id", "embedding")
    val vk = IndexManifest.rowsKey(vecs, Seq("vec_id", "embedding"), "p4")
    assert(IndexManifest.rowsKey(vecs.repartition(5),
      Seq("vec_id", "embedding"), "p4") === vk)
    assert(IndexManifest.combine(
      IndexManifest.rowsKey(vecs.filter($"vec_id" <= 1L),
        Seq("vec_id", "embedding"), "p4"),
      IndexManifest.rowsKey(vecs.filter($"vec_id" > 1L),
        Seq("vec_id", "embedding"), "p4")) === vk)
    // combining across geometries is refused loudly
    intercept[IllegalArgumentException] {
      IndexManifest.combine(a, IndexManifest.textKey(lo, "text", "bm25:b16"))
    }
  }

  test("filesKey: O(files) staleness for dir-backed corpora — reuse on an " +
    "unchanged listing, REBUILD on added/rewritten files or a changed " +
    "filter; precise textKey stays the in-place-mutation opt-in (r14 " +
    "verdict task 1)") {
    val dir = tmp("graft_fk_corpus")
    val pq = s"$dir/docs.parquet"
    corpusA.repartition(2).write.mode("overwrite").parquet(pq)
    def rd = spark.read.parquet(pq)
    val name = "graft_ensure_fk_t"
    val path = tmp("graft_fk_idx")
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4) === true)
    // the stamped key IS listing-derived — the timed reuse path pays a
    // directory listing, not a corpus tokenize scan
    val stored0 = IndexManifest.stored(spark,
      TextSearch.layout.table(name)).get
    assert(IndexManifest.isFilesKey(stored0), stored0)
    // unchanged listing -> reuse (fresh reader, same files)
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4) === false)
    // explicit filesKey over the same dir reproduces the stamped key for
    // a bare scan (the precomputedKey-compatible form)
    assert(IndexManifest.filesKey(spark, pq, "bm25:b4",
      Seq("text", "doc_id")) === stored0)
    // ...and so does the frame's own listing key: handed over as the
    // precomputed key it reuses
    val ofFrame = IndexManifest.filesKeyOf(rd, "bm25:b4", Seq("text", "doc_id"))
    assert(ofFrame === Some(stored0))
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4, precomputedKey = ofFrame) === false)
    // file ADDED (ingest landing a new part file) -> rebuild
    Seq((9L, "alpha beta gamma newdoc")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(pq)
    spark.catalog.refreshByPath(pq)
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4) === true)
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4) === false)
    // corpus REWRITTEN in place (same path, new part files) -> rebuild,
    // even at identical row content: regeneration renames
    corpusA.repartition(2).write.mode("overwrite").parquet(pq)
    spark.catalog.refreshByPath(pq)
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4) === true)
    // a FILTERED read of the same files is a different corpus: the plan
    // fingerprint rebuilds; same filter again reuses
    assert(TextSearch.ensureIndex(rd.filter($"doc_id" <= 2L), "text",
      "doc_id", name, path, numBuckets = 4) === true)
    assert(TextSearch.ensureIndex(rd.filter($"doc_id" <= 2L), "text",
      "doc_id", name, path, numBuckets = 4) === false)
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4) === true)
    // the same files indexed on a DIFFERENT column never alias
    assert(IndexManifest.filesKey(spark, pq, "bm25:b4",
      Seq("text", "doc_id")) !==
      IndexManifest.filesKey(spark, pq, "bm25:b4", Seq("other", "doc_id")))
    // in-place SAME-name SAME-length byte mutation is the documented
    // blind spot: that threat model opts into the precise scan key
    val precise = IndexManifest.textKey(rd, "text", "bm25:b4")
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4, precomputedKey = Some(precise)) === true)
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4, precomputedKey = Some(precise)) === false)
    // files keys are listing-derived, NOT additive: combine refuses
    intercept[IllegalArgumentException] {
      IndexManifest.combine(stored0, stored0)
    }
    // the vector families ride the same default: AnnIndex.ensure over a
    // dir-backed embedding corpus stamps a listing key and reuses
    val vdir = tmp("graft_fk_vec")
    Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$vdir/emb.parquet")
    def vrd = spark.read.parquet(s"$vdir/emb.parquet")
    val vname = "graft_ensure_fk_ann"
    val vpath = tmp("graft_fk_ann_idx")
    assert(AnnIndex.ensure(vrd, "embedding", "vec_id", vname, vpath,
      planesPerTable = 2, nTables = 2, numBuckets = 2) === true)
    assert(IndexManifest.isFilesKey(
      IndexManifest.stored(spark, AnnIndex.layout.table(vname)).get))
    assert(AnnIndex.ensure(vrd, "embedding", "vec_id", vname, vpath,
      planesPerTable = 2, nTables = 2, numBuckets = 2) === false)
    // ...and the kmeans-IVF twin (fourth family): listing key stamped,
    // unchanged listing reuses, regenerated-in-place rebuilds
    val kname = "graft_ensure_fk_km"
    val kpath = tmp("graft_fk_km_idx")
    assert(AnnIndex.ensureKmeans(vrd, "embedding", "vec_id", kname, kpath,
      kClusters = 2, numBuckets = 2) === true)
    assert(IndexManifest.isFilesKey(
      IndexManifest.stored(spark, AnnIndex.kmeansLayout.table(kname)).get))
    assert(AnnIndex.ensureKmeans(vrd, "embedding", "vec_id", kname, kpath,
      kClusters = 2, numBuckets = 2) === false)
    Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.8, 0.6)))
      .toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$vdir/emb.parquet")
    spark.catalog.refreshByPath(s"$vdir/emb.parquet")
    assert(AnnIndex.ensureKmeans(vrd, "embedding", "vec_id", kname, kpath,
      kClusters = 2, numBuckets = 2) === true)
  }

  test("filesKey + append: TextSearch.append DROPS a listing-derived key " +
    "(out-of-band rows are not corpus files) — next ensure rebuilds, " +
    "never stale") {
    val dir = tmp("graft_fk_app")
    val pq = s"$dir/docs.parquet"
    corpusA.write.mode("overwrite").parquet(pq)
    def rd = spark.read.parquet(pq)
    val name = "graft_ensure_fk_app"
    val path = tmp("graft_fk_app_idx")
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4) === true)
    TextSearch.append(Seq((7L, "omega psi chi")).toDF("doc_id", "text"),
      "text", "doc_id", name)
    // key dropped: the accumulated index no longer matches ANY listing
    assert(IndexManifest.stored(spark,
      TextSearch.layout.table(name)).isEmpty)
    assert(TextSearch.ensureIndex(rd, "text", "doc_id", name, path,
      numBuckets = 4) === true)
  }

  test("stamp whitelists the key charset; stampVerified detects a " +
    "concurrent ensure's clobber (single-writer contract, r14 verdict " +
    "task 2)") {
    // a key that SQL-literal escaping would munge is refused loudly, not
    // stored-in-a-form-that-never-matches (ADVICE r14)
    val name = "graft_ensure_guard_t"
    val path = tmp("graft_ensure_guard")
    assert(TextSearch.ensureIndex(corpusA, "text", "doc_id", name, path,
      numBuckets = 4) === true)
    val pt = TextSearch.layout.table(name)
    intercept[IllegalArgumentException] {
      IndexManifest.stamp(spark, pt, "bad\\key|p")
    }
    intercept[IllegalArgumentException] {
      IndexManifest.stamp(spark, pt, "bad'key|p")
    }
    // the loser of a stamp race reads back the winner's key and aborts
    // loudly instead of serving an index whose files it half-overwrote:
    // simulate the interleaving by clobbering between stamp and verify
    // (verifyStamp IS stampVerified's post-stamp read-back)
    IndexManifest.stamp(spark, pt, "9:9:fff|ours")
    IndexManifest.stamp(spark, pt, "1:2:abc|other-session")
    val e = intercept[IllegalStateException] {
      IndexManifest.verifyStamp(spark, pt, "9:9:fff|ours")
    }
    assert(e.getMessage.contains("concurrent ensure"))
    // and the match case passes
    IndexManifest.verifyStamp(spark, pt, "1:2:abc|other-session")
  }

  test("TextSearch.ensureIndex: build once, reuse on identical content, " +
    "REBUILD when the corpus mutates in place (r13 verdict task 1)") {
    val name = "graft_ensure_bm25_t"
    val path = tmp("graft_ensure_bm25")
    assert(TextSearch.ensureIndex(corpusA, "text", "doc_id", name, path,
      numBuckets = 4) === true)  // first call builds
    assert(TextSearch.ensureIndex(corpusA, "text", "doc_id", name, path,
      numBuckets = 4) === false) // unchanged content reuses
    val qs = Seq((10L, "omegascarce")).toDF("q_id", "q_text")
    // the index still serves corpus A: the B-only term finds nothing
    // rank-1-relevant... then the corpus "regenerates in place" (same
    // name, same path, new content) and ensure REBUILDS instead of
    // silently serving A — the exact failure mode the dir-keyed r13
    // guard had
    assert(TextSearch.ensureIndex(corpusB, "text", "doc_id", name, path,
      numBuckets = 4) === true)
    val hits = TextSearch.probe(spark, name, qs, "q_text", "q_id", k = 1)
      .collect()
    assert(hits.length === 1 && hits(0).getAs[Long]("doc_id") === 2L,
      hits.mkString(","))
    // changed build geometry over identical content also rebuilds
    assert(TextSearch.ensureIndex(corpusB, "text", "doc_id", name, path,
      numBuckets = 8) === true)
    // precomputedKey: a caller-tracked manifest skips the corpus scan;
    // matching key -> reuse
    val k8 = IndexManifest.textKey(corpusB, "text", "bm25:b8")
    assert(TextSearch.ensureIndex(corpusB, "text", "doc_id", name, path,
      numBuckets = 8, precomputedKey = Some(k8)) === false)
  }

  test("TextSearch.append keeps the ensure key LIVE: ensure(half) + " +
    "append(rest) then ensure(full) reuses — manifests are additive") {
    val name = "graft_ensure_bm25_app"
    val path = tmp("graft_ensure_app")
    val full = corpusA
    val half = full.filter($"doc_id" <= 2L)
    val rest = full.filter($"doc_id" > 2L)
    assert(TextSearch.ensureIndex(half, "text", "doc_id", name, path,
      numBuckets = 4) === true)
    TextSearch.append(rest, "text", "doc_id", name)
    // the accumulated index IS the full corpus: no rebuild
    assert(TextSearch.ensureIndex(full, "text", "doc_id", name, path,
      numBuckets = 4) === false)
    // and it ranks exactly like a one-shot build (the append parity
    // contract, via the reused standing index)
    val qs = Seq((10L, "epsilonrare alpha")).toDF("q_id", "q_text")
    val viaEnsure = TextSearch.probe(spark, name, qs, "q_text", "q_id", k = 3)
      .select("q_id", "doc_id", "rank").collect().map(_.toSeq).toSet
    val oneShot = TextSearch.topk(full, "text", "doc_id", qs, "q_text",
      "q_id", k = 3).select("q_id", "doc_id", "rank")
      .collect().map(_.toSeq).toSet
    assert(viaEnsure === oneShot)
  }

  /** One index family driven through its public lifecycle verbs — the
    * rows of the table-driven lifecycle test below.
    */
  private case class Family(
      label: String, corpus: DataFrame, batch: DataFrame, cols: Seq[String],
      params: Int => String, layout: StandingIndex.Layout,
      ensure: (DataFrame, String, String, Int) => Boolean,
      append: (DataFrame, String) => Unit,
      probe: String => Set[Seq[Any]])

  /** Parquet files per bucket id under a bucketed table's directory
    * (Spark names bucket files `part-…_<bucketId>.c000….parquet`).
    */
  private def filesPerBucket(dir: String): Map[Int, Int] = {
    val id = """.*_(\d+)(?:\..*)?$""".r
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".parquet"))
      .collect { case id(b) => b.toInt }
      .groupBy(identity).map { case (b, fs) => b -> fs.length }
  }

  test("one lifecycle for all four index families: ensure builds, reuses, " +
    "rebuilds on changed params; append then compact leaves one file per " +
    "bucket with probes unchanged; stored keys keep their params format") {
    val docs = (1L to 12L).map(i =>
      (i, s"alpha beta w${i % 5} v${i % 3} gamma term$i delta"))
      .toDF("doc_id", "text")
    val docBatch = (101L to 106L).map(i =>
      (i, s"omega psi w${i % 5} chi v${i % 3} term$i")).toDF("doc_id", "text")
    val vecs = (1L to 12L).map(i =>
      (i, Seq(math.cos(i * 0.5), math.sin(i * 0.5), (i % 3).toDouble / 3)))
      .toDF("vec_id", "embedding")
    val vecBatch = (101L to 106L).map(i =>
      (i, Seq(math.cos(i * 0.7), math.sin(i * 0.7), (i % 2).toDouble)))
      .toDF("vec_id", "embedding")
    val textQs = Seq((1L, "alpha w1 term3"), (2L, "omega term102 v1"))
      .toDF("q_id", "q_text")
    val dupQs = Seq((901L, "alpha beta w2 v2 gamma term2 delta"),
      (902L, "omega psi w3 chi v0 term103")).toDF("doc_id", "text")
    val vecQs = Seq((901L, Seq(1.0, 0.2, 0.3)), (902L, Seq(-0.4, 0.9, 1.0)))
      .toDF("vec_id", "embedding")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val families = Seq(
      Family("bm25", docs, docBatch, Seq("text", "doc_id"), b => s"bm25:b$b",
        TextSearch.layout,
        TextSearch.ensureIndex(_, "text", "doc_id", _, _, _),
        TextSearch.append(_, "text", "doc_id", _),
        n => rows(TextSearch.probe(spark, n, textQs, "q_text", "q_id", k = 3))),
      Family("dedup", docs, docBatch, Seq("text", "doc_id"),
        b => s"mhband:n3:r2:nb8:b$b", DedupIndex.layout,
        (df, n, p, b) => DedupIndex.ensure(df, "text", "doc_id", n, p,
          numBuckets = b),
        DedupIndex.append(_, "text", "doc_id", _),
        n => rows(DedupIndex.probe(dupQs, "text", "doc_id", n, 0.3))),
      Family("annlsh", vecs, vecBatch, Seq("vec_id", "embedding"),
        b => s"annlsh:p2:t4:b$b:qfalse", AnnIndex.layout,
        (df, n, p, b) => AnnIndex.ensure(df, "embedding", "vec_id", n, p,
          planesPerTable = 2, nTables = 4, numBuckets = b),
        AnnIndex.append(_, "embedding", "vec_id", _),
        n => rows(AnnIndex.probe(vecQs, "embedding", "vec_id", n, k = 3))),
      Family("annkm", vecs, vecBatch, Seq("vec_id", "embedding"),
        b => s"annkm:k2:i2:b$b", AnnIndex.kmeansLayout,
        (df, n, p, b) => AnnIndex.ensureKmeans(df, "embedding", "vec_id", n,
          p, kClusters = 2, numBuckets = b),
        AnnIndex.appendKmeans(_, "embedding", "vec_id", _),
        n => rows(AnnIndex.probeKmeans(vecQs, "embedding", "vec_id", n,
          k = 3, nProbe = 2))))
    families.foreach { f =>
      val dir = s"${tmp(s"graft_lc_${f.label}_src")}/corpus.parquet"
      f.corpus.repartition(2).write.parquet(dir)
      def rd = spark.read.parquet(dir)
      val name = s"graft_lc_${f.label}"
      val path = tmp(s"graft_lc_${f.label}_idx")
      assert(f.ensure(rd, name, path, 2), s"${f.label}: first ensure builds")
      assert(!f.ensure(rd, name, path, 2), s"${f.label}: ensure reuses")
      // the key format predates the shared lifecycle: an index stamped
      // before it is recognized (reused), not rebuilt
      assert(IndexManifest.stored(spark, f.layout.table(name)) ===
        Some(IndexManifest.filesKey(spark, dir, f.params(2), f.cols)), f.label)
      assert(f.ensure(rd, name, path, 4), s"${f.label}: new params rebuild")
      f.append(f.batch, name)
      assert(filesPerBucket(s"$path/${f.layout.primary}").values.max > 1,
        s"${f.label}: the append must leave a bucket with several files")
      val before = f.probe(name)
      assert(before.nonEmpty, s"${f.label}: probe finds nothing")
      val newPath = tmp(s"graft_lc_${f.label}_compact")
      f.layout.compact(spark, name, newPath)
      f.layout.parts.foreach { p =>
        val fpb = filesPerBucket(s"$newPath/${p.name}")
        assert(fpb.nonEmpty && fpb.values.forall(_ == 1),
          s"${f.label}/${p.name}: one file per bucket after compact, got $fpb")
      }
      assert(f.probe(name) === before, s"${f.label}: probe moved on compact")
    }
  }

  test("DedupIndex.ensure / AnnIndex.ensure: reuse vs rebuild observable; " +
    "out-of-band AnnIndex.append invalidates by REBUILD, never staleness") {
    val dname = "graft_ensure_dedup_t"
    val dpath = tmp("graft_ensure_dedup")
    assert(DedupIndex.ensure(corpusA, "text", "doc_id", dname, dpath,
      numBuckets = 4) === true)
    assert(DedupIndex.ensure(corpusA, "text", "doc_id", dname, dpath,
      numBuckets = 4) === false)
    assert(DedupIndex.ensure(corpusB, "text", "doc_id", dname, dpath,
      numBuckets = 4) === true)
    // the rebuilt index matches corpus B, not A: probing B's unique doc
    // against it finds its B twin
    val batch = Seq((99L, "alpha beta gamma omegascarce"))
      .toDF("doc_id", "text")
    val m = DedupIndex.probe(batch, "text", "doc_id", dname,
      minJaccard = 0.5).collect()
    assert(m.length === 1 && m(0).getAs[Long]("match_id") === 2L,
      m.mkString(","))

    val vecs = Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0))).toDF("vec_id", "embedding")
    val aname = "graft_ensure_ann_t"
    val apath = tmp("graft_ensure_ann")
    assert(AnnIndex.ensure(vecs, "embedding", "vec_id", aname, apath,
      planesPerTable = 2, nTables = 4, numBuckets = 4) === true)
    assert(AnnIndex.ensure(vecs, "embedding", "vec_id", aname, apath,
      planesPerTable = 2, nTables = 4, numBuckets = 4) === false)
    // property-free append (the concurrent-append contract) leaves the
    // stamped key describing the PRE-append corpus; the next ensure over
    // the accumulated corpus therefore rebuilds — wasteful, never stale
    val extra = Seq((4L, Seq(0.6, 0.8, 0.0))).toDF("vec_id", "embedding")
    AnnIndex.append(extra, "embedding", "vec_id", aname)
    assert(AnnIndex.ensure(vecs.unionByName(extra), "embedding", "vec_id",
      aname, apath, planesPerTable = 2, nTables = 4, numBuckets = 4) === true)
    // kmeans twin: same lifecycle
    val kname = "graft_ensure_annkm_t"
    val kpath = tmp("graft_ensure_annkm")
    assert(AnnIndex.ensureKmeans(vecs, "embedding", "vec_id", kname, kpath,
      kClusters = 2, numBuckets = 4) === true)
    assert(AnnIndex.ensureKmeans(vecs, "embedding", "vec_id", kname, kpath,
      kClusters = 2, numBuckets = 4) === false)
  }

  test("an index whose primary table was written without properties " +
    "fails naming the index and what is missing, for every family") {
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val textQs = Seq((1L, "alpha")).toDF("q_id", "q_text")
    // (family, layout, primary rows, probe, what the error must name):
    // the k-means family keeps no properties, so what its probe misses on
    // a bare primary is the centroids part
    val cases = Seq[(String, StandingIndex.Layout, DataFrame, String => Any,
        String => String)](
      ("bm25", TextSearch.layout,
        Seq(("alpha", 1L, 1L)).toDF("term", "doc_id", "tf"),
        TextSearch.probe(spark, _, textQs, "q_text", "q_id", k = 1),
        _ => "graft.bm25.nDocs"),
      ("dedup", DedupIndex.layout, Seq((1L, 7L)).toDF("id", "band"),
        DedupIndex.probe(corpusA, "text", "doc_id", _),
        _ => "graft.n"),
      ("annlsh", AnnIndex.layout,
        Seq((0, 0, 1L, Seq(1.0, 0.0))).toDF("tbl", "bkt", "corpus_id", "cv"),
        AnnIndex.probe(vecs, "embedding", "vec_id", _, k = 1),
        _ => "graft.planesPerTable"),
      ("annkm", AnnIndex.kmeansLayout,
        Seq((0, 1L, Seq(1.0, 0.0))).toDF("cid", "corpus_id", "cv"),
        AnnIndex.probeKmeans(vecs, "embedding", "vec_id", _, k = 1),
        n => s"${n}_centroids"))
    cases.foreach { case (label, layout, rows, probe, missing) =>
      val name = s"graft_bare_$label"
      val primary = layout.parts.find(_.name == layout.primary).get
      Bucketize.writeBucketed(rows, layout.table(name),
        s"${tmp(s"graft_bare_$label")}/${primary.name}", primary.keys, 2)
      val e = intercept[IllegalStateException](probe(name))
      assert(e.getMessage.contains(s"'$name'") &&
        e.getMessage.contains(missing(name)), s"$label: ${e.getMessage}")
    }
  }
}
