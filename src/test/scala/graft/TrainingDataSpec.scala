package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VecExprs
import graft.operators.{Decontaminate, Dedup, Recipe, TextAnalysis}

/** Training-data curation operators added in round 7's second half:
  * repetition quality signals, benchmark decontamination, semantic
  * (embedding-cluster) dedup.
  */
class TrainingDataSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("NgramRepStats matches the composed higher-order-function form") {
    val docs = TestSpark.table("documents").limit(60).select($"text")
    for (n <- Seq(1, 2, 3)) {
      // composed form: build the n-gram list with HOFs, then count — the
      // O(tokens^2) definition the loop expression must reproduce
      val toks = graft.functions.Text.tokens($"text")
      val m = size(toks) - (n - 1)
      val grams = when(m <= 0, array().cast("array<string>")).otherwise(
        transform(sequence(lit(0), m - 1),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
      val composed = docs.select(
        when(m <= 0, lit(0L)).otherwise(m.cast("long")).as("total"),
        when(m <= 0, lit(0L))
          .otherwise(size(array_distinct(grams)).cast("long")).as("distinct"),
        when(m <= 0, lit(0L)).otherwise(
          array_max(transform(array_distinct(grams),
            g => size(filter(grams, x => x === g)))).cast("long")).as("top"))
      val viaExpr = docs.select(
        VecExprs.ngramRepStats($"text", n).as("s")).select($"s.*")
      assert(viaExpr.except(composed).count() === 0, s"n=$n expr-only rows")
      assert(composed.except(viaExpr).count() === 0, s"n=$n composed-only rows")
    }
  }

  test("repetitionFeatures hand case") {
    val df = Seq((1L, "a a a a a a a a a b")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionFeatures(df, "text").collect()(0)
    assert(r.getAs[Double]("dup_word_frac") === 0.8) // 10 tokens, 2 distinct
    // bigrams: "a a" x8 + "a b" -> total 9 distinct 2 top 8
    assert(r.getAs[Double]("dup_2gram_frac") === 0.777778)
    assert(r.getAs[Double]("top_2gram_frac") === 1.6) // 8 * 2 / 10 (overlaps counted)
    // trigrams: "a a a" x7 + "a a b" -> total 8 distinct 2 top 7
    assert(r.getAs[Double]("dup_3gram_frac") === 0.75)
    assert(r.getAs[Double]("top_3gram_frac") === 2.1) // 7 * 3 / 10
    assert(!r.getAs[Boolean]("repetition_ok"))
  }

  test("repetitionFeatures: short and empty docs read as no repetition") {
    val df = Seq((1L, "unique words only"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionFeatures(df, "text")
      .orderBy($"doc_id").collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("dup_word_frac") === 0.0)
      assert(r.getAs[Boolean]("repetition_ok"))
    }
  }

  test("Decontaminate flags exactly the docs sharing a benchmark n-gram") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "a doc containing the quick brown fox phrase verbatim"),
      (2L, "quick brown fox elsewhere"), // only a 3-gram overlap
      (3L, "completely unrelated content here")
    ).toDF("doc_id", "text")
    val flags = Decontaminate.flag(train, bench, "text", "doc_id", n = 4)
      .orderBy($"doc_id").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags === Map(1L -> true, 2L -> false, 3L -> false))
    val cleaned = Decontaminate.clean(train, bench, "text", "doc_id", n = 4)
    assert(cleaned.select($"doc_id").as[Long].collect().sorted === Seq(2L, 3L))
  }

  test("Decontaminate: benchmark docs shorter than n contaminate exact copies") {
    val bench = Seq((100L, "tiny doc")).toDF("doc_id", "text")
    val train = Seq((1L, "Tiny DOC!"), (2L, "tiny dog")).toDF("doc_id", "text")
    val flags = Decontaminate.flag(train, bench, "text", "doc_id", n = 8)
      .orderBy($"doc_id").collect().map(r => r.getBoolean(1))
    assert(flags === Seq(true, false)) // normalization matches, "tiny dog" not
  }

  test("flagBloom never misses exact contamination; false positives bounded") {
    val docs = TestSpark.table("documents").limit(300)
    val bench = docs.filter($"doc_id" % 17 === 0)
    val train = docs.filter($"doc_id" % 17 =!= 0)
    val exact = Decontaminate.flag(train, bench, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val bloomed = Decontaminate.flagBloom(train, bench, "text", "doc_id",
      n = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(bloomed.keySet === exact.keySet)
    // one-sided error: every exact hit is bloom-flagged
    exact.foreach { case (id, hit) =>
      if (hit) assert(bloomed(id), s"doc $id: bloom missed an exact hit")
    }
    // doc-level FP ~ grams-per-doc * fpp: at the 1e-6 default and ~40
    // grams/doc the expected count over a few hundred clean docs is ~0.01
    val clean = exact.collect { case (id, false) => id }
    val fp = clean.count(bloomed(_))
    assert(fp <= 2, s"$fp false positives of ${clean.size}")
  }

  test("flagBloom at a careless fpp shows the compounding the default avoids") {
    // regression-documenting case: fpp is PER PROBED GRAM — 1e-2 on
    // ~40-gram docs flips a large fraction of clean docs, which is why
    // the default is 1e-6 (sized against gram counts, not row counts)
    val docs = TestSpark.table("documents").limit(300)
    val bench = docs.filter($"doc_id" % 17 === 0)
    val train = docs.filter($"doc_id" % 17 =!= 0)
    val exact = Decontaminate.flag(train, bench, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val loose = Decontaminate.flagBloom(train, bench, "text", "doc_id",
      n = 4, fpp = 1e-2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val clean = exact.collect { case (id, false) => id }
    val fp = clean.count(loose(_))
    assert(fp > clean.size / 20, s"expected visible compounding, saw $fp")
  }

  test("Decontaminate.semantic: embedding-near items flag with best match") {
    // bench 100 = e1, 101 = e2; corpus: 1 ≈ e1 (flag), 2 = e2 exactly
    // (flag, cosine 1), 3 orthogonal-ish (clean), 4 null vec (clean row)
    def vec(xs: Double*) = xs.toArray
    val corpus = Seq(
      (1L, vec(0.99, 0.1, 0, 0)), (2L, vec(0, 1, 0, 0)),
      (3L, vec(0, 0, 0, 1))
    ).toDF("vec_id", "embedding")
      .unionByName(Seq((4L, Option.empty[Array[Double]]))
        .toDF("vec_id", "embedding"))
    val bench = Seq((100L, vec(1, 0, 0, 0)), (101L, vec(0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Decontaminate.semantic(corpus, bench,
        "embedding", "vec_id", minCosine = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L)) // one row per corpus item
    assert(out(1L)._1 && out(1L)._2.contains(100L))
    assert(out(2L)._1 && out(2L)._2.contains(101L) &&
      out(2L)._3.contains(1.0))
    assert(out(3L) === ((false, None, None)))
    assert(out(4L) === ((false, None, None))) // null embedding -> clean row
  }

  test("Pack.sequences: boundary-aligned packing per shard, oversized docs clamp") {
    val docs = Seq(
      // shard a, budget 10: tokens 6,6,6 -> starts 0,6,12 -> packs 0,0,1
      ("a", 1L, 6L), ("a", 2L, 6L), ("a", 3L, 6L),
      // shard b: an oversized doc (25 -> clamped 10) consumes one pack
      // exactly and realigns: starts 0,10,14 -> packs 0,1,1
      ("b", 1L, 25L), ("b", 2L, 4L), ("b", 3L, 5L)
    ).toDF("src", "doc_id", "toks")
    val out = graft.operators.Pack.sequences(docs, "toks", budget = 10L,
        groupCol = "src", idCol = "doc_id")
      .select($"src", $"doc_id", $"pack_id", $"pack_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out(("a", 1L)) === (0L, 6L))
    assert(out(("a", 2L)) === (0L, 6L)) // starts at 6, inside pack 0 (overflow form)
    assert(out(("a", 3L)) === (1L, 6L))
    assert(out(("b", 1L)) === (0L, 10L)) // clamped to the budget
    assert(out(("b", 2L)) === (1L, 4L))
    assert(out(("b", 3L)) === (1L, 5L))
    val stats = graft.operators.Pack.packStats(
      graft.operators.Pack.sequences(docs, "toks", 10L, "src", "doc_id"), "src")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(stats(("a", 0L)) === (2L, 12L)) // straddle overflow, < 2*budget
    assert(stats(("b", 0L)) === (1L, 10L))
  }

  test("Pack.sequences subShards: per-sub-stream boundary alignment equals " +
    "packing each sub-slice alone; pack ids namespaced collision-free") {
    val docs = (1L to 200L).map(i => ("a", i, (i % 9) + 1L))
      .toDF("src", "doc_id", "toks")
    val n = 4
    val out = graft.operators.Pack.sequences(docs, "toks", budget = 20L,
        groupCol = "src", idCol = "doc_id", subShards = n)
      .select($"doc_id", $"pack_id", $"pack_tokens")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the deterministic sub-shard of each id (the md5(id:"shard") contract)
    val subOf = docs.select($"doc_id",
        pmod(conv(substring(md5(concat_ws(":", $"doc_id".cast("string"),
          lit("shard"))), 1, 15), 16, 10).cast("long"), lit(n.toLong)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(subOf.values.toSet.size > 1, "the split must actually spread")
    // namespacing: pack_id mod subShards recovers the sub-shard
    out.foreach { case (id, (pid, _)) =>
      assert(pid % n === subOf(id), s"doc $id pack $pid wrong namespace")
    }
    // each sub-stream's packing == packing that slice alone (policy
    // equivalence: sub-sharding only re-scopes the stream)
    (0 until n).foreach { s =>
      val slice = docs.filter(
        pmod(conv(substring(md5(concat_ws(":", $"doc_id".cast("string"),
          lit("shard"))), 1, 15), 16, 10).cast("long"), lit(n.toLong)) === s)
      val alone = graft.operators.Pack.sequences(slice, "toks", 20L, "src",
          "doc_id")
        .select($"doc_id", $"pack_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      alone.foreach { case (id, local) =>
        assert(out(id)._1 === local * n + s,
          s"doc $id: sub-stream $s must pack independently")
      }
    }
  }

  test("Pack.sequencesBy: composite (id, repeat) order with string ids — " +
    "bytewise stream order, repeats pack adjacently") {
    val docs = Seq(
      // bytewise id order: d1 < d10 < d2 — the string-id contract
      ("a", "d1", 0L, 6L), ("a", "d1", 1L, 6L),
      ("a", "d10", 0L, 6L), ("a", "d2", 0L, 6L)
    ).toDF("src", "doc_id", "repeat_idx", "toks")
    val out = graft.operators.Pack.sequencesBy(docs, "toks", budget = 10L,
        groupCol = "src", orderCols = Seq("doc_id", "repeat_idx"))
      .select($"doc_id", $"repeat_idx", $"pack_id")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // stream: (d1,0) (d1,1) (d10,0) (d2,0) with starts 0,6,12,18
    assert(out(("d1", 0L)) === 0L)
    assert(out(("d1", 1L)) === 0L)
    assert(out(("d10", 0L)) === 1L)
    assert(out(("d2", 0L)) === 1L)
  }

  test("Pack.toTrainingRows: pack-ordered concat, start offsets, tail truncation") {
    // shard a, budget 10: docs of 6,6,6 tokens -> pack 0 = {1,2} (12
    // tokens, straddle overflow), pack 1 = {3}
    val docs = Seq(
      ("a", 1L, (0 until 6).toArray),
      ("a", 2L, (10 until 16).toArray),
      ("a", 3L, (20 until 26).toArray)
    ).toDF("src", "doc_id", "ids")
      .withColumn("n_toks", size($"ids").cast("long"))
    val packed = graft.operators.Pack.sequences(docs, "n_toks", 10L,
      "src", "doc_id")
    val rows = graft.operators.Pack.toTrainingRows(packed, "ids", "src",
        "doc_id", budget = 10L)
      .collect().map(r => r.getAs[Long]("pack_id") -> r).toMap
    val p0 = rows(0L)
    assert(p0.getAs[Seq[Long]]("doc_ids") === Seq(1L, 2L))
    assert(p0.getAs[Seq[Long]]("doc_starts") === Seq(0L, 6L))
    // 12 concatenated tokens truncate at the 10-token budget
    assert(p0.getAs[Seq[Int]]("input_ids") ===
      ((0 until 6) ++ (10 until 14)).toSeq)
    assert(p0.getAs[Long]("n_tokens") === 10L)
    assert(p0.getAs[Long]("n_docs") === 2L)
    val p1 = rows(1L)
    assert(p1.getAs[Seq[Long]]("doc_ids") === Seq(3L))
    assert(p1.getAs[Seq[Int]]("input_ids") === (20 until 26).toSeq)
    // untruncated form keeps the straddling tail intact
    val raw = graft.operators.Pack.toTrainingRows(packed, "ids", "src",
        "doc_id", budget = 10L, truncate = false)
      .collect().map(r => r.getAs[Long]("pack_id") -> r).toMap
    assert(raw(0L).getAs[Seq[Int]]("input_ids").length === 12)
  }

  test("toTrainingRows replays the seeded stream order of shuffled packs") {
    val docs = (1L to 8L).map(i =>
      ("a", i, (i * 100 until i * 100 + 5).map(_.toInt).toArray))
      .toDF("src", "doc_id", "ids")
      .withColumn("n_toks", size($"ids").cast("long"))
    val seed = Some(7L)
    val packed = graft.operators.Pack.sequences(docs, "n_toks", 12L,
      "src", "doc_id", shuffleSeed = seed)
    // expected per-pack member order = the md5(id:seed) stream order the
    // window packed in (same key, tie-broken by id)
    val streamOrder = packed
      .withColumn("o", md5(concat_ws(":", $"doc_id".cast("string"), lit("7"))))
      .orderBy($"o", $"doc_id")
      .select($"pack_id", $"doc_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val rows = graft.operators.Pack.toTrainingRows(packed, "ids", "src",
        "doc_id", budget = 12L, shuffleSeed = seed)
      .collect().map(r => r.getAs[Long]("pack_id") ->
        (r.getAs[collection.Seq[Long]]("doc_ids").toSeq,
          r.getAs[collection.Seq[Int]]("input_ids").toSeq)).toMap
    rows.foreach { case (pid, (dids, ids)) =>
      assert(dids === streamOrder(pid),
        s"pack $pid member order must replay the seeded stream")
      // the concatenation follows the same order (first member's tokens
      // lead the sequence)
      assert(ids.take(5) === (dids.head * 100 until dids.head * 100 + 5)
        .map(_.toInt).toSeq)
    }
    // id order and stream order genuinely differ somewhere on this fixture
    assert(streamOrder.values.exists(v => v != v.sorted),
      "fixture must exercise a non-id stream order")
  }

  test("Bpe vocab + tokenizeIds: alphabet-first ids, unknowns are -1, round-trip") {
    val corpus = Seq("low lower lowest low low", "new newer newest new")
      .toDF("text")
    val m = graft.operators.Bpe.fit(corpus, "text", numMerges = 4)
    // alphabet = sorted distinct chars of the word table; vocab prepends it
    assert(m.alphabet === m.alphabet.sorted)
    assert(m.alphabet.distinct === m.alphabet)
    val v = m.vocab
    assert(v.take(m.alphabet.length) === m.alphabet)
    assert(v.distinct === v)
    // ids: every subword of in-alphabet text resolves; an out-of-alphabet
    // char maps to -1
    val out = graft.operators.Bpe.tokenizeIds(
      Seq((1L, "low newest"), (2L, "zzz")).toDF("id", "text"),
      "text", Seq("id"), m)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getSeq[Int](2))).toMap
    val (toks1, ids1) = out(1L)
    assert(ids1.length === toks1.length)
    ids1.zip(toks1).foreach { case (id, t) =>
      assert(id >= 0 && v(id) === t, s"token $t resolved to id $id")
    }
    assert(out(2L)._2.forall(_ === -1), "z is outside the fitted alphabet")
    // persistence: alphabet (and so the id space) survives save/load
    val f = java.nio.file.Files.createTempDirectory("bpe_ids").toString + "/m.json"
    graft.operators.Bpe.save(m, f)
    val loaded = graft.operators.Bpe.load(f)
    assert(loaded === m)
    assert(loaded.vocab === v)
  }

  test("semanticDedup flags the higher id of a near-identical pair only") {
    // two tight groups far apart; within group A ids 1,2 are near-identical
    def v(base: Array[Double], eps: Double) = base.map(_ + eps)
    val a = Array(1.0, 0.0, 0.0, 0.0)
    val b = Array(0.0, 1.0, 0.0, 0.0)
    val rows = Seq(
      (1L, v(a, 0.0).toSeq), (2L, v(a, 0.001).toSeq), // cosine ~ 1
      (3L, b.toSeq), (4L, Array(0.0, 0.0, 1.0, 0.0).toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "embedding", "vec_id",
      minCosine = 0.95, kClusters = 2, iters = 2)
      .orderBy($"vec_id").collect()
    val dup = out.map(r => r.getLong(0) -> r.getAs[Boolean]("is_dup")).toMap
    assert(!dup(1L), "cluster-minimum id is never a duplicate")
    assert(dup(2L), "near-identical higher id is pruned")
    assert(!dup(3L) && !dup(4L), "dissimilar vectors survive")
  }

  test("multi-probe semantic dedup flags a superset of single-assignment") {
    val emb = TestSpark.table("embeddings").limit(150)
    def flagged(df: org.apache.spark.sql.DataFrame) =
      df.filter($"is_dup").select($"vec_id").as[Long].collect().toSet
    val single = flagged(Dedup.semanticDedup(emb, "embedding", "vec_id",
      minCosine = 0.3, kClusters = 8, iters = 2))
    val multi = flagged(Dedup.semanticDedupMultiProbe(emb, "embedding",
      "vec_id", minCosine = 0.3, kClusters = 8, iters = 2, nProbe = 2))
    // probe set includes the nearest cell, so every single-assignment pair
    // is still co-probed: multi-probe can only ADD flags
    assert(single.subsetOf(multi),
      s"lost flags: ${(single -- multi).take(5)}")
  }

  test("semanticDedup verdicts are self-consistent with its own clusters") {
    val emb = TestSpark.table("embeddings").limit(120)
    val out = Dedup.semanticDedup(emb, "embedding", "vec_id", minCosine = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Boolean]("is_dup")))
    val vecs = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(x: Array[Double], y: Array[Double]): Double = {
      def n(v: Array[Double]) = math.sqrt(v.map(e => e * e).sum)
      x.zip(y).map { case (p, q) => p * q }.sum / (n(x) * n(y))
    }
    val byCluster = out.groupBy(_._2)
    out.foreach { case (id, cid, isDup) =>
      val lowerPeers = byCluster(cid).filter(_._1 < id)
      val expected = lowerPeers.exists { case (pid, _, _) =>
        // mirror the operator's round-to-6-then-compare contract exactly:
        // an unrounded check flips verdicts within float noise of the cut
        BigDecimal(cos(vecs(id), vecs(pid)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.4
      }
      assert(isDup === expected, s"vec $id in cell $cid")
    }
  }

  test("Curation.manifest: layout-invariant corpus identity that moves on " +
    "any content change") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"document body number $i words"))
      .toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Curation.manifest(df, "text").head()
    val base = m(docs)
    // row order, partitioning, and an extra unused column are invisible
    assert(m(docs.repartition(7)) === base)
    assert(m(docs.orderBy($"doc_id".desc)) === base)
    assert(m(docs.withColumn("extra", lit(1))) === base)
    // whitespace/case variants share the normalized fingerprint
    assert(m(docs.withColumn("text", upper($"text"))) .getString(2) ===
      base.getString(2))
    // one changed doc, one dropped doc, one added doc each move the hash
    val changed = m(docs.withColumn("text",
      when($"doc_id" === 7L, lit("tampered")).otherwise($"text")))
    assert(changed.getString(2) !== base.getString(2))
    assert(m(docs.filter($"doc_id" =!= 7L)).getString(2) !== base.getString(2))
    assert(m(docs.union(Seq((999L, "new doc")).toDF("doc_id", "text")))
      .getString(2) !== base.getString(2))
    // degenerate: empty corpus has a defined manifest
    val empty = m(docs.filter(lit(false)))
    assert(empty.getLong(0) === 0L && empty.getLong(1) === 0L)
    // additive over disjoint batches: the streaming running-manifest law
    def t3(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2))
    val (lo, hi) = (docs.filter($"doc_id" <= 100), docs.filter($"doc_id" > 100))
    assert(graft.operators.Curation.combineManifests(t3(m(lo)), t3(m(hi)))
      === t3(base))
  }

  test("Curation.snapshotDiff labels added/removed/changed/unchanged by " +
    "content fingerprint") {
    import spark.implicits._
    val old = Seq((1L, "Hello World"), (2L, "b"), (3L, "c"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val neu = Seq((1L, "hello, world!"), (2L, "B2"), (4L, "d"), (5L, ""))
      .toDF("doc_id", "text")
    val m = graft.operators.Curation.snapshotDiff(old, neu, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // normalization-equal edits are unchanged — the same fingerprint the
    // manifest/dedup stages key on; null fingerprints as empty string
    assert(m === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged"))
  }

  test("Pack mega-shard guard (r13): a 90/10-skewed dominant shard above " +
    "maxShardRows fails loudly with the subShards value that restores it") {
    val docs = ((1L to 90L).map(i => ("web", i, 5L)) ++
      (1L to 10L).map(i => ("books", i + 1000L, 5L)))
      .toDF("src", "doc_id", "toks")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Pack.sequences(docs, "toks", 10L, "src", "doc_id",
        maxShardRows = 32L)
    }
    assert(e.getMessage.contains("'web'") && e.getMessage.contains("90 rows"),
      e.getMessage)
    assert(e.getMessage.contains("subShards >= 3"), e.getMessage)
    // the suggested subShards clears the guard (ceil(90/3) = 30 <= 32)
    assert(graft.operators.Pack.sequences(docs, "toks", 10L, "src", "doc_id",
      subShards = 3, maxShardRows = 32L).count() === 100L)
    // an INSUFFICIENT subShards still trips (ceil(90/2) = 45 > 32) and
    // the message names the residual per-task size
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Pack.sequences(docs, "toks", 10L, "src", "doc_id",
        subShards = 2, maxShardRows = 32L)
    }
    assert(e2.getMessage.contains("45"), e2.getMessage)
    // maxShardRows = 0 disables the probe (caller vouches)
    assert(graft.operators.Pack.sequences(docs, "toks", 10L, "src", "doc_id",
      maxShardRows = 0L).count() === 100L)
    // the guard composes through Recipe.compose's maxGroupRows: the
    // message must surface with the packSubShards pointer. The classifier
    // seeds are made separable (neg = junk vocabulary) so the quality
    // gate keeps the pool and the pack stage is actually reached.
    val cdocs = docs.select($"doc_id", $"src".as("source"),
      concat(lit("good clean body text number "), $"doc_id").as("text"))
    val negSeed = Seq((9991L, "junk", "zz yy xx ww vv uu"))
      .toDF("doc_id", "source", "text")
    val e3 = intercept[IllegalArgumentException] {
      graft.operators.Recipe.compose(cdocs, "text", "doc_id", "source",
        pos = cdocs.limit(5), neg = negSeed,
        budgets = Map("web" -> 1000000L, "books" -> 1000000L),
        epochs = Map.empty, maxGroupRows = 4L).count()
    }
    assert(e3.getMessage.contains("packSubShards"), e3.getMessage)
  }

  /** q_pipeline_full's settings: bench = every 17th doc, corpus = the rest. */
  private def pipelineFull(docs: org.apache.spark.sql.DataFrame,
                           checkpointDir: String = "") =
    graft.operators.Recipe.pipelineFull(
      docs.filter($"doc_id" % 17 =!= 0), docs.filter($"doc_id" % 17 === 0),
      "text", "doc_id", "source",
      budgets = Map("src0" -> 150L, "src1" -> 250L),
      epochs = Map("src0" -> 2.45, "src1" -> 0.6, "src3" -> 0.0),
      decontaminateN = 4, lmVocabSize = 20, lmMinCount = 2L,
      lmMaxBigrams = 300, lmMaxNll = 7.0, minMeanMicro = -1300000L,
      checkpointDir = checkpointDir)

  /** Rows as sorted strings, doubles rounded past the last digit an
    * aggregation order could move.
    */
  private def rowSet(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(df.columns.sorted.map { c =>
        if (df.schema(c).dataType == org.apache.spark.sql.types.DoubleType)
          round(col(c), 9).as(c)
        else col(c)
      }: _*)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The fixture documents as a lazy join — an input pipelineFull stages
    * (a bare table scan is read as is).
    */
  private def joinedDocs(): org.apache.spark.sql.DataFrame = {
    val t = TestSpark.table("documents")
    t.select($"doc_id", $"text").join(t.select($"doc_id", $"source"), "doc_id")
  }

  test("Recipe.pipelineFull stages a joined or aggregated input, not a " +
    "bare scan") {
    val t = TestSpark.table("documents")
    assert(!Recipe.carriesUpstreamWork(t.filter($"doc_id" % 17 =!= 0)
      .select($"doc_id", $"text")))
    assert(Recipe.carriesUpstreamWork(joinedDocs()))
    assert(Recipe.carriesUpstreamWork(t.groupBy($"source").count()))
  }

  test("Recipe.pipelineFull: a lazily joined input gives the rows of the " +
    "same input read from a table") {
    val lazyDocs = joinedDocs()
    val dir = java.nio.file.Files.createTempDirectory("graft_recipe_in")
    val path = dir.resolve("docs.parquet").toString
    lazyDocs.write.parquet(path)
    val expected = rowSet(pipelineFull(spark.read.parquet(path)))
    assert(expected.nonEmpty)
    assert(rowSet(pipelineFull(lazyDocs)) === expected)
  }

  test("Recipe.pipelineFull with a checkpointDir leaves exactly its two " +
    "verdict leaves, and the returned frame still collects") {
    val dir = java.nio.file.Files.createTempDirectory("graft_recipe_ck").toFile
    val out = pipelineFull(joinedDocs(), dir.toString)
    val leaves = dir.listFiles().map(_.getName).toSeq
    assert(leaves.count(_.startsWith("curation_verdicts_")) === 1, leaves)
    assert(leaves.count(_.startsWith("recipe_verdicts_")) === 1, leaves)
    assert(leaves.length === 2, leaves)
    assert(out.collect().nonEmpty)
  }

  test("Recipe.pipelineFull without a checkpointDir leaves nothing " +
    "persisted but local checkpoints") {
    // exactly the two verdict frames (Curation's and compose's) stay, as
    // local checkpoints; the staged input and compose's base are plain
    // persists, and the LM model's two checkpoints are freed, before the
    // call returns
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = pipelineFull(joinedDocs())
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(added.size == 2 && added.values.forall(_.isCheckpointed),
      added.values.map(_.toDebugString).mkString("\n"))
    assert(out.collect().nonEmpty)
  }

  test("Curation.sweep scoreCol (r13): the exact-dedup keeper is the " +
    "best-scored gate survivor, ties -> smallest id") {
    // same normalized fingerprint (case differs), different scores; texts
    // long enough to pass BOTH gates (>= 5 tokens with sane word lengths,
    // and > 16 tokens so top_3gram_frac = 3/n clears the 0.18 repetition
    // threshold — a 10-token doc fails on 3/10 = 0.3)
    val body = "many plainly distinct useful ordinary sentences carry " +
      "enough varied vocabulary so every repetition metric stays well " +
      "beneath its configured threshold today"
    val docs = Seq(
      (1L, s"$body alpha", 10L), (2L, s"$body ALPHA", 30L), // dup group
      (3L, s"$body Alpha", 30L),                            // tie -> id 2
      (4L, s"$body beta unique", 5L)
    ).toDF("doc_id", "text", "score")
    val bench = Seq((99L, "zz qq ww ee rr tt yy uu", 0L))
      .toDF("doc_id", "text", "score")
    val best = graft.operators.Curation.sweep(docs, bench, "text", "doc_id",
        scoreCol = "score")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("exact_unique")).toMap
    assert(best === Map(1L -> false, 2L -> true, 3L -> false, 4L -> true))
    // default policy on the same corpus keeps the smallest id instead
    val byId = graft.operators.Curation.sweep(docs, bench, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("exact_unique")).toMap
    assert(byId === Map(1L -> true, 2L -> false, 3L -> false, 4L -> true))
  }

  test("null scores fail LOUDLY in the keep-best family (ADVICE r12: a " +
    "null would silently win the min_by ordering)") {
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val dup = Seq(("a", "same text here", Some(1L)),
      ("b", "same text here", None: Option[Long])).toDF("id", "text", "score")
    val e = intercept[Exception] {
      Dedup.exactKeepBest(dup, "text", "id", "score").collect()
    }
    assert(chain(e).contains("scoreCol contains a null"), chain(e))
    val pairs = Seq(("a", "b")).toDF("id_a", "id_b")
    val e2 = intercept[Exception] {
      Dedup.keepBest(dup.select($"id", $"score"), pairs, "id", "score")
        .collect()
    }
    assert(chain(e2).contains("scoreCol contains a null"), chain(e2))
    // ...but ONLY on pair-graph docs: a null score on a doc in NO cluster
    // takes the singleton fast path (never enters a min_by) and passes
    // through unchecked — guarding it too was a breaking r13
    // over-tightening for callers that score only their dup candidates
    // (ADVICE r13)
    val withSingleton = Seq(("a", Some(1L)), ("b", Some(2L)),
      ("c", None: Option[Long])).toDF("id", "score")
    val out = Dedup.keepBest(withSingleton, pairs, "id", "score")
      .collect().map(r => r.getAs[String]("id") ->
        ((r.getAs[Boolean]("kept"), Option(r.getAs[Any]("score"))))).toMap
    assert(out("c") === ((true, None)))          // null score survives
    assert(out("b") === ((true, Some(2L))))      // best of the cluster
    assert(out("a") === ((false, Some(1L))))
  }

  test("Curation.pruneCheckpoints deletes all but the newest keepLast " +
    "leaves PER FAMILY; non-leaf files untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toFile
    def mk(name: String, age: Long): Unit = {
      val d = new java.io.File(dir, name)
      d.mkdir()
      new java.io.File(d, "part-0.parquet").createNewFile()
      d.setLastModified(System.currentTimeMillis() - age)
    }
    mk("curation_verdicts_aaaa.parquet", 90000L) // oldest of its family
    mk("curation_verdicts_bbbb.parquet", 10000L)
    mk("recipe_verdicts_cccc.parquet", 60000L)   // oldest of its family
    mk("recipe_verdicts_dddd.parquet", 30000L)
    new java.io.File(dir, "unrelated.txt").createNewFile()
    val deleted = graft.operators.Curation.pruneCheckpoints(spark,
      dir.toString, keepLast = 1)
    assert(deleted.map(p =>
      new org.apache.hadoop.fs.Path(p).getName).toSet ===
      Set("curation_verdicts_aaaa.parquet", "recipe_verdicts_cccc.parquet"))
    assert(dir.listFiles().map(_.getName).toSet ===
      Set("curation_verdicts_bbbb.parquet", "recipe_verdicts_dddd.parquet",
        "unrelated.txt"))
    // keepLast = 0 empties both families; the stray file still survives
    graft.operators.Curation.pruneCheckpoints(spark, dir.toString, 0)
    assert(dir.listFiles().map(_.getName).toSet === Set("unrelated.txt"))
    // a missing directory is a no-op, not an error
    assert(graft.operators.Curation.pruneCheckpoints(spark,
      dir.toString + "/nope", 1) === Seq.empty)
  }

  test("pruneCheckpoints orders on the leaf name's embedded write stamp, " +
    "not directory mtime (ADVICE r13: S3A dir mtimes are synthetic)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune2").toFile
    def mk(name: String, age: Long): Unit = {
      val d = new java.io.File(dir, name)
      d.mkdir()
      new java.io.File(d, "part-0.parquet").createNewFile()
      d.setLastModified(System.currentTimeMillis() - age)
    }
    // mtimes CONTRADICT the stamps: the stamp-older leaf gets the newer
    // mtime (S3A would even hand every leaf the same synthetic mtime) —
    // the embedded stamp must win
    mk("curation_verdicts_0000000000001_aaaa.parquet", 0L)
    mk("curation_verdicts_0000000000002_bbbb.parquet", 90000L)
    // a legacy (unstamped) leaf in the same family falls back to mtime;
    // its fresh mtime makes it the family's newest
    mk("curation_verdicts_cccc.parquet", 0L)
    val deleted = graft.operators.Curation.pruneCheckpoints(spark,
      dir.toString, keepLast = 2)
    assert(deleted.map(p => new org.apache.hadoop.fs.Path(p).getName) ===
      Seq("curation_verdicts_0000000000001_aaaa.parquet"))
    // EQUAL write stamps (same-millisecond concurrent runs — the case the
    // uuid suffix exists for) break ties by name DESCENDING: the
    // lexicographic max survives, matching ScaleRehearsal's
    // newest-is-lex-max assumption (ADVICE r14)
    val dir3 = java.nio.file.Files.createTempDirectory("graft_prune3").toFile
    def mk3(name: String): Unit = {
      val d = new java.io.File(dir3, name)
      d.mkdir()
      new java.io.File(d, "part-0.parquet").createNewFile()
    }
    mk3("curation_verdicts_0000000000005_aaaa.parquet")
    mk3("curation_verdicts_0000000000005_zzzz.parquet")
    graft.operators.Curation.pruneCheckpoints(spark, dir3.toString, 1)
    assert(dir3.listFiles().map(_.getName).toSeq ===
      Seq("curation_verdicts_0000000000005_zzzz.parquet"))
    // the writers actually embed a parsable stamp (sweepFull/compose
    // leaf-name contract)
    val leaf = graft.operators.Curation.verdictLeaf("curation")
    val rest = leaf.split("_verdicts_", 2)(1)
    assert(rest.length > 14 && rest.take(13).forall(_.isDigit) &&
      rest(13) == '_' && leaf.endsWith(".parquet"), leaf)
  }
}
