package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{Planes, VecExprs}
import graft.operators.Dedup

/** Pins the custom loop-codegen expressions (VecExprs) to the built-in
  * compositions they replaced: identical values, bit for bit — the custom
  * expressions exist for speed (codegen method limits), never for different
  * semantics.
  */
class VecExprsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val vecs = TestSpark.table("embeddings").limit(64)
    .select(col("vec_id"), Dedup.normalized(col("embedding")).as("nv"))

  test("hyperplaneBuckets matches the unrolled built-in bucket expression") {
    val d = vecs.select(size(col("nv"))).head().getInt(0)
    val rows = vecs.select(
      VecExprs.hyperplaneBuckets(col("nv"), 4, 4).as("fast"),
      array((0 until 4).map(t =>
        Planes.bucket(col("nv"), 4, d, offset = t * 4)): _*).as("slow"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("tokenShingles matches Text.shingleSet on the documents fixture") {
    import graft.functions.{Text, VecExprs}
    val docs = TestSpark.table("documents").limit(100)
      .select(col("text"),
        VecExprs.tokenShingles(col("text"), 3).as("fast"),
        Text.shingleSet(col("text"), 3).as("slow"))
    docs.collect().foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2),
        s"shingles of '${r.getString(0).take(60)}...'")
    }
    // short-text and empty edge cases
    val edge = Seq("one two", "", "  !!  ", "a b c d").toDF("text")
      .select(VecExprs.tokenShingles(col("text"), 3).as("fast"),
        Text.shingleSet(col("text"), 3).as("slow"))
    edge.collect().foreach(r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("Simhash32 matches the composed 32-term built-in formulation") {
    import graft.functions.{Text, VecExprs}
    // the composed form Simhash32 replaced: 32 separate
    // aggregate(transform(tokens, md5)) parity-vote terms
    def composed(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val hexes = transform(Text.tokens(c), t => md5(t))
      val odd = Seq("1", "3", "5", "7", "9", "b", "d", "f")
      (0 until 32).map { i =>
        val votes = aggregate(hexes, lit(0),
          (acc, h) => acc + when(h.substr(i + 1, 1).isin(odd: _*), 1).otherwise(-1))
        when(votes > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val docs = TestSpark.table("documents").limit(100)
      .select(Text.simhash32(col("text")).as("fast"),
        composed(col("text")).as("slow"))
    docs.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // edge cases: empty, whitespace/punct-only, and null text
    val edge = Seq(Some("one two three"), Some(""), Some("  !!  "), None)
      .toDF("text")
      .select(Text.simhash32(col("text")).as("fast"),
        composed(col("text")).as("slow"))
    edge.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("MinhashSig matches Text.minhashSignature on the documents fixture") {
    import graft.functions.{Text, VecExprs}
    val docs = TestSpark.table("documents").limit(100)
      .select(VecExprs.minhashSig(
          VecExprs.tokenShingles(col("text"), 3), 16).as("fast"),
        Text.minhashSignature(Text.shingleSet(col("text"), 3), 16).as("slow"))
    docs.collect().foreach(r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1)))
    // short/degenerate texts
    val edge = Seq("one two", "", "  !!  ").toDF("text")
      .select(VecExprs.minhashSig(
          VecExprs.tokenShingles(col("text"), 3), 4).as("fast"),
        Text.minhashSignature(Text.shingleSet(col("text"), 3), 4).as("slow"))
    edge.collect().foreach(r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1)))
    // non-ASCII text through the shingler (normalization keeps only
    // [a-z0-9] tokens) and, fed directly, multi-byte UTF-8 shingles (2-,
    // 3- and 4-byte code points) with a double-digit "#j" suffix range:
    // the loop hashes each shingle's UTF-8 bytes with the suffix appended
    // in place, which must equal the SQL md5 over concat(shingle, '#', j)
    val texts = Seq("café naïve 東京 タワー déjà vu",
      "emoji 🙂 text 🚀 über straße ΑΒΓ δεζ",
      "plain ascii words for the long tail of the loop")
    val viaText = texts.toDF("text")
      .select(VecExprs.minhashSig(
          VecExprs.tokenShingles(col("text"), 3), 32).as("fast"),
        Text.minhashSignature(Text.shingleSet(col("text"), 3), 32).as("slow"))
    val direct = texts.toDF("text")
      .select(split(col("text"), " ").as("sh"))
      .select(VecExprs.minhashSig(col("sh"), 32).as("fast"),
        Text.minhashSignature(col("sh"), 32).as("slow"))
    (viaText.collect() ++ direct.collect()).foreach { r =>
      assert(r.getSeq[String](0).length === 32)
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
  }

  test("PostingPairs matches the composed nested-transform pair generation") {
    import graft.functions.VecExprs
    // sorted posting lists of (id, n_sh) structs, including a singleton
    // (no pairs) and lopsided counts the size-ratio prefilter must drop
    val lists = Seq(
      Seq(("a", 10), ("b", 12), ("c", 30)),
      Seq(("x", 5)),
      Seq(("p", 7), ("q", 7), ("r", 8), ("s", 70))
    ).toDF("docs")
    def composed(minJ: Double) = {
      val d = col("docs")
      explode(flatten(transform(d, (x, i) => transform(
        slice(d, i + lit(2), size(d) - i - lit(1)),
        y => struct(x.getField("_1").as("id_a"), x.getField("_2").as("n_a"),
          y.getField("_1").as("id_b"), y.getField("_2").as("n_b"))))))
    }
    for (minJ <- Seq(0.0, 0.4, 0.9)) {
      val fast = lists.select(explode(
          VecExprs.postingPairs(col("docs"), minJ)).as("p"))
        .select(col("p.a._1"), col("p.a._2"), col("p.b._1"), col("p.b._2"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getInt(3))).sorted
      val slow = lists.select(composed(minJ).as("p")).select(col("p.*"))
        .filter(least(col("n_a"), col("n_b")).cast("double") >=
          lit(minJ) * greatest(col("n_a"), col("n_b")).cast("double"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getInt(3))).sorted
      assert(fast.toSeq === slow.toSeq, s"minJaccard=$minJ")
    }
  }

  test("arrayDot matches the sequential fold dot product") {
    val pairs = vecs.alias("x").crossJoin(vecs.alias("y").limit(4))
    val rows = pairs.select(
      VecExprs.arrayDot(col("x.nv"), col("y.nv")).as("fast"),
      Dedup.dot(col("x.nv"), col("y.nv")).as("slow")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }
}
