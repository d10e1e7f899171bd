package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, SimilaritySearch}
import graft.sources.Bucketize

/** Persisted ANN index: probe must be bit-identical to the one-shot
  * ivfTopK on the same corpus, and the probe plan must read the postings
  * bucketed — zero Exchange on the corpus side.
  */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("probe is bit-identical to one-shot ivfTopK") {
    val emb = TestSpark.table("embeddings").limit(400)
    val queries = emb.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.write(emb, "embedding", "vec_id", "graft_annidx_agree", dir,
      planesPerTable = 4, nTables = 16, numBuckets = 4)
    val got = AnnIndex.probe(queries, "embedding", "vec_id",
        "graft_annidx_agree", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted
    val expected = SimilaritySearch.ivfTopK(emb, queries, "embedding",
        "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("auto geometry is corpus-sized and persisted with the layout") {
    val emb = TestSpark.table("embeddings").limit(400)
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.write(emb, "embedding", "vec_id", "graft_annidx_auto", dir,
      numBuckets = 4)
    val expectedPlanes = graft.operators.Dedup.planesFor(emb.count())
    assert(AnnIndex.geometry(spark, "graft_annidx_auto") ===
      ((expectedPlanes, 16, false)))
    // probe runs with the persisted geometry — no caller-side params
    val out = AnnIndex.probe(emb.filter(col("vec_id") < 8), "embedding",
      "vec_id", "graft_annidx_auto", k = 5)
    assert(out.count() > 0)
  }

  test("SQ8 postings: ~8x fewer vector bytes, top-5 overlap >= 0.9 vs full precision") {
    def dirBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    val emb = TestSpark.table("embeddings").limit(400)
    val queries = emb.filter(col("vec_id") < 8)
    val full = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    val sq8 = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.write(emb, "embedding", "vec_id", "graft_annidx_full", full,
      planesPerTable = 4, nTables = 16, numBuckets = 4)
    AnnIndex.write(emb, "embedding", "vec_id", "graft_annidx_sq8", sq8,
      planesPerTable = 4, nTables = 16, numBuckets = 4, quantize = true)
    assert(AnnIndex.geometry(spark, "graft_annidx_sq8")._3)
    assert(!AnnIndex.geometry(spark, "graft_annidx_full")._3)
    val fb = dirBytes(s"$full/postings")
    val qb = dirBytes(s"$sq8/postings")
    assert(qb < fb / 2, s"quantized postings $qb B vs full $fb B")
    // asymmetric-distance ranking stays close to full precision: mean
    // top-5 overlap per query >= 0.9 on the fixture
    val fTop = AnnIndex.probe(queries, "embedding", "vec_id",
        "graft_annidx_full", k = 5)
      .select(col("query_id"), col("corpus_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qTop = AnnIndex.probe(queries, "embedding", "vec_id",
        "graft_annidx_sq8", k = 5)
      .select(col("query_id"), col("corpus_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (fTop & qTop).size.toDouble / fTop.size
    assert(overlap >= 0.9, s"SQ8 top-5 overlap degraded to $overlap")
  }

  test("probeStream matches the batch probe per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = TestSpark.table("embeddings").limit(400)
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.write(emb, "embedding", "vec_id", "graft_annidx_stream", dir,
      planesPerTable = 4, nTables = 16, numBuckets = 4)
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val source = MemoryStream[(Long, Seq[Float])]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    val query = AnnIndex.probeStream(
      source.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id",
      "graft_annidx_stream", k = 5) { (topk, _) =>
      seen ++= topk.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    }
    try {
      val (first, second) = qs.splitAt(qs.length / 2)
      source.addData(first.toSeq)
      query.processAllAvailable()
      source.addData(second.toSeq)
      query.processAllAvailable()
    } finally query.stop()
    val direct = AnnIndex.probe(emb.filter(col("vec_id") < 8), "embedding",
        "vec_id", "graft_annidx_stream", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(seen.nonEmpty)
    assert(seen.sorted.toSeq === direct.sorted.toSeq)
  }

  test("writeKmeans releases its normalized-corpus checkpoint") {
    val sc = spark.sparkContext
    val emb = TestSpark.table("embeddings").limit(200)
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    val pinned = sc.getPersistentRDDs.keySet
    AnnIndex.writeKmeans(emb, "embedding", "vec_id", "graft_annidx_km_leak",
      dir, kClusters = 8, iters = 2, numBuckets = 4)
    assert(sc.getPersistentRDDs.keySet === pinned,
      "a k-means build must not pin the normalized corpus in storage")
  }

  test("kmeans index probe is bit-identical to one-shot kmeansIvfTopK, zero cell-side Exchange") {
    val emb = TestSpark.table("embeddings").limit(400)
    val queries = emb.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.writeKmeans(emb, "embedding", "vec_id", "graft_annidx_km", dir,
      kClusters = 12, iters = 2, numBuckets = 4)
    val got = AnnIndex.probeKmeans(queries, "embedding", "vec_id",
      "graft_annidx_km", k = 5, nProbe = 6)
    val expected = SimilaritySearch.kmeansIvfTopK(emb, queries, "embedding",
        "vec_id", k = 5, kClusters = 12, nProbe = 6, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted
    val gotRows = got.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).sorted
    assert(gotRows.nonEmpty)
    assert(gotRows.toSeq === expected.toSeq)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val probe = AnnIndex.probeKmeans(queries, "embedding", "vec_id",
        "graft_annidx_km", k = 5, nProbe = 6)
      probe.collect()
      // the cells scan must come back bucketed — no Exchange on the
      // stored corpus side (the centroid table read is a bounded collect)
      assert(Bucketize.bucketedScans(probe) >= 1,
        probe.queryExecution.executedPlan.toString)
    }
  }

  test("probe plans zero exchanges on the corpus side") {
    val emb = TestSpark.table("embeddings").limit(400)
    val queries = emb.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.write(emb, "embedding", "vec_id", "graft_annidx_plan", dir,
      planesPerTable = 4, nTables = 16, numBuckets = 4)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val probe = AnnIndex.probe(queries, "embedding", "vec_id",
        "graft_annidx_plan", k = 5)
      probe.collect()
      assert(Bucketize.bucketedScans(probe) === 1,
        probe.queryExecution.executedPlan.toString)
      // same files as an unbucketed table must plan MORE exchanges — the
      // difference is the corpus-side shuffle the layout pre-paid; the
      // index's properties are copied over, so the probe reads the same
      // geometry
      val plainTable = AnnIndex.layout.table("graft_annidx_plain")
      spark.sql(s"DROP TABLE IF EXISTS `$plainTable`")
      spark.catalog.createTable(plainTable, s"$dir/postings", "parquet")
      Bucketize.alterTableProps(spark, plainTable,
        Bucketize.tableProps(spark, AnnIndex.layout.table("graft_annidx_plan"))
          .filter(_._1.startsWith("graft.")))
      val plain = AnnIndex.probe(queries, "embedding", "vec_id",
        "graft_annidx_plain", k = 5)
      plain.collect()
      val bucketedEx = Bucketize.shuffleExchanges(probe)
      val plainEx = Bucketize.shuffleExchanges(plain)
      assert(bucketedEx < plainEx, s"bucketed=$bucketedEx plain=$plainEx")
      assert(probe.collect().map(_.toSeq).toSet ===
        plain.collect().map(_.toSeq).toSet)
    }
  }

  test("append accumulates: write-half + append-half probes like write-full") {
    val emb = TestSpark.table("embeddings").limit(400)
    val queries = emb.filter(col("vec_id") < 8)
    val dirF = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.write(emb, "embedding", "vec_id", "graft_annidx_ap_full", dirF,
      planesPerTable = 4, nTables = 16, numBuckets = 4)
    // geometry is pinned at write time; append reads it (and the quantize
    // flag) from the layout's own properties — passing nothing here IS the
    // desynchronization-proof contract under test
    val dirI = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.write(emb.filter(col("vec_id") % 2 === 0), "embedding",
      "vec_id", "graft_annidx_ap_inc", dirI,
      planesPerTable = 4, nTables = 16, numBuckets = 4)
    AnnIndex.append(emb.filter(col("vec_id") % 2 === 1), "embedding",
      "vec_id", "graft_annidx_ap_inc")
    def run(name: String) = AnnIndex.probe(queries, "embedding", "vec_id",
        name, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted
    val full = run("graft_annidx_ap_full")
    assert(full.nonEmpty)
    assert(run("graft_annidx_ap_inc").toSeq === full.toSeq)
  }

  test("filtered probe equals probing an index built on the allowed subset") {
    val emb = TestSpark.table("embeddings").limit(400)
    val queries = emb.filter(col("vec_id") < 8)
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val dirF = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.write(emb, "embedding", "vec_id", "graft_annidx_filt_full",
      dirF, planesPerTable = 4, nTables = 16, numBuckets = 4)
    val dirE = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.write(evens, "embedding", "vec_id", "graft_annidx_filt_sub",
      dirE, planesPerTable = 4, nTables = 16, numBuckets = 4)
    val filtered = AnnIndex.probe(queries, "embedding", "vec_id",
        "graft_annidx_filt_full", k = 5,
        allowed = Some(evens.select(col("vec_id"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted
    val rebuilt = AnnIndex.probe(queries, "embedding", "vec_id",
        "graft_annidx_filt_sub", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted
    assert(filtered.nonEmpty)
    assert(filtered.toSeq === rebuilt.toSeq)
    // every match honors the filter
    filtered.foreach { case (_, _, m, _) => assert(m % 2 === 0L) }
  }

  test("filtered probeKmeans honors the allowed subset") {
    val emb = TestSpark.table("embeddings").limit(400)
    val queries = emb.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.writeKmeans(emb, "embedding", "vec_id", "graft_annidx_km_filt",
      dir, kClusters = 16, iters = 2, numBuckets = 4)
    val evens = emb.filter(col("vec_id") % 2 === 0).select(col("vec_id"))
    val got = AnnIndex.probeKmeans(queries, "embedding", "vec_id",
        "graft_annidx_km_filt", k = 5, nProbe = 4, allowed = Some(evens))
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getLong(2) % 2 === 0L,
      s"match ${r.getLong(2)} violates the filter"))
    // equals the unfiltered probe post-filtered + re-ranked to k within
    // the subset (cell assignment is per-vector, so candidates agree)
    val viaPost = AnnIndex.probeKmeans(queries, "embedding", "vec_id",
        "graft_annidx_km_filt", k = 400, nProbe = 4)
      .filter(col("corpus_id") % 2 === 0)
      .collect().groupBy(_.getLong(0)).toSeq.flatMap { case (_, rs) =>
        rs.sortBy(r => (-r.getDouble(3), r.getLong(2))).take(5).toSeq
      }.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    assert(got.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
      === viaPost)
  }

  test("appendKmeans: IVF insert against stored centroids, still bucketed") {
    val emb = TestSpark.table("embeddings").limit(400)
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    val half = emb.filter(col("vec_id") % 2 === 0)
    AnnIndex.writeKmeans(half, "embedding", "vec_id", "graft_annidx_km_inc",
      dir, kClusters = 16, iters = 2, numBuckets = 4)
    AnnIndex.appendKmeans(emb.filter(col("vec_id") % 2 === 1), "embedding",
      "vec_id", "graft_annidx_km_inc")
    // every appended vector is in the cell table, assigned to a stored cid
    val km = AnnIndex.kmeansLayout
    val cells = spark.table(km.table("graft_annidx_km_inc"))
    assert(cells.count() === emb.count())
    val cids = spark.table(km.table("graft_annidx_km_inc", "centroids"))
      .select("cid").collect().map(_.getInt(0)).toSet
    assert(cells.select("cid").distinct().collect()
      .map(_.getInt(0)).toSet.subsetOf(cids))
    // a probe near an APPENDED vector must surface it (the insert is live)
    val probeQ = emb.filter(col("vec_id") % 2 === 1).limit(3)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val got = AnnIndex.probeKmeans(probeQ, "embedding", "vec_id",
      "graft_annidx_km_inc", k = 1, nProbe = 4)
    val hits = got.collect().map(r => (r.getLong(0) - 1000000L, r.getLong(2)))
    assert(hits.nonEmpty)
    hits.foreach { case (q, m) =>
      assert(m === q, s"query $q (an appended vector, re-id'd) must find " +
        s"its own appended posting at rank 1, found $m")
    }
    // compaction (r15): the append-accumulated cells rewrite to one
    // sorted file per bucket, the centroids carry over UNCHANGED (the
    // quantizer is never retrained), and a probe is result-identical
    val centsBefore = spark.table(km.table("graft_annidx_km_inc", "centroids"))
      .collect().map(_.toSeq).toSet
    val refProbe = AnnIndex.probeKmeans(probeQ, "embedding", "vec_id",
        "graft_annidx_km_inc", k = 3, nProbe = 4)
      .collect().map(_.toSeq).toSet
    val newDir = java.nio.file.Files
      .createTempDirectory("graft_annidx_kmc").toString
    km.compact(spark, "graft_annidx_km_inc", newDir)
    assert(spark.table(km.table("graft_annidx_km_inc", "centroids"))
      .collect().map(_.toSeq).toSet === centsBefore)
    assert(AnnIndex.probeKmeans(probeQ, "embedding", "vec_id",
        "graft_annidx_km_inc", k = 3, nProbe = 4)
      .collect().map(_.toSeq).toSet === refProbe)
    assert(spark.table(km.table("graft_annidx_km_inc"))
      .count() === emb.count())
  }

  test("append mutates NO table properties: geometry/quantization are " +
    "immutable across appends — concurrent disjoint appends cannot corrupt them") {
    val emb = TestSpark.table("embeddings").limit(200)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndex.write(emb.filter(col("vec_id") % 4 === 0), "embedding", "vec_id",
      "graft_annidx_props", dir, planesPerTable = 4, nTables = 8,
      numBuckets = 4)
    def props() = spark.sql(
        s"SHOW TBLPROPERTIES `${AnnIndex.layout.table("graft_annidx_props")}`")
      .collect().map(r => r.getString(0) -> r.getString(1))
      .filter(_._1.startsWith("graft.")).toMap
    val before = props()
    assert(before.nonEmpty, "geometry must live in the properties")
    AnnIndex.append(emb.filter(col("vec_id") % 4 === 1), "embedding",
      "vec_id", "graft_annidx_props")
    AnnIndex.append(emb.filter(col("vec_id") % 4 === 2), "embedding",
      "vec_id", "graft_annidx_props")
    assert(props() === before,
      "append must not touch the persisted geometry/quantization")
    assert(AnnIndex.geometry(spark, "graft_annidx_props") === ((4, 8, false)))
    // appended postings are live under the same geometry: every appended
    // id appears in the postings table
    val ids = spark.table(AnnIndex.layout.table("graft_annidx_props"))
      .select(col("corpus_id")).distinct().count()
    assert(ids === emb.filter(col("vec_id") % 4 =!= 3)
      .filter(col("embedding").isNotNull).count())
  }
}
