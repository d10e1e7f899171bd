package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupIndex}
import graft.sources.Bucketize

/** Persisted dedup index: probe results must agree with the one-shot
  * minhash pair generator (same signatures, same band keys, same exact
  * verify), and the probe plan must read the index WITHOUT an Exchange on
  * the index side — at 100 TB the absent corpus shuffle IS the feature.
  */
class DedupIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("probe agrees with the one-shot minhash pair generator") {
    val docs = TestSpark.table("documents").limit(300)
      .select(col("doc_id"), col("text"))
    val idx = docs.filter(col("doc_id") % 2 === 0)
    val bat = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_didx").toString
    DedupIndex.write(idx, "text", "doc_id", "graft_didx_agree", dir,
      numBuckets = 4)
    val got = DedupIndex.probe(bat, "text", "doc_id", "graft_didx_agree",
        minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted

    // independent expectation: band keys and signatures are per-doc
    // deterministic, so the one-shot generator over the UNION sees exactly
    // the cross-parity collisions the probe sees; best = max jaccard, ties
    // to the smallest even id
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
        n = 3, rowsPerBand = 2, nBands = 8, minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = pairs.flatMap { case (a, b, j) =>
      (a % 2, b % 2) match {
        case (1L, 0L) => Some((a, b, j))
        case (0L, 1L) => Some((b, a, j))
        case _        => None
      }
    }
    val expected = cross.groupBy(_._1).map { case (id, ms) =>
      val best = ms.minBy(m => (-m._3, m._2))
      (id, best._2, best._3)
    }.toArray.sorted
    assert(got.nonEmpty, "fixture must produce at least one cross-parity match")
    assert(got.toSeq === expected.toSeq)
  }

  test("probeStream matches the batch probe per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = TestSpark.table("documents").limit(300)
      .select(col("doc_id"), col("text"))
    val idx = docs.filter(col("doc_id") % 2 === 0)
    val bat = docs.filter(col("doc_id") % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val dir = java.nio.file.Files.createTempDirectory("graft_didx").toString
    DedupIndex.write(idx, "text", "doc_id", "graft_didx_stream", dir,
      numBuckets = 4)
    val source = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val query = DedupIndex.probeStream(
      source.toDF().toDF("doc_id", "text"), "text", "doc_id",
      "graft_didx_stream", minJaccard = 0.2) { (matches, _) =>
      seen ++= matches.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      val (first, second) = bat.splitAt(bat.length / 2)
      source.addData(first.toSeq)
      query.processAllAvailable()
      source.addData(second.toSeq)
      query.processAllAvailable()
    } finally query.stop()
    val direct = DedupIndex.probe(
        docs.filter(col("doc_id") % 2 === 1), "text", "doc_id",
        "graft_didx_stream", minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(seen.nonEmpty)
    assert(seen.sorted.toSeq === direct.sorted.toSeq)
  }

  test("probe plans zero exchanges on the index side") {
    val docs = TestSpark.table("documents").limit(300)
      .select(col("doc_id"), col("text"))
    val idx = docs.filter(col("doc_id") % 2 === 0)
    val bat = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_didx").toString
    DedupIndex.write(idx, "text", "doc_id", "graft_didx_plan", dir,
      numBuckets = 4)
    // broadcast off so the index joins actually exercise the bucketed SMJ
    // path (a broadcast index would hide the layout — and stop working at
    // corpus scale)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val probe = DedupIndex.probe(bat, "text", "doc_id", "graft_didx_plan",
        minJaccard = 0.2)
      probe.collect()
      // both index scans must come back bucketed...
      assert(Bucketize.bucketedScans(probe) === 2,
        probe.queryExecution.executedPlan.toString)
      // ...and dropping the bucket layout (same files registered as
      // unbucketed tables, the index's properties copied over) must cost
      // MORE exchanges: the difference is exactly the index-side shuffles
      // the layout pre-paid
      DedupIndex.layout.parts.foreach { p =>
        val t = DedupIndex.layout.table("graft_didx_plain", p.name)
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        spark.catalog.createTable(t, s"$dir/${p.name}", "parquet")
      }
      Bucketize.alterTableProps(spark,
        DedupIndex.layout.table("graft_didx_plain"),
        Bucketize.tableProps(spark, DedupIndex.layout.table("graft_didx_plan"))
          .filter(_._1.startsWith("graft.")))
      val plain = DedupIndex.probe(bat, "text", "doc_id", "graft_didx_plain",
        minJaccard = 0.2)
      plain.collect()
      val bucketedEx = Bucketize.shuffleExchanges(probe)
      val plainEx = Bucketize.shuffleExchanges(plain)
      assert(bucketedEx < plainEx, s"bucketed=$bucketedEx plain=$plainEx")
      // same rows either way — the layout changes the plan, not the answer
      assert(probe.collect().map(_.toSeq).toSet ===
        plain.collect().map(_.toSeq).toSet)
    }
  }

  test("append accumulates: write-half + append-half probes like write-full") {
    val docs = TestSpark.table("documents").limit(300)
      .select(col("doc_id"), col("text"))
    val idx = docs.filter(col("doc_id") % 2 === 0)
    val bat = docs.filter(col("doc_id") % 2 === 1)
    val dirF = java.nio.file.Files.createTempDirectory("graft_didx").toString
    DedupIndex.write(idx, "text", "doc_id", "graft_didx_ap_full", dirF,
      numBuckets = 4)
    val dirI = java.nio.file.Files.createTempDirectory("graft_didx").toString
    DedupIndex.write(idx.filter(col("doc_id") % 4 === 0), "text", "doc_id",
      "graft_didx_ap_inc", dirI, numBuckets = 4)
    DedupIndex.append(idx.filter(col("doc_id") % 4 === 2), "text", "doc_id",
      "graft_didx_ap_inc")
    def run(name: String) = DedupIndex.probe(bat, "text", "doc_id", name,
        minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val full = run("graft_didx_ap_full")
    assert(full.nonEmpty)
    assert(run("graft_didx_ap_inc").toSeq === full.toSeq)
    // multi-file buckets after the append: the probe must STILL read both
    // index sides as bucketed scans (exchange-free on the index side)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val probe = DedupIndex.probe(bat, "text", "doc_id",
        "graft_didx_ap_inc", minJaccard = 0.2)
      probe.collect()
      assert(Bucketize.bucketedScans(probe) === 2,
        probe.queryExecution.executedPlan.toString)
    }
    // compaction: rewrite the accumulated layout fresh — fewer files,
    // geometry properties carried over, probe answers identical
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val beforeFiles = parquetFiles(s"$dirI/bands")
    val dirC = java.nio.file.Files.createTempDirectory("graft_didx").toString
    DedupIndex.layout.compact(spark, "graft_didx_ap_inc", dirC)
    assert(parquetFiles(s"$dirC/bands") < beforeFiles,
      s"compaction must shrink the file count (before=$beforeFiles)")
    assert(DedupIndex.geometry(spark, "graft_didx_ap_inc") === ((3, 2, 8)))
    assert(run("graft_didx_ap_inc").toSeq === full.toSeq)
  }

  test("append mutates NO table properties: geometry is immutable across " +
    "appends — the reason concurrent disjoint appends cannot corrupt it") {
    // TextSearch.append must update corpus-stat counters (nDocs/sumDl), so
    // interleaved appends can double-count and need the stamp-then-verify
    // discipline. THIS index has no counters: geometry is written once and
    // append only lands data files — property state is untouched by any
    // interleaving of appends, which this pins by asserting bit-identical
    // graft.* properties across repeated disjoint appends.
    val docs = TestSpark.table("documents").limit(300)
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_didx").toString
    DedupIndex.write(docs.filter(col("doc_id") % 4 === 0), "text", "doc_id",
      "graft_didx_props", dir, numBuckets = 4)
    def props(t: String) = spark.sql(s"SHOW TBLPROPERTIES `$t`").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filter(_._1.startsWith("graft.")).toMap
    val bandsTable = DedupIndex.layout.table("graft_didx_props")
    val docsTable = DedupIndex.layout.table("graft_didx_props", "docs")
    val bandsBefore = props(bandsTable)
    val docsBefore = props(docsTable)
    assert(bandsBefore.nonEmpty, "geometry must live in the properties")
    val n0 = spark.table(docsTable).count()
    DedupIndex.append(docs.filter(col("doc_id") % 4 === 1), "text", "doc_id",
      "graft_didx_props")
    DedupIndex.append(docs.filter(col("doc_id") % 4 === 2), "text", "doc_id",
      "graft_didx_props")
    assert(props(bandsTable) === bandsBefore)
    assert(props(docsTable) === docsBefore)
    // both batches landed and are probe-visible under the SAME geometry
    val nAll = spark.table(docsTable).count()
    assert(nAll === docs.filter(col("doc_id") % 4 =!= 3).count(),
      s"both appended batches must land (docs table went $n0 -> $nAll)")
  }

  test("standing probe (r13): the index is REUSED for the same corpus dir " +
    "and rebuilt when the dir changes (the staleness guard)") {
    val q = graft.SparkEntry.queries("q_dedup_probe")
    val layout = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_dedup_probe_layout")
    val r1 = q(spark, TestSpark.SfDir).collect().map(_.toString).sorted
    // sentinel inside the fixed layout dir: a rebuild wipes the dir
    // (fixedLayoutDir), reuse leaves it alone
    val sentinel = layout.resolve("sentinel_standing")
    java.nio.file.Files.createFile(sentinel)
    val r2 = q(spark, TestSpark.SfDir).collect().map(_.toString).sorted
    assert(java.nio.file.Files.exists(sentinel),
      "a second probe against the SAME corpus dir must not rebuild")
    assert(r2.toSeq === r1.toSeq, "reused index must answer identically")
    q(spark, "/root/testdata/sf0.01").collect()
    assert(!java.nio.file.Files.exists(sentinel),
      "a different corpus dir must rebuild (stale layout wiped)")
  }
}
