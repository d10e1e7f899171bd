package graft.tools

/** Measures the per-call cost of the ensure* staleness probes (VERDICT
  * r13 task 1, extended r15 with the listing key and the full
  * ensure+probe shapes — VERDICT r14 task 3: "the 100 TB ensure shape is
  * implemented but never timed"). Times, at the given fixture dir:
  *   - `IndexManifest.textKey` over documents (the precise
  *     tokenize+fingerprint aggregate — the opt-in scan key),
  *   - `IndexManifest.rowsKey` over embeddings (`AnnIndex`'s precise
  *     xxhash64 aggregate),
  *   - `IndexManifest.filesKeyOf` over documents (the r15 DEFAULT:
  *     one directory listing, O(files) not O(tokens)),
  * and then the bm25 standing-probe row under each ensure shape, against
  * a pre-built standing index (the reuse path a deployed system pays per
  * query batch):
  *   - `probe_only`           — no staleness validation (the r13 shape),
  *   - `ensure_files+probe`   — the r15 default listing key,
  *   - `ensure_scan+probe`    — the precise textKey scan inside the
  *     timed region (the r14 default, kept as the opt-in),
  *   - `ensure_precomp+probe` — `precomputedKey` handed in by an ingest
  *     loop tracking its manifest additively (no scan, no listing — the
  *     100 TB shape; pays one table-property read).
  * Three timed passes after one warmup, per-row medians printed plus one
  * JSON line — BASELINE.md records the table next to the standing-probe
  * medians.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.ManifestCost
  */
object ManifestCost {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    import graft.operators.{IndexManifest, TextSearch}
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def med(ts: Seq[Double]): Double = ts.sorted.apply(ts.length / 2)
    val medians = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def time3(label: String)(f: => Any): Unit = {
      f // warmup (codegen/JIT)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      medians(label) = med(ts)
      println(f"[manifest] $label%-28s median ${med(ts)}%6.3f s " +
        f"(passes ${ts.map(t => f"$t%.3f").mkString(" ")})")
    }
    val bmParams = "bm25:b32"
    time3("textKey(documents)") {
      IndexManifest.textKey(docs, "text", bmParams)
    }
    time3("rowsKey(embeddings)") {
      IndexManifest.rowsKey(emb,
        Seq("vec_id", "embedding"), "annlsh:p4:t16:b8:qfalse")
    }
    time3("filesKey(documents)") {
      IndexManifest.filesKeyOf(docs, bmParams, Seq("text", "doc_id")).get
    }

    // standing bm25 index, built once OUTSIDE the timed region; every
    // timed shape below is the REUSE path against it
    val name = "graft_manifestcost_bm25"
    val layout = java.nio.file.Files
      .createTempDirectory("graft_manifestcost").toString
    TextSearch.ensureIndex(docs, "text", "doc_id", name, layout)
    val qd = docs.orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .limit(8)
      .select(org.apache.spark.sql.functions.col("doc_id").as("q_id"),
        org.apache.spark.sql.functions.col("text").as("q_text"))
      .cache()
    qd.count()
    def probe(): Long =
      TextSearch.probe(spark, name, qd, "q_text", "q_id", k = 5).count()
    val precomp = IndexManifest.filesKeyOf(docs, bmParams,
      Seq("text", "doc_id"))
    time3("probe_only") { probe() }
    time3("ensure_files+probe") {
      require(!TextSearch.ensureIndex(docs, "text", "doc_id", name, layout),
        "ensure must REUSE here"); probe()
    }
    time3("ensure_scan+probe") {
      // the precise scan inside the timed region — what the r14 default
      // paid per staleness check (now the opt-in); the key itself
      // mismatches the stamped listing key, so hand it the stamped one
      // after paying the scan to keep this a pure-reuse timing
      IndexManifest.textKey(docs, "text", bmParams)
      require(!TextSearch.ensureIndex(docs, "text", "doc_id", name, layout,
        precomputedKey = precomp), "ensure must REUSE here"); probe()
    }
    time3("ensure_precomp+probe") {
      require(!TextSearch.ensureIndex(docs, "text", "doc_id", name, layout,
        precomputedKey = precomp), "ensure must REUSE here"); probe()
    }
    println("MANIFEST_COST " + medians.map { case (k, v) =>
      s""""$k":${f"$v%.4f"}""" }.mkString("{", ",", s""","sf":"$sfDir"}"""))
    spark.stop()
  }
}
