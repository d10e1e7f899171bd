package graft
import graft.plans.Json
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Optional comma-separated name filter for isolated re-timing of a few
    // queries (perf iteration); the driver never sets it, so its runs always
    // time the full registry.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // SERVER mode (r14): a line protocol over stdin so an external
    // orchestrator (tools/bench_interleaved.py) can alternate ONE warm
    // JVM's per-query timings with the DuckDB oracle's — interleaving
    // makes the per-query Spark/oracle RATIO robust to host-load drift
    // WITHIN a session (the ±1.5x session band that moved r12→r13 totals
    // in lockstep), where two serial full passes let the band land on
    // one engine only. Protocol: "warm <q>" runs untimed, "time <q>"
    // applies the exact timed-pass discipline below and replies
    // "GRAFT_BENCH TIMED <q> <sec>", "quit" exits; replies are prefixed
    // so Spark's own stdout noise never corrupts the stream.
    if (sys.env.get("SPARK_GRAFT_BENCH_SERVER").contains("1")) {
      val byName = ordered.toMap
      println(s"GRAFT_BENCH READY ${ordered.map(_._1).mkString(",")}")
      Console.out.flush()
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(System.in))
      var line: String = in.readLine()
      while (line != null && line.trim != "quit") {
        val parts = line.trim.split("\\s+", 2)
        val nm = if (parts.length > 1) parts(1).trim else ""
        (parts(0), byName.get(nm)) match {
          case (_, None) => println(s"GRAFT_BENCH ERR $nm unknown-query")
          case ("warm", Some(fn)) =>
            try fn(spark, sfDir).count() catch { case _: Throwable => () }
            Sessions.clearState(spark)
            println(s"GRAFT_BENCH OK $nm")
          case ("time", Some(fn)) =>
            Sessions.clearState(spark)
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).count()
              println(f"GRAFT_BENCH TIMED $nm ${(System.nanoTime() - t0) / 1e9}%.4f")
            } catch {
              case e: Throwable =>
                val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
                  .replaceAll("\\s+", " ").take(200)
                println(s"GRAFT_BENCH ERR $nm $msg")
            }
          case _ => println(s"GRAFT_BENCH ERR $nm unknown-cmd")
        }
        Console.out.flush()
        line = in.readLine()
      }
      spark.stop()
      return
    }
    // Untimed warmup: run EVERY query once before timing anything. Each
    // query generates its own whole-stage-codegen classes, which the JVM
    // interprets until C2 compiles them — a cold first execution measures
    // JIT state, not the plan (observed 2x on identical code/data:
    // q_dedup_minhash_lsh 7.6s cold vs 3.6s warm). The timed pass then
    // measures steady-state throughput, which is what survives a
    // 1000-executor cluster where codegen/JIT warmup is a one-off constant
    // per executor. (Round 2 warmed only the first query; every other query
    // still absorbed its own warmup and corrupted cross-round comparison.)
    ordered.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      Sessions.clearState(spark)
    }
    // A failed query must never read as a fast time: it is emitted as null
    // in `queries` (consumers summing timings skip it) and its error surfaces
    // in `errors` + a nonzero exit.
    //
    // SPARK_GRAFT_BENCH_PASSES > 1 (the round-close discipline) times every
    // query that many times and reports the PER-QUERY MEDIAN: this host's
    // walls swing ±8% run-to-run on identical code, and medianing only the
    // total (the r10/r11 close rule) left per-query diffs noisy enough to
    // raise three rounds of false drift alarms on the dedup family. The
    // default (driver runs) stays 1 pass.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .map(_.trim.toInt).filter(_ >= 1).getOrElse(1)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timedPass(): Seq[(String, Option[Double])] = ordered.map { case (name, fn) =>
      // Queries are independent: drop any cached plans or persisted blocks a
      // previous query left behind and let a GC cycle run, all OUTSIDE the
      // timed section, so the previous query's storage/heap debt is not
      // billed to this one — the DuckDB oracle baseline runs every query in
      // a fresh process, this is the same discipline.
      Sessions.clearState(spark)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        name -> Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
          errors(name) = msg
          System.err.println(s"[bench] FAILED $name: $msg")
          name -> None
      }
    }
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val allPasses = (1 to passes).map(_ => timedPass())
    val results: Seq[(String, Option[Double])] = ordered.map { case (name, _) =>
      val ok = allPasses.flatMap(_.collectFirst {
        case (`name`, Some(t)) => t
      })
      // a query that failed EVERY pass stays null (error already surfaced);
      // partial failures report the median of the successful passes
      name -> (if (ok.isEmpty) None else Some(median(ok)))
    }
    // The driver keeps only the LAST 2000 chars of stdout, which must also
    // hold sbt's "[info] " line prefix and "[success] Total time: ..."
    // epilogue (~80 chars) — so the JSON line has a ~1900-char budget, and
    // anything over is FRONT-truncated out of the graded BENCH file (r5/r6
    // both lost their alphabetically-first ~19 queries this way). At 88
    // registered queries even decisecond precision with full names is 2018
    // chars, so the stdout line economizes three ways (full-precision,
    // full-name numbers always go to BENCH_LOCAL.json in-repo):
    //  1. decisecond values, trailing zeros stripped;
    //  2. query keys drop the uniform "q_" prefix (dedup_canonical ==
    //     q_dedup_canonical; BENCH_LOCAL.json / CORRECTNESS keep full
    //     names) — saves 2 chars x ~90 queries;
    //  3. if the registry ever outgrows the budget anyway, the CHEAPEST
    //     queries fold into "fast_n"/"fast_sum" (count + summed seconds),
    //     keeping every expensive query's number in the graded tail —
    //     the fold is a last resort, not the normal shape.
    def fmt(d: Double): String = {
      val s = BigDecimal(d).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
      if (s.contains('.')) {
        val t = s.reverse.dropWhile(_ == '0').reverse
        if (t.endsWith(".")) t.dropRight(1) else t
      } else s
    }
    def queryJson(entries: Seq[(String, Option[Double])],
                  f: Double => String): String = entries.map { case (k, v) =>
      Json.str(k) + ":" + v.fold("null")(f)
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // pass_ok: how many of the `passes` runs each median summarizes —
    // the self-description the r13 close artifact lost (r13 verdict
    // task 3); a query that failed some passes is visible here without
    // digging through errors
    val passOk = ordered.map { case (name, _) =>
      s"${Json.str(name)}:" + allPasses.count(_.exists {
        case (n, t) => n == name && t.isDefined })
    }.mkString("{", ",", "}")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"pass_ok":$passOk,"queries":${queryJson(results, _.toString)},"errors":$errJson,"sf":"$sfDir"}""" + "\n")
    catch { case _: Throwable => () }
    // "errors" appears only when non-empty — a failed query still surfaces
    // (null time + this field + nonzero exit), and the common all-green line
    // stays 12 chars shorter, inside the capture window
    val errPart = if (errors.isEmpty) "" else s""","errors":$errJson"""
    val short = results.map { case (k, v) =>
      (if (k.startsWith("q_")) k.drop(2) else k) -> v
    }
    def line(entries: Seq[(String, Option[Double])], folded: Seq[Double]): String = {
      val foldPart =
        if (folded.isEmpty) ""
        else s""","fast_n":${folded.length},"fast_sum":${fmt(folded.sum)}"""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${queryJson(entries, fmt)}$foldPart$errPart}"""
    }
    // window 2000 − sbt epilogue "[success] Total time: ..." (~75) −
    // "[info] " line prefix (7) − newlines ≈ 1915 usable
    val MaxLine = 1905
    var kept = short
    var folded = Vector.empty[Double]
    var out = line(kept, folded)
    while (out.length > MaxLine && kept.exists(_._2.isDefined)) {
      // fold the cheapest timed query (name order breaks ties — deterministic)
      val victim = kept.filter(_._2.isDefined).minBy { case (k, v) => (v.get, k) }
      kept = kept.filterNot(_ == victim)
      folded :+= victim._2.get
      out = line(kept, folded)
    }
    println(out)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
