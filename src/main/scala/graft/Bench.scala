package graft
/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints the full per-query JSON line followed by a compact summary-only
  * JSON line (the LAST stdout line — recorders that keep only a short
  * stdout tail still capture one complete object). A query that throws is
  * recorded under "errors" and flips the exit code — a failure must never
  * be timed as a success. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Shuffle width defaults to the core count (the driver-bench contract at
    // sf0.1) but is its own knob for scale soaks: partitions are sized so
    // per-task sort/aggregate state fits executor memory (BASELINE.md
    // round-12: 128 partitions bound the 2M-doc soak that OOM'd at 32).
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", Sessions.cpus.toString)
    val spark = Sessions.local("spark.sql.shuffle.partitions" -> shuffle)
    // Warmup: absorb session/JIT/codegen spin-up so the first timed query
    // isn't charged ~3s of one-time cost (r1/r2 bench-order artifact).
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case _: Throwable => () } // warmup is best-effort only
    var errors = Map.empty[String, String]
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run — the scale-soak harness
    // points SPARK_GRAFT_SF_DIR at a DocSynth corpus dir (documents +
    // embeddings only) and benches just the chains those tables feed.
    // Unknown action names ERROR (the SPARK_GRAFT_ONLY rule): a typo
    // silently falling back to count would record count-pruned numbers
    // AS the requested honest-cost ones — the exact artifact the
    // checksum mode exists to eliminate.
    val action = sys.env.getOrElse("SPARK_GRAFT_ACTION", "count")
    require(action == "count" || action == "checksum",
            s"SPARK_GRAFT_ACTION unknown: $action (count|checksum)")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"SPARK_GRAFT_ONLY unknown: ${unknown.mkString(",")}")
        SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // Deterministic name order: Map iteration order reshuffles whenever the
    // surface grows, which would silently change every query's predecessor
    // (and so its JIT/GC neighborhood) between rounds — pinning the order
    // keeps cross-round per-query ratios meaningful (BASELINE.md r9
    // q_doc_fingerprint attribution).
    val timed = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // collect between queries so one query's garbage doesn't surface as a
      // GC pause inside the next one's wall time (r2 judge re-ran a 11.7s
      // outlier that measured 1.6s in isolation — cross-query GC noise).
      // Also unpersist dead checkpoint blocks eagerly: localCheckpoint RDDs
      // from the PREVIOUS query are only freed when the async
      // ContextCleaner notices them unreachable, which lags enough that a
      // 2M-doc chain OOM'd a query that passes standalone in the same
      // heap (BASELINE.md round-12 2M soak).
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      // per-gate drain accounting starts clean (see the stream_split
      // emission below — batch queries never touch the accumulator)
      graft.queries.StreamingQueries.StreamObservability.resetDrain()
      val t0 = System.nanoTime()
      // SPARK_GRAFT_ACTION=checksum replaces the count action with a
      // full-row xxhash64 fold: count() lets Catalyst PRUNE projections
      // that don't change cardinality (windows, enrichment joins'
      // payload columns — the q_hits_enriched/q_window_rolling artifact
      // class), so count-timed numbers for those queries are scan cost
      // only. The checksum forces every output column to evaluate —
      // the soak harness's honest-cost mode. Default stays count: it is
      // the driver-bench contract and the cross-round comparison basis.
      try {
        val df = fn(spark, sfDir)
        if (action == "checksum") {
          // XOR fold, not SUM: summing 64-bit hashes overflows long
          // (an ANSI-mode error at any real row count).
          // EVALUATION-FORCING ONLY, not a content fingerprint: any row
          // value appearing an even number of times cancels to zero, so
          // the fold's VALUE must never be compared across runs/engines
          // — correctness comparison is Verify's oracle gate, and the
          // only thing this aggregate guarantees is that every output
          // column of every row was actually computed.
          import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}
          df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
            .agg(expr("bit_xor(__h)")).head()
        } else df.count()
      }
      catch { case e: Throwable =>
        errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
      val secs = (System.nanoTime() - t0) / 1e9
      (name, secs,
       graft.queries.StreamingQueries.StreamObservability.drainSecs)
    }
    // Build/drain split for the streaming gates (round-14 VERDICT item
    // 5): drain_s is the in-stream execution window the observability
    // hook accumulated during this query; build_s = total − drain is
    // the amortizable half (frozen-index construction, input staging,
    // sink read-back). Keyed per gate so BASELINE.md can pin the drain
    // alone — a regression in ingest cost is no longer masked by index
    // build noise. Batch queries never drain (accumulator stays 0).
    val streamSplit = timed.collect { case (n, s, d) if d > 0.0 =>
      n -> ((math.max(0.0, s - d), d))
    }
    val results = timed.map { case (n, s, _) => n -> s }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // Locale-pinned: a comma decimal separator would corrupt the JSON line.
    def j3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"${jstr(k)}:${j3(v)}" }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Batch vs streaming subtotals: the streaming gates carry fixed
    // harness cost (input-file staging, state store, AvailableNow drain)
    // that is legitimate gate overhead but not comparable to the batch
    // queries' per-operator cost — a single total across both surfaces
    // made the vs-baseline ratio ill-defined the round the gates landed
    // (BASELINE.md "Baseline comparison rule"). Compare each subtotal to
    // its own pinned baseline.
    val isStream = (name: String) => name.startsWith("q_stream_")
    val totalBatch = results.filterNot(r => isStream(r._1)).map(_._2).sum
    val totalStream = results.filter(r => isStream(r._1)).map(_._2).sum
    // Field order matters for the DRIVER, not for JSON: the driver records
    // only the last ~2000 chars of stdout, and at 100+ queries the per-query
    // map alone exceeds that — with the headline fields first they get
    // truncated out of the recorded tail (BENCH_r12 shows a mid-map cut).
    // Emitting queries/errors first and the summary scalars last keeps the
    // line one valid JSON object while guaranteeing metric/value/subtotals
    // land inside the recorded window.
    // action/shuffle are part of the line so artifacts are
    // self-describing: a checksum-mode table diffed against a count-mode
    // one reads as a systematic regression (checksum forces every output
    // column); bench_diff.py refuses mismatched actions.
    val split = streamSplit.map { case (k, (b, d)) =>
      s"${jstr(k)}:{\"build_s\":${j3(b)},\"drain_s\":${j3(d)}}"
    }.mkString("{", ",", "}")
    val drainStream = streamSplit.map(_._2._2).sum
    val line = s"""{"queries":$qs,"errors":$errs,"stream_split":$split,"metric":"total","value":${j3(total)},"unit":"sec","n_queries":${results.size},"total_batch":${j3(totalBatch)},"total_stream":${j3(totalStream)},"total_stream_drain":${j3(drainStream)},"sf":"$sfDir","action":"$action","shuffle":"$shuffle"}"""
    println(line)
    // SECOND, summary-only JSON line (round-21 VERDICT item 1, additions
    // only): with 245 per-query entries the full line is ~14 KB, and the
    // driver records only the last ~2000 chars of stdout — a full-line
    // parse can never succeed (PERF_r20/r21 both show parsed: null). This
    // compact line carries the same summary scalars and NO maps (~220
    // chars), emitted LAST so it always lands complete inside the recorded
    // tail; the full line above and the bench_perquery.json artifact keep
    // the per-query table. "n_errors" stands in for the errors map — a
    // non-zero count plus the non-zero exit code is the machine-readable
    // failure signal.
    println(s"""{"metric":"total","value":${j3(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"total_batch":${j3(totalBatch)},"total_stream":${j3(totalStream)},"total_stream_drain":${j3(drainStream)},"sf":"$sfDir","action":"$action","shuffle":"$shuffle"}""")
    // The driver records only the stdout TAIL (~2000 chars), which at 138
    // queries truncates the per-query map out of BENCH_rN.json (r12/r13
    // lost the first half — only 77/138 per-query times were recoverable
    // for regression diffing). Persist the FULL line as a repo artifact so
    // every round's per-query table survives; the driver's commit sweep
    // picks it up. FULL runs only — a SPARK_GRAFT_ONLY subset run (dev
    // loop, scale soak) overwriting the full table would be worse than
    // the truncation this fixes — unless the caller names an explicit
    // output. Best-effort: a read-only CWD must not fail the bench.
    val explicit = sys.env.get("SPARK_GRAFT_PERQUERY_OUT")
    // The implicit default anchors to the REPO ROOT (nearest ancestor of
    // the launch CWD containing build.sbt), not the raw CWD: a bench
    // launched from a scratch dir would otherwise misplace the artifact
    // the regression differ reads, silently (round-14 ADVICE). Falls back
    // to the CWD only when no build.sbt ancestor exists.
    def repoRootDefault: java.nio.file.Path = {
      var d = java.nio.file.Paths.get("").toAbsolutePath
      var found: Option[java.nio.file.Path] = None
      while (d != null && found.isEmpty) {
        if (java.nio.file.Files.exists(d.resolve("build.sbt"))) found = Some(d)
        d = d.getParent
      }
      found.getOrElse(java.nio.file.Paths.get("").toAbsolutePath)
        .resolve("bench_perquery.json")
    }
    try {
      if (only.isEmpty || explicit.isDefined) {
        val out = explicit.map(java.nio.file.Paths.get(_))
          .getOrElse(repoRootDefault)
        java.nio.file.Files.write(out,
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } catch {
      // Best-effort either way (the bench numbers on stdout are still
      // valid — never exit on artifact failure), but ALWAYS say so on
      // stderr: a silently missing per-query artifact is the data-loss
      // mode this write exists to fix, implicit path included.
      case e: Throwable =>
        System.err.println(
          s"[bench] FAILED to write ${explicit.getOrElse(repoRootDefault.toString)}: " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    spark.stop()
    if (errors.nonEmpty) {
      errors.foreach { case (k, v) => System.err.println(s"[bench] $k FAILED: $v") }
      sys.exit(1)
    }
  }
}
