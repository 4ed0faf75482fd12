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
    // The core count at sf0.1; scale soaks raise it so per-task state fits memory.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", Sessions.cpus.toString)
    val spark = Sessions.local("spark.sql.shuffle.partitions" -> shuffle)
    // Warmup, so the first timed query isn't charged session/JIT/codegen spin-up.
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
    // Name order: each query keeps its predecessor (its JIT/GC neighbourhood)
    // when the surface grows, so per-query times stay comparable across runs.
    val timed = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // Free the previous query's checkpoint blocks (the async ContextCleaner
      // lags) and garbage, so neither lands in this query's heap or time.
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
    // Stream gates: drain_s is the in-stream window, build_s = total − drain
    // (index build, staging, read-back). Batch queries never drain.
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
    // Separate subtotals: stream gates carry fixed harness cost that batch
    // per-operator times do not; compare each to its own baseline.
    val isStream = (name: String) => name.startsWith("q_stream_")
    val totalBatch = results.filterNot(r => isStream(r._1)).map(_._2).sum
    val totalStream = results.filter(r => isStream(r._1)).map(_._2).sum
    // Maps first, scalars last, so a tail-truncated record keeps the summary.
    // action/shuffle make the artifact self-describing: bench_diff.py
    // refuses to diff a checksum table against a count one.
    val split = streamSplit.map { case (k, (b, d)) =>
      s"${jstr(k)}:{\"build_s\":${j3(b)},\"drain_s\":${j3(d)}}"
    }.mkString("{", ",", "}")
    val drainStream = streamSplit.map(_._2._2).sum
    val line = s"""{"queries":$qs,"errors":$errs,"stream_split":$split,"metric":"total","value":${j3(total)},"unit":"sec","n_queries":${results.size},"total_batch":${j3(totalBatch)},"total_stream":${j3(totalStream)},"total_stream_drain":${j3(drainStream)},"sf":"$sfDir","action":"$action","shuffle":"$shuffle"}"""
    println(line)
    // A summary-only line, last: the full line (~14 KB) overflows a recorder
    // that keeps ~2000 chars of stdout. n_errors stands in for the errors map.
    println(s"""{"metric":"total","value":${j3(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"total_batch":${j3(totalBatch)},"total_stream":${j3(totalStream)},"total_stream_drain":${j3(drainStream)},"sf":"$sfDir","action":"$action","shuffle":"$shuffle"}""")
    // The full line goes to bench_perquery.json, where a tail-only recorder
    // cannot truncate it: full runs only (a SPARK_GRAFT_ONLY subset must not
    // overwrite the full table) unless an explicit output is named.
    val explicit = sys.env.get("SPARK_GRAFT_PERQUERY_OUT")
    // Default: the nearest ancestor of the CWD holding build.sbt (where
    // bench_diff.py looks), else the CWD.
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
