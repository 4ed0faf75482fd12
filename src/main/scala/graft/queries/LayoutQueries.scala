package graft.queries

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/**
 * Physical-layout queries: the oracle-checked face of the 100 TB layout
 * posture (SURVEY.md §4.3). `LayoutSpec` proves the plan properties
 * (bucketed join without exchanges, partition-pruned scans); this query
 * puts a date-partition-pruned scan behind the driver's correctness gate
 * so the layout path is exercised end-to-end every round.
 *
 * At 100 TB, partition pruning is the single biggest scan lever: an
 * events corpus is always laid out by date, and a week-over-month query
 * must read 7/30ths of the files, not all of them and filter later. The
 * reference has no partitioned storage (GCS text globs only,
 * `main.py:173`), so this is extension surface, same status as §7.4.
 */
object LayoutQueries {

  /** Dirs handed out by [[derivedDir]] this process, deleted by a JVM
    * shutdown hook: pid-keyed scratch is garbage once the process exits,
    * and no later process knows this pid — without the hook every
    * bench/dev iteration leaked one tree of stream inputs and IVF
    * layouts under /tmp (ADVICE r10). Registered only for the
    * local-tmpdir default; a deployment that sets
    * `spark.graft.layoutRoot` owns that storage's lifecycle. */
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(
      () => scratchDirs.forEach(deleteTree(_)), "graft-scratch-cleanup"))
  private def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete()
  }

  /** Per-PROCESS scratch dir for derived data over a testdata dir — the
    * ONE statement of the pid-keyed scratch discipline: rooted at
    * `spark.graft.layoutRoot` when set (so a deployment's derived data
    * follows its durable-storage choice) else the local tmpdir, keyed by
    * basename + path hash (same-basename corpora can't collide) + this
    * JVM's pid (concurrent processes can't race each other's overwrite)
    * + the caller's suffix. Local-tmpdir dirs are deleted on JVM exit
    * ([[scratchDirs]]). */
  private[queries] def derivedDir(s: SparkSession, sfDir: String,
                                  suffix: String): String = {
    val key = f"${new java.io.File(sfDir).getName}-${sfDir.hashCode & 0x7FFFFFFF}%08x"
    val base = s.conf.getOption("spark.graft.layoutRoot")
    val dir = s"${base.getOrElse(s"${sys.props("java.io.tmpdir")}/graft-layouts")}" +
      s"/$suffix-$key-p${ProcessHandle.current().pid()}"
    if (base.isEmpty) { scratchHook; scratchDirs.add(new java.io.File(dir)) }
    dir
  }

  /** Order-invariant metadata fingerprint of a source dir's data files
    * — `(name, length, mtime)` per file, md5-folded, prefixed with the
    * file count. Metadata-only (no data reads); a changed, added, or
    * removed file flips it. */
  private[queries] def sourceFingerprint(s: SparkSession,
                                         srcDir: String): String = {
    val p = new Path(srcDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "absent"
    val it = fs.listFiles(p, true)
    var x = 0L
    var n = 0L
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$name:${st.getLen}:${st.getModificationTime}"
                    .getBytes("UTF-8"))
        x ^= java.nio.ByteBuffer.wrap(d, 0, 8).getLong
        n += 1
      }
    }
    f"$n:$x%016x"
  }

  /** The one memo for derived artifacts: the directory of artifact
    * `name` over `srcDir`, built by `build(dir)` at most once per state
    * of the source. The directory is a [[derivedDir]] (pid-keyed, under
    * `spark.graft.layoutRoot` when set, else deleted at JVM exit), and
    * its `_GRAFT_BUILT` marker records the [[sourceFingerprint]] of
    * `srcDir` it was built from. A missing marker or a different
    * fingerprint deletes the directory and rebuilds it from a clean
    * root, so neither a stale table nor a half-finished build survives.
    * One re-entrant lock covers every memo: nested memos (a layout built
    * from the memoized labels, themselves built with the memoized
    * quantizer) run on one thread.
    *
    * A built artifact is read-only. A gate that needs an artifact plus a
    * change of its own (an append, a second version) memoizes that whole
    * derivation under its own name and never writes into another
    * memo's directory. */
  private[queries] def memo(s: SparkSession, srcDir: String, name: String)(
      build: String => Unit): String = synchronized {
    val out = derivedDir(s, srcDir, name)
    val root = new Path(out)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new Path(root, "_GRAFT_BUILT")
    val fp = sourceFingerprint(s, srcDir)
    val built = fs.exists(marker) && {
      val in = fs.open(marker)
      try new String(in.readAllBytes(), "UTF-8") == fp finally in.close()
    }
    if (!built) {
      if (fs.exists(root)) fs.delete(root, true)
      build(out)
      val o = fs.create(marker, true)
      try o.write(fp.getBytes("UTF-8")) finally o.close()
    }
    out
  }

  /**
   * The date-partitioned events layout, [[memo]]ized: events written
   * `partitionBy("day")`, day = event date in UTC. Readers get a `day`
   * partition column that Catalyst prunes at planning time — the scan
   * for a one-week filter touches 7 of 30 directories.
   */
  private[queries] def eventsByDay(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(memo(s, sfDir, "events-by-day") { out =>
      Tables.events(s, sfDir)
        .withColumn("day", to_date(col("ts_t")))
        // cluster rows by the partition column before the partitioned
        // write: without it every task writes a file into every day
        // directory (tasks × days small files — the classic partitioned-
        // write mistake at scale); with it each day gets its writers
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
    })

  /** Daily event volume and reach for the first week of the corpus, read
    * off the date-partitioned layout. The `day` filter is a partition
    * filter — `LayoutSpec` asserts the executed plan scans exactly the 7
    * selected partitions. The literal dates are stable: every testdata SF
    * spans 2024-01-01..2024-01-30. `day` is exported as a string so both
    * engines hash the same canonical value. */
  val qPartitionPrune = Q(
    "q_partition_prune",
    (s, dir) =>
      eventsByDay(s, dir)
        .filter(col("day").between(lit("2024-01-01"), lit("2024-01-07")))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("user_id")).as("n_users"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
                col("n_events"), col("n_users")),
    Some("""SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN '2024-01-01' AND '2024-01-07'
      |GROUP BY 1""".stripMargin)
  )

  /**
   * The z-ordered events layout ([[memo]]ized like [[eventsByDay]]):
   * rows clustered by the Morton interleave of (user_id, epoch-day), so
   * parquet min/max stats are tight on BOTH dimensions per file and per
   * row group — the layout for a lake that must answer user-scoped AND
   * time-scoped queries off one copy. Columns stored raw (`day_n` is the
   * UTC epoch-day of the event); the z key itself is dropped at write.
   */
  private[queries] def eventsZOrdered(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(memo(s, sfDir, "events-zorder") { out =>
      val ev = Tables.events(s, sfDir)
        .withColumn("day_n", expr("ts_us div 86400000000"))
        .select("event_id", "user_id", "event_type", "day_n")
      graft.sources.Layouts.writeZOrdered(
        ev, col("user_id"), col("day_n"), out, nFiles = 16)
    })

  /** 2-D box query over the z-ordered layout: one user-id band × one
    * calendar week. Both predicates reach the parquet scan as pushed
    * filters, and the z-clustering makes file/row-group min-max skipping
    * effective on both at once (`ZOrderSpec` measures the per-file span
    * contraction; a single-column sort would leave the other dimension's
    * spans at ~full domain). The oracle replays the box on the raw
    * events table — the layout must be a pure re-clustering. */
  val qZorderPrune = Q(
    "q_zorder_prune",
    (s, dir) => {
      val d1 = java.time.LocalDate.parse("2024-01-10").toEpochDay
      val d2 = java.time.LocalDate.parse("2024-01-16").toEpochDay
      eventsZOrdered(s, dir)
        .filter(col("user_id").between(100L, 299L) &&
                col("day_n").between(d1, d2))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("day_n")).as("n_days"))
    },
    Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
      |FROM events
      |WHERE user_id BETWEEN 100 AND 299
      |  AND CAST(ts AS DATE) BETWEEN '2024-01-10' AND '2024-01-16'
      |GROUP BY 1""".stripMargin)
  )

  /** The 3-key z-ordered events layout — [[eventsZOrdered]] with
    * hour-of-day as the third clustering dimension: the lake shape for
    * a table answering user-scoped, date-scoped AND time-of-day-scoped
    * queries (sessionization windows, peak-hour analyses) off one
    * copy. */
  private[queries] def eventsZOrdered3(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(memo(s, sfDir, "events-zorder3") { out =>
      val ev = Tables.events(s, sfDir)
        .withColumn("day_n", expr("ts_us div 86400000000"))
        .withColumn("hour_n", expr("(ts_us div 3600000000) % 24"))
        .select("event_id", "user_id", "event_type", "day_n", "hour_n")
      graft.sources.Layouts.writeZOrdered3(
        ev, col("user_id"), col("day_n"), col("hour_n"), out, nFiles = 16)
    })

  /** 3-D box query over the [[eventsZOrdered3]] layout: one user band ×
    * one calendar week × business hours. All three predicates reach the
    * scan pushed, and the 3-key curve bounds all three per-file spans
    * (`ZOrderSpec` measures the contraction on a cube fixture). The
    * oracle replays the box on raw events — the layout must stay a pure
    * re-clustering. */
  val qZorder3Prune = Q(
    "q_zorder3_prune",
    (s, dir) => {
      val d1 = java.time.LocalDate.parse("2024-01-10").toEpochDay
      val d2 = java.time.LocalDate.parse("2024-01-16").toEpochDay
      eventsZOrdered3(s, dir)
        .filter(col("user_id").between(100L, 299L) &&
                col("day_n").between(d1, d2) &&
                col("hour_n").between(9L, 17L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("day_n")).as("n_days"),
             countDistinct(col("hour_n")).as("n_hours"))
    },
    Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |       CAST(COUNT(DISTINCT EXTRACT(HOUR FROM ts)) AS BIGINT) AS n_hours
      |FROM events
      |WHERE user_id BETWEEN 100 AND 299
      |  AND CAST(ts AS DATE) BETWEEN '2024-01-10' AND '2024-01-16'
      |  AND EXTRACT(HOUR FROM ts) BETWEEN 9 AND 17
      |GROUP BY 1""".stripMargin)
  )

  /** The daily aggregate maintained by [[qBackfill]] — one definition
    * for the initial build and the backfill recompute. */
  private def dailyAgg(ev: DataFrame): DataFrame =
    ev.groupBy("day")
      .agg(count(lit(1)).as("n_events"),
           sum(round(col("value") * 100).cast("long")).as("value_cents"))

  /**
   * BACKFILL via dynamic partition overwrite — the incremental-recompute
   * WRITE pattern that pairs with [[DedupQueries.corpusDiff]]'s read
   * side: when late data (or a bug fix) invalidates a date range of a
   * derived layout, recompute THAT RANGE and overwrite only its
   * partitions, leaving every other partition's files untouched.
   * `partitionOverwriteMode=dynamic` is the load-bearing option: static
   * overwrite (the default) would DELETE the whole table first, turning
   * a one-range backfill into a full rebuild (and a window of data
   * loss) — at a 100 TB lake the difference is the whole point of
   * date-partitioned derived tables.
   *
   * The gate makes the semantics observable: the initial build writes
   * days ≥ 01-08 deliberately WRONG (value double-counted), the
   * backfill recomputes exactly that range, and the read-back must
   * match the all-days oracle — which can only happen if dynamic
   * overwrite replaced every targeted partition and preserved every
   * untouched one ([[graft.queries]] `BackfillSpec` additionally
   * asserts the untouched partitions' FILES are byte-identical).
   */
  val qBackfill = Q(
    "q_backfill",
    (s, dir) => {
      val base = derivedDir(s, dir, s"backfill-${System.nanoTime()}")
      val ev = Tables.events(s, dir)
        .withColumn("day", to_date(col("ts_t")))
        .select(col("day"), col("value"))
      val wrong = ev.withColumn("value",
        when(col("day") >= lit("2024-01-08"), col("value") * 2)
          .otherwise(col("value")))
      dailyAgg(wrong).repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(base)
      dailyAgg(ev.filter(col("day") >= lit("2024-01-08")))
        .repartition(col("day"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(base)
      s.read.parquet(base)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
                col("n_events"), col("value_cents"))
    },
    Some("""SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
      |         AS value_cents
      |FROM events GROUP BY 1""".stripMargin)
  )

  /** Bucket count for [[qBucketJoin]] — cluster-width-scale in a real
    * deployment; 8 keeps the fixture write cheap. */
  private val NBuckets = 8

  /** The bucketed-layout JOIN INPUT for [[qBucketJoin]]: lineitem and
    * orders written once per (corpus, process) as bucketed+sorted
    * catalog tables on the SAME key and bucket count, then joined —
    * the layout where the join needs NO exchange on either side
    * (`BucketJoinSpec` asserts the shuffle-free plan; at 100 TB this is
    * THE repeated-join economics: pay the shuffle once at write time,
    * never again per query). Table names are corpus- and pid-keyed like
    * [[derivedDir]] scratch, registered in the session catalog with
    * external paths under the same cleanup discipline. */
  private[graft] def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // identifier-safe: a corpus basename like "sf0.001" would otherwise
    // put a '.' in the table name, which the parser reads as a schema
    // separator
    val key = f"${new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")}" +
      f"_${dir.hashCode & 0x7FFFFFFF}%08x_p${ProcessHandle.current().pid()}"
    val liName = s"graft_bkt_li_$key"
    val ordName = s"graft_bkt_ord_$key"
    // BOTH tables gate the write: a failure between the two saveAsTable
    // calls must not leave a half-registered pair that every later call
    // then trusts (lineitem present, orders missing, no recovery path)
    if (!s.catalog.tableExists(liName) || !s.catalog.tableExists(ordName)) {
      val base = derivedDir(s, dir, "bucketed")
      Tables.read(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .write.bucketBy(NBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").mode("overwrite")
        .saveAsTable(liName)
      Tables.read(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.bucketBy(NBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").mode("overwrite")
        .saveAsTable(ordName)
    }
    s.table(liName)
      .join(s.table(ordName), col("l_orderkey") === col("o_orderkey"))
  }

  /**
   * Bucket-co-located join behind the driver gate: the two fact tables
   * pre-bucketed on the join key meet WITHOUT a shuffle on either side
   * (the plan property `BucketJoinSpec` pins); only the small
   * per-priority aggregate exchanges after. The oracle is the plain
   * logical join — bucketing is pure physical layout, so any drift
   * (bucket pruning bug, sorted-scan merge bug, bucket-count mismatch
   * silently falling back to a shuffle of HALF the rows) surfaces as a
   * hash mismatch here.
   */
  val qBucketJoin = Q(
    "q_bucket_join",
    (s, dir) =>
      bucketedJoin(s, dir)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
             sum(round(col("l_quantity") * 100).cast("long")).as("qty_c")),
    Some("""SELECT o_orderpriority, l_returnflag, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin)
  )

  /** Target output file size for [[qCompactFiles]] (bytes). Small on
    * purpose at fixture scale so the op demonstrably produces MORE
    * than one file; a deployment sets ~128–512 MB. */
  private[graft] val CompactTargetBytes = 256L * 1024

  /**
   * SMALL-FILE COMPACTION — the table-maintenance op every streaming/
   * incremental lake needs: rewrite a table into `⌈bytes/target⌉`
   * right-sized files, where the file count is derived from the
   * MEASURED input bytes (the scan relation's file sizes), not
   * guessed. At 100 TB the small-file problem is a top-3 operational
   * cost (every file is a task + a NameNode/liststore entry + a
   * parquet footer parse); compaction cadence is how it's paid down.
   * The gate proves content preservation through the rewrite (identity
   * oracle — compaction must be invisible to readers);
   * `CompactFilesSpec` pins the file-count arithmetic and that the
   * rewrite actually coalesced.
   */
  val qCompactFiles = Q(
    "q_compact_files",
    (s, dir) => {
      // fixed suffix + overwrite mode: a nanoTime-unique dir would leak
      // one full corpus copy PER INVOCATION until JVM exit (Verify dump
      // + bench + retries in one session each holding a copy)
      val out = derivedDir(s, dir, "compact")
      compactTo(Tables.read(s, dir, "documents"), s"$dir/documents.parquet",
                out, CompactTargetBytes)
      s.read.parquet(out)
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents")
  )

  /** The compaction itself: size `src`'s files, rewrite `df` into
    * `⌈bytes/targetBytes⌉` output files under `out`. Returns the file
    * count chosen. */
  private[graft] def compactTo(df: DataFrame, src: String, out: String,
                               targetBytes: Long): Int = {
    val s = df.sparkSession
    val p = new Path(src)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // round-robin repartition: compaction balances BYTES, not keys —
    // there is no join locality to preserve here, and RR gives the
    // tightest size distribution
    df.repartition(nFiles).write.mode("overwrite").parquet(out)
    nFiles
  }

  /** Physical bucket count for the stored inverted index — the
    * [[graft.queries.SimQueries]] ClusterBuckets rationale applied to
    * terms: partitioning by raw term would create one directory per
    * vocabulary entry (metadata-bound at corpus scale); 64 hash
    * buckets keep every term's row in exactly one prunable directory
    * at any vocabulary size. */
  private[queries] val TermBuckets = 64

  /** Materialize [[TextStatsQueries.invertedIndex]] as a bucketed
    * physical layout (`<outDir>/terms/tbucket=<b>/`, term-sorted
    * within files so the probe's `term =` filter skips row groups). */
  private[queries] def writeIndex(s: SparkSession, dir: String,
                                  outDir: String): Unit =
    writeIndexRows(Tables.read(s, dir, "documents"), outDir, "overwrite")

  /** The one statement of the bucketed index write — build
    * (`overwrite`) and incremental append share it, so the two can
    * never drift on bucketing or sort order. */
  private def writeIndexRows(docsDf: DataFrame, outDir: String,
                             mode: String): Unit = {
    TextStatsQueries.invertedIndex(docsDf)
      .withColumn("tbucket", pmod(xxhash64(col("term")),
                                  lit(TermBuckets.toLong)))
      .repartition(col("tbucket"))
      .sortWithinPartitions("tbucket", "term")
      .write.mode(mode).partitionBy("tbucket")
      .parquet(s"$outDir/terms")
    // atomic publish (the writeBands discipline): build and append
    // both commit, so probes never serve a torn partial-row set
    graft.sources.AtomicPublish.commit(docsDf.sparkSession, outDir)
  }

  /** The maintenance half of the stored index: an arriving batch's
    * PARTIAL index rows append under their term buckets. Partial rows
    * are exactly the mergeable-summary trio this library's sketches
    * pin — `df`/`total_tf` are additive over disjoint doc sets, and
    * the capped ascending-posting prefix merges because the smallest
    * `PostingsCap` of a union are contained in the union of the
    * sides' smallest `PostingsCap` — so compaction at any cadence
    * reconstructs the from-scratch index EXACTLY ([[qIndexAppend]]'s
    * oracle is the full-build SQL verbatim). */
  private[queries] def appendToIndex(batch: DataFrame,
                                     outDir: String): Unit =
    writeIndexRows(batch, outDir, "append")

  /** STREAMING COMPACTION under the manifest protocol (round-17
    * VERDICT #7): fold a DRAINED micro-batch sink of per-document
    * index partials `(doc_id, term, tf)` — the `q_stream_index` sink
    * shape — into the committed index layout as ONE atomic version:
    * the batch's term-keyed partial rows (the same mergeable trio
    * [[appendToIndex]] appends) land under their buckets, then the
    * manifest commits. A compactor that dies between the file append
    * and the commit leaves a TORN batch that [[graft.sources
    * .AtomicPublish.readCommitted]] readers provably never see
    * (`StreamCompactionSpec`); `commitAfter = false` IS that crash,
    * as a test seam — production callers never pass it. */
  private[queries] def compactStreamSink(partials: DataFrame,
                                         outDir: String,
                                         commitAfter: Boolean = true): Unit = {
    partials.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"),
           graft.operators.TopK.topK(TextStatsQueries.PostingsCap)(
             -col("doc_id"), col("doc_id")).as("top"))
      .select(col("term"), col("df"), col("total_tf"),
              array_join(transform(col("top.items"),
                                   x => x.getField("id").cast("string")),
                         ",").as("postings"))
      .withColumn("tbucket", pmod(xxhash64(col("term")),
                                  lit(TermBuckets.toLong)))
      .repartition(col("tbucket"))
      .sortWithinPartitions("tbucket", "term")
      .write.mode("append").partitionBy("tbucket")
      .parquet(s"$outDir/terms")
    if (commitAfter)
      graft.sources.AtomicPublish.commit(partials.sparkSession, outDir)
  }

  /** Compact a stored index's partial rows into final per-term rows:
    * one term-keyed aggregate — additive counters summed, posting
    * prefixes merged as sort-then-cap over the flattened parts. */
  private[queries] def compactIndex(s: SparkSession,
                                    outDir: String): DataFrame =
    compactIndexRows(
      graft.sources.AtomicPublish.readCommitted(s, outDir, "terms"))

  /** [[compactIndex]] against a PINNED snapshot version instead of the
    * latest commit — the time-travel read of the same layout. */
  private[queries] def compactIndexAt(s: SparkSession, outDir: String,
                                      version: Long): DataFrame =
    compactIndexRows(
      graft.sources.AtomicPublish.readCommittedAt(s, outDir, "terms",
                                                  version))

  private def compactIndexRows(rows: DataFrame): DataFrame =
    rows
      .groupBy("term")
      .agg(sum("df").as("df"), sum("total_tf").as("total_tf"),
           array_join(
             transform(
               slice(array_sort(flatten(collect_list(
                       split(col("postings"), ",").cast("array<long>")))),
                     1, TextStatsQueries.PostingsCap),
               x => x.cast("string")),
             ",").as("postings"))
      .select("term", "df", "total_tf", "postings")

  /**
   * INCREMENTAL inverted-index maintenance behind the gate — the
   * strongest invariant the layout family states: build the index from
   * the standing corpus, append the arriving batch's partial rows
   * (never re-reading the corpus), compact, and the result must equal
   * the FROM-SCRATCH index over everything — the oracle is
   * `q_inverted_index`'s SQL verbatim, so any error in the partial-row
   * shape, the additive merge, or the posting-prefix containment
   * argument hash-mismatches here.
   */
  val qIndexAppend = Q(
    "q_index_append",
    (s, dir) => {
      val out = derivedDir(s, dir, "inv-index-append")
      val docs = Tables.read(s, dir, "documents")
      writeIndexRows(docs.filter(col("doc_id") % 5 =!= 4), out, "overwrite")
      appendToIndex(docs.filter(col("doc_id") % 5 === 4), out)
      compactIndex(s, out)
    },
    TextStatsQueries.qInvertedIndex.oracle
  )

  /**
   * TIME-TRAVEL read as an oracle gate — snapshot isolation stated
   * against an independent replay, not just the AtomicPublishSpec
   * simulation: build the index from HALF the corpus (commit v1),
   * append the other half (commit v2), then compact the layout
   * PINNED at v1 ([[graft.sources.AtomicPublish.readCommittedAt]]).
   * The oracle recomputes the index over the v1 half only, so any
   * leak of v2's files into the pinned read — a listing-based
   * resolve, a manifest mix-up, retained-manifest damage — surfaces
   * extra postings and hash-mismatches. This is the guarantee a
   * long-running 100 TB probe depends on while maintenance appends
   * commit underneath it.
   *
   * Scale shape: [[qIndexAppend]]'s (the same build + append bill);
   * the pinned read itself is an explicit-file-set parquet scan —
   * same pruning as the latest-commit read, zero extra cost.
   */
  val qSnapshotRead = Q(
    "q_snapshot_read",
    (s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val out = memo(s, dir, "inv-index-snap") { out =>
        writeIndexRows(docs.filter(col("doc_id") % 2 === 0), out, "overwrite")
        appendToIndex(docs.filter(col("doc_id") % 2 =!= 0), out)
      }
      compactIndexAt(s, out, version = 1L)
    },
    Some(s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0
      |), tf AS (
      |  SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2
      |)
      |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |       CAST(SUM(tf) AS BIGINT) AS total_tf,
      |       array_to_string(
      |         list_transform(
      |           list_slice(list(doc_id ORDER BY doc_id), 1,
      |                      ${TextStatsQueries.PostingsCap}),
      |           x -> CAST(x AS VARCHAR)), ',') AS postings
      |FROM tf GROUP BY term""".stripMargin)
  )

  /**
   * Term probe THROUGH the stored inverted-index layout — the
   * layout+probe discipline ([[graft.queries.SimQueries]] qIvfProbe /
   * qClusterProbe) applied to the text-retrieval artifact: build the
   * bucketed index once, then answer one term lookup as a
   * partition-pruned, filter-pushed scan of a single bucket directory
   * — query cost scales with bucket size, not vocabulary size, and
   * the `tbucket =` literal is a folded constant so pruning happens at
   * planning. The probe term is DATA-DERIVED deterministically (the
   * first token of the lowest-doc_id document), so the gate runs
   * unchanged on any corpus; the oracle recomputes the full index and
   * selects the same term, so a regression in the index build, the
   * bucket derivation, or the pruned read all hash-mismatch here.
   */
  val qIndexProbe = Q(
    "q_index_probe",
    (s, dir) => {
      val out = derivedDir(s, dir, "inv-index")
      writeIndex(s, dir, out)
      val rows = Tables.read(s, dir, "documents")
        .filter(col("text").isNotNull)
        .orderBy(col("doc_id"))
        .select(element_at(split(col("text"), " "), 1).as("t"))
        .head(1)
      require(rows.nonEmpty,
              s"$dir/documents has no non-null text to derive a probe " +
                "term from — probe an explicit term instead")
      val t = rows.head.getString(0)
      graft.sources.AtomicPublish.readCommitted(s, out, "terms")
        .filter(col("tbucket") === pmod(xxhash64(lit(t)),
                                        lit(TermBuckets.toLong)) &&
                  col("term") === t)
        .select("term", "df", "total_tf", "postings")
    },
    Some(s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE text IS NOT NULL
      |), tf AS (
      |  SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2
      |), idx AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |         CAST(SUM(tf) AS BIGINT) AS total_tf,
      |         array_to_string(
      |           list_transform(
      |             list_slice(list(doc_id ORDER BY doc_id), 1,
      |                        ${TextStatsQueries.PostingsCap}),
      |             x -> CAST(x AS VARCHAR)), ',') AS postings
      |  FROM tf GROUP BY term
      |), pt AS (
      |  SELECT string_split(text, ' ')[1] AS t FROM documents
      |  WHERE text IS NOT NULL
      |  ORDER BY doc_id LIMIT 1
      |)
      |SELECT term, df, total_tf, postings FROM idx
      |WHERE term = (SELECT t FROM pt)""".stripMargin)
  )

  /** Per-(term, doc) position-list cap for the POSITIONAL index — the
    * PostingsCap discipline applied to positions: the stored artifact
    * stays bounded per row no matter how often a term repeats in one
    * document (a 2 M-token document may repeat a stop-term 100 k
    * times; the first [[PhrasePosCap]] ascending positions are the
    * stored prefix, and the oracle replays the SAME cap, so gate
    * semantics never depend on the tail). */
  private[queries] val PhrasePosCap = 64

  /** Materialize the POSITIONAL inverted index —
    * `(term, doc_id, positions)` with ascending capped positions —
    * under the same 64-bucket term-hash layout as [[writeIndex]]
    * (`<outDir>/pos/tbucket=<b>/`), so a phrase probe prunes to the
    * phrase terms' buckets exactly like the term probe. */
  private[queries] def writePhraseIndex(s: SparkSession, dir: String,
                                        outDir: String): Unit = {
    Tables.read(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
              posexplode(graft.text.TextOps.tokens(col("text")))
                .as(Seq("pos", "term")))
      .groupBy("term", "doc_id")
      .agg(slice(sort_array(collect_list(col("pos"))), 1, PhrasePosCap)
             .as("positions"))
      .withColumn("tbucket", pmod(xxhash64(col("term")),
                                  lit(TermBuckets.toLong)))
      .repartition(col("tbucket"))
      .sortWithinPartitions("tbucket", "term")
      .write.mode("overwrite").partitionBy("tbucket")
      .parquet(s"$outDir/pos")
    // atomic publish (the writeBands discipline)
    graft.sources.AtomicPublish.commit(s, outDir)
  }

  /**
   * PHRASE probe through the stored POSITIONAL index — the capability
   * the first-16-posting prefix of [[qIndexProbe]]'s artifact cannot
   * answer (VERDICT r15 gap 5): positions make adjacency queries
   * answerable FROM THE ARTIFACT, without re-reading the corpus. The
   * phrase is data-derived (the first two tokens of the lowest-doc_id
   * document — the [[qIndexProbe]] discipline, so the gate runs on any
   * corpus); each term's postings come from ONE pruned bucket
   * directory (`PhraseIndexSpec` asserts the prune and the pushed
   * `term =` filter), and adjacency is a row-local HOF over the two
   * position arrays after a doc_id equi-join of the two term frames —
   * cost scales with the PHRASE TERMS' posting lists, never the corpus
   * or the vocabulary. The oracle recomputes positional postings from
   * scratch (same 0-based positions, same [[PhrasePosCap]]) and the
   * same adjacency count.
   */
  val qIndexPhrase = Q(
    "q_index_phrase",
    (s, dir) => {
      val out = derivedDir(s, dir, "pos-index")
      writePhraseIndex(s, dir, out)
      val rows = Tables.read(s, dir, "documents")
        .filter(col("text").isNotNull)
        .orderBy(col("doc_id"))
        .select(element_at(split(col("text"), " "), 1).as("t1"),
                element_at(split(col("text"), " "), 2).as("t2"))
        .head(1)
      require(rows.nonEmpty,
              s"$dir/documents has no non-null text to derive a phrase " +
                "from — probe an explicit phrase instead")
      val (t1, t2) = (rows.head.getString(0), rows.head.getString(1))
      require(t1 != null, "probe document has no first token")
      val idx = graft.sources.AtomicPublish.readCommitted(s, out, "pos")
      def side(t: String, posAs: String) =
        idx.filter(col("tbucket") === pmod(xxhash64(lit(t)),
                                           lit(TermBuckets.toLong)) &&
                     col("term") === t)
          .select(col("doc_id"), col("positions").as(posAs))
      side(t1, "pa").join(side(t2, "pb"), Seq("doc_id"))
        .select(col("doc_id"),
                size(filter(col("pa"),
                            p => array_contains(col("pb"), p + 1)))
                  .cast("long").as("n_matches"))
        .filter(col("n_matches") > 0)
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL
      |), pt AS (
      |  SELECT toks AS tk FROM d ORDER BY doc_id LIMIT 1
      |), px AS (
      |  SELECT doc_id, unnest(toks) AS term,
      |         unnest(generate_series(0, len(toks) - 1)) AS pos
      |  FROM d
      |), pl AS (
      |  SELECT term, doc_id,
      |         list_slice(list(pos ORDER BY pos), 1, $PhrasePosCap) AS ps
      |  FROM px
      |  WHERE term = (SELECT tk[1] FROM pt) OR term = (SELECT tk[2] FROM pt)
      |  GROUP BY 1, 2
      |), a AS (SELECT doc_id, ps FROM pl WHERE term = (SELECT tk[1] FROM pt)),
      |b AS (SELECT doc_id, ps FROM pl WHERE term = (SELECT tk[2] FROM pt))
      |SELECT a.doc_id,
      |       CAST(len(list_filter(a.ps, p -> list_contains(b.ps, p + 1)))
      |            AS BIGINT) AS n_matches
      |FROM a JOIN b ON a.doc_id = b.doc_id
      |WHERE len(list_filter(a.ps, p -> list_contains(b.ps, p + 1))) > 0""".stripMargin)
  )

  val all: Seq[Q] = Seq(qPartitionPrune, qZorderPrune, qZorder3Prune,
                        qBackfill, qBucketJoin,
                        qCompactFiles, qIndexProbe, qIndexAppend,
                        qIndexPhrase, qSnapshotRead)
}
