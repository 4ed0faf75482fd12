package perfbench

import java.io.File
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.Pipeline
import graft.exports.Exports
import graft.ingest.HitParser
import graft.session.Sessionize
import graft.sources.Tables
import graft.streaming.{StreamingFeed, StreamingSessionize}

/** One closed-loop operation's outcome. `units` are the operation's
  * timed parts: the `Pipeline.run` call itself, or each micro-batch with
  * input of a stream drain. */
final case class Op(seconds: Double, units: Seq[Double], lines: Long,
                    hours: Int, ok: Boolean)

/**
 * The reference workflow timed from outside, one JVM, `local[cores]`
 * with `cores` the JVM's available processors.
 *
 *   feed_batch   one day of hourly UTF-8 files, one `Pipeline.run`
 *   feed_hourly  gzipped ISO-8859-1 hourly files, one `Pipeline.run` each
 *   feed_stream  a backlog of hourly files drained by a session-window
 *                stream, one file per micro-batch
 *
 * Untraced, it times operations closed loop (one in flight) for
 * `--seconds` and checks every operation's output against the feed's
 * ground truth. Traced, it times traced against untraced operations,
 * then, with a [[Collector]] registered, a ladder of layers (read, parse,
 * quarantine, sessionize, exports, rename) and a stream drain, and last
 * one operation at `local[1]`. It prints one JSON line;
 * `perfbench/run.py` launches it.
 */
object FeedBench {

  private val mapper = new ObjectMapper()

  /** Seconds of untimed operations on full-size input before timing. */
  val WarmupSeconds = 15.0

  final case class Args(workload: String, feed: String, work: String,
                        seconds: Double, trace: Boolean, launchedMs: Long)

  private def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Args(m("--workload"), m("--feed"), m("--work"), m("--seconds").toDouble,
         m.get("--trace").contains("1"), m("--launched-ms").toLong)
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Shuffle partitions per workload. `feed_hourly` keeps Spark's default
    * of 200, as `Pipeline.main` does: that fan-out (800 tasks and 600
    * files per run) is the deployed per-job cost it measures. The others
    * use one per core, as the repo's `Bench` and `Verify` mains do; at 200
    * a micro-batch takes about 10 s and a day batch is no longer dominated
    * by its operators. */
  def shufflePartitions(workload: String): Option[Int] =
    if (workload == "feed_hourly") None else Some(cores)

  def session(threads: Int, partitions: Option[Int], work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    partitions.foreach(n => b.config("spark.sql.shuffle.partitions", n.toString))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    // exit explicitly: a failed run must not hang on a non-daemon thread
    val code = try {
      val feed = Feed.load(a.feed)
      val spark = session(cores, shufflePartitions(a.workload), a.work)
      warmup(spark, feed, a.work)
      val setupS = (System.currentTimeMillis() - a.launchedMs) / 1000.0
      val bench = new FeedBench(a, feed, spark)
      val result = if (a.trace) bench.traced() else bench.untraced()
      println(mapper.writeValueAsString(toJava(result + ("setup_s" -> metric(setupS, "s", 1)))))
      bench.spark.stop()
      0
    } catch {
      case NonFatal(e) => e.printStackTrace(); 2
    }
    System.exit(code)
  }

  /** The untimed `Pipeline.run` on the feed's tiny warm-up file. */
  def warmup(spark: SparkSession, feed: Feed, work: String): Unit = {
    val out = s"$work/warmup"
    FileUtils.deleteDirectory(new File(out))
    val tiny = new File(s"${feed.dir}/warmup").listFiles().head
    Pipeline.run(spark, tiny.getPath, out, feed.encoding)
    FileUtils.deleteDirectory(new File(out))
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case x => x.asInstanceOf[AnyRef]
  }

  /** A metric as the result line carries it, with its sample count. */
  def metric(v: Double, unit: String, n: Int): Map[String, Any] =
    Map("value" -> v, "unit" -> unit, "samples" -> n)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

final class FeedBench(a: FeedBench.Args, feed: Feed, spark0: SparkSession) {
  import FeedBench._

  var spark: SparkSession = spark0
  private val heap = new HeapPeak
  private var opIndex = 0

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def clean(dir: String): Unit = FileUtils.deleteDirectory(new File(dir))

  // ---- operations -------------------------------------------------------

  /** One `Pipeline.run` into `out`: (seconds, input rows, parsed rows). */
  def pipeline(input: String, out: String): (Double, Long, Long) = {
    clean(out)
    val t0 = System.nanoTime()
    val (in, parsed) = Pipeline.run(spark, input, out, feed.encoding)
    ((System.nanoTime() - t0) / 1e9, in, parsed)
  }

  /** The workload's next operation, checked against ground truth. */
  def op(): Op = {
    val i = opIndex
    opIndex += 1
    try a.workload match {
      case "feed_batch" => pipelineOp(feed.allGlob, feed.whole, feed.files.size)
      case "feed_hourly" =>
        val (file, truth) = feed.files(i % feed.files.size)
        pipelineOp(feed.path(file), truth, 1)
      case "feed_stream" => drain(s"${a.work}/ckpt-$i")._1
    } catch {
      case NonFatal(e) =>
        log(s"operation $i failed: $e")
        Op(Double.NaN, Seq(Double.NaN), 0L, 1, ok = false)
    }
  }

  private def pipelineOp(input: String, truth: Truth, hours: Int): Op = {
    val out = s"${a.work}/out"
    val (s, in, parsed) = pipeline(input, out)
    val errors = Seq(expect("input rows", in, truth.lines),
                     expect("parsed rows", parsed, truth.hits)).flatten ++
      checkExports(out, truth)
    errors.foreach(e => log(s"check failed: $e"))
    Op(s, Seq(s), truth.lines, hours, errors.isEmpty)
  }

  private def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** The three exports against the truth: row counts, the visits digest,
    * the page digest of hits (which catches a wrong charset), and
    * contiguous Beam shard names. */
  def checkExports(out: String, t: Truth): Seq[String] = {
    def agg(dir: String, columns: Int, digest: org.apache.spark.sql.Column) = {
      val r = spark.read.schema((0 until columns).map(i => s"_c$i STRING").mkString(", "))
        .csv(s"$out/$dir")
        .agg(count(lit(1)), coalesce(sum(crc32(digest.cast("binary"))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val (hits, pages) = agg("hits", 12, col("_c4"))
    val (visits, visitsDigest) = agg("visits", 4, concat_ws(",", col("_c1"), col("_c2"), col("_c3")))
    val (visitors, _) = agg("visitors", 3, lit(""))
    Seq(expect("hits rows", hits, t.hits),
        expect("hits page digest", pages, t.pagesDigest),
        expect("visits rows", visits, t.visits),
        expect("visits digest", visitsDigest, t.visitsDigest),
        expect("visitors rows", visitors, t.hits)).flatten ++
      Seq("hits", "visits", "visitors").flatMap(e => shardError(s"$out/$e", s"$e.csv"))
  }

  private def shardError(dir: String, prefix: String): Option[String] = {
    val names = Option(new File(dir).list()).getOrElse(Array.empty[String])
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted
    val re = (java.util.regex.Pattern.quote(prefix) + """-(\d{5})-of-(\d{5})""").r
    val parsed = names.collect { case re(i, n) => (i.toInt, n.toInt) }
    val n = names.length
    if (n > 0 && parsed.length == n && parsed.forall(_._2 == n) &&
        parsed.map(_._1).toSeq == (0 until n))
      None
    else Some(s"$dir: shard names not a contiguous -SSSSS-of-NNNNN set: " +
              names.take(5).mkString(","))
  }

  /** Drains the feed's streamed files, one per micro-batch, through the
    * session-window stream into a counting `foreachBatch` sink, then
    * checks the counts against the visits the final watermark sealed.
    * Returns the operation and its progress reports. */
  def drain(ckpt: String): (Op, Seq[StreamingQueryProgress]) = {
    clean(ckpt)
    val visits, digest = new AtomicLong()
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val r = df.agg(count(lit(1)), coalesce(sum(crc32(concat_ws(",",
          col("user_id"), expr("visit_start_us div 1000000"),
          expr("visit_end_us div 1000000")).cast("binary"))), lit(0L))).head()
      visits.addAndGet(r.getLong(0))
      digest.addAndGet(r.getLong(1))
    }
    val raw = StreamingFeed.rawFeedStream(spark, feed.streamGlob, feed.encoding,
                                          maxFilesPerTrigger = 1)
    val parsed = HitParser.parse(raw)
      .observe("perfbench_parsed", count(lit(1)).as("rows"),
               coalesce(sum(crc32(col("page").cast("binary"))), lit(0L)).as("pages"))
      .withColumn("ts_us", col("ts") * 1000000L)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
    val t0 = System.nanoTime()
    val q = StreamingSessionize.visitsStream(parsed).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
    q.awaitTermination()
    val s = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    val withInput = progress.filter(_.numInputRows > 0)
    val inputRows = progress.map(_.numInputRows).sum
    val observed = progress.flatMap(p => Option(p.observedMetrics.get("perfbench_parsed")))
    val parsedRows = observed.map(_.getLong(0)).sum
    val parsedPages = observed.map(_.getLong(1)).sum
    val watermarkMs = progress.lastOption
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(Instant.parse(_).toEpochMilli).getOrElse(0L)
    val (wantVisits, wantDigest) = feed.sealedBy(watermarkMs)
    val truths = feed.files.take(feed.streamFiles).map(_._2)
    val errors = Seq(
      expect("micro-batches with input", withInput.size, feed.streamFiles),
      expect("input rows", inputRows, feed.streamLines),
      expect("parsed rows", parsedRows, truths.map(_.hits).sum),
      expect("parsed page digest", parsedPages, truths.map(_.pagesDigest).sum),
      expect("sealed visits", visits.get, wantVisits),
      expect("sealed visits digest", digest.get, wantDigest)).flatten
    errors.foreach(e => log(s"check failed: $e"))
    clean(ckpt)
    val units = withInput.map(_.durationMs.get("triggerExecution").toDouble / 1000)
    (Op(s, units, feed.streamLines, feed.streamFiles, errors.isEmpty), progress)
  }

  // ---- untraced run ------------------------------------------------------

  /** Closed loop for `--seconds`, at least two operations. */
  private def loop(): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    while (ops.size < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      ops += op()
      log(f"op ${ops.size}: ${ops.last.seconds}%.3f s, units ${ops.last.units.map(u => f"$u%.3f").mkString(" ")}")
    }
    ops.toSeq
  }

  /** The JIT compiles the hot paths for full-size input only now: the
    * first operation runs up to twice as long, the second still 10-20 %
    * longer than the next. At least two operations and `WarmupSeconds` are
    * checked but not timed. */
  private def warmUp(): Seq[Op] = {
    val w0 = System.nanoTime()
    val warm = mutable.ArrayBuffer(op(), op())
    while ((System.nanoTime() - w0) / 1e9 < WarmupSeconds) warm += op()
    warm.toSeq
  }

  def untraced(): Map[String, Any] = {
    val warm = warmUp()
    heap.reset()
    val ops = loop()
    endToEnd(warm, ops) + ("heap_peak_mb" -> metric(heap.peakMb, "MB", ops.size))
  }

  /** End-to-end metrics over the timed operations that passed their
    * checks; every failed operation counts in `failed` and `error_rate`. */
  private def endToEnd(warm: Seq[Op], ops: Seq[Op]): Map[String, Any] = {
    val good = ops.filter(_.ok)
    val attempted = (warm ++ ops).map(_.units.size).sum
    val failed = (warm ++ ops).filterNot(_.ok).map(_.units.size).sum
    val units = good.flatMap(_.units)
    val out = mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted, "failed" -> failed,
      "error_rate" -> metric(failed.toDouble / attempted, "ratio", attempted))
    if (good.nonEmpty) {
      out("hits_per_s") = metric(median(good.map(o => o.lines / o.seconds)), "1/s", good.size)
      out("hour_p50_s") = metric(median(good.map(o => o.seconds / o.hours)), "s", good.size)
      out("batch_p50_s") = metric(median(units), "s", units.size)
      // the highest percentile with at least ten samples beyond it
      Seq(0.99, 0.9).find(p => units.size * (1 - p) >= 10).foreach { p =>
        val k = math.ceil(p * units.size).toInt - 1
        out(s"batch_p${(p * 100).round}_s") = metric(units.sorted.apply(k), "s", units.size)
      }
    }
    out.toMap
  }

  // ---- traced run --------------------------------------------------------

  def traced(): Map[String, Any] = {
    val col = new Collector(spark)
    val m = mutable.LinkedHashMap[String, Any]()
    def put(name: String, v: Double, unit: String): Unit = m(name) = metric(v, unit, 1)

    val warm = warmUp()
    // Traced against untraced operations, alternating, for `--seconds`,
    // at least one of each.
    val plain, tracedOps = mutable.ArrayBuffer[Op]()
    var engine = Counters()
    val t0 = System.nanoTime()
    def tracedOp(): Unit = {
      col.register()
      val before = col.counters()
      tracedOps += op()
      engine = engine + (col.counters() - before)
      col.unregister()
    }
    while (tracedOps.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      // alternate which side goes first, so neither gets the warmer JVM
      if (tracedOps.size % 2 == 0) { plain += op(); tracedOp() }
      else { tracedOp(); plain += op() }
    }
    val n = tracedOps.size.toDouble
    val tracedWall = tracedOps.map(_.seconds).sum
    put("engine.plan_s", engine.planMs / 1000.0 / n, "s")
    // Codegen is mostly paid once per plan shape, in setup and on first
    // use, so these two are the JVM's totals up to here.
    put("engine.codegen_compile_s", CodeGenerator.compileTime / 1e9, "s")
    put("engine.codegen_compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble, "count")
    put("engine.jobs", engine.jobs / n, "count")
    put("engine.stages", engine.stages / n, "count")
    put("engine.tasks", engine.tasks / n, "count")
    put("engine.task_run_s", engine.taskRunMs / 1000.0 / n, "s")
    put("engine.task_cpu_s", engine.taskCpuNs / 1e9 / n, "s")
    put("engine.busy_ratio", engine.taskRunMs / 1000.0 / (tracedWall * cores), "ratio")
    put("engine.gc_s", engine.gcMs / 1000.0 / n, "s")
    put("engine.shuffle_read_bytes", engine.shuffleReadBytes / n, "bytes")
    put("engine.shuffle_write_bytes", engine.shuffleWriteBytes / n, "bytes")
    put("engine.spill_bytes", engine.spillBytes / n, "bytes")
    val plainS = median(plain.filter(_.ok).map(_.seconds).toSeq)
    put("trace.overhead_ratio", median(tracedOps.filter(_.ok).map(_.seconds).toSeq) / plainS, "ratio")

    col.register()
    val ladderOk = ladder(col, put)
    val streamOk = streamLayer(col, put)
    col.unregister()

    // One operation on a single thread, with the same shuffle partitions
    // (tasks and files) as the workload's session: the scaling baseline.
    // The JIT is warm already, so the new session gets no warm-up run.
    spark.stop()
    spark = session(1, shufflePartitions(a.workload), a.work)
    val single = op()
    put("engine.scaling_vs_1core", single.seconds / plainS, "ratio")

    val all = warm ++ plain ++ tracedOps :+ single
    val failed = all.count(!_.ok) + Seq(ladderOk, streamOk).count(!_)
    Map("attempted" -> (all.size + 2), "failed" -> failed) ++ m
  }

  /** Times each layer's public entry point, forced by a `noop` sink, on
    * the workload's batch input; a layer's self time is its rung minus
    * the rung below. Returns whether the ladder's exports passed. */
  private def ladder(col: Collector, put: (String, Double, String) => Unit): Boolean = {
    val (input, truth) = a.workload match {
      case "feed_hourly" => (feed.path(feed.files.head._1), feed.files.head._2)
      case _ => (feed.allGlob, feed.whole)
    }
    def raw() = Tables.rawFeed(spark, input, feed.encoding)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    final case class Rung(s: Double, c: Counters)
    def rung(body: => Unit): Rung = {
      val before = col.counters()
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      Rung(s, col.counters() - before)
    }

    val read = rung(noop(raw()))
    val inObs, outObs = Observation()
    val parse = rung(noop(HitParser.parse(raw().observe(inObs, count(lit(1)).as("n")))
                            .observe(outObs, count(lit(1)).as("n"))))
    val quarantine = rung(noop(HitParser.quarantine(raw())))
    val parsed = HitParser.parse(raw()).persist()
    parsed.count()
    val cached = rung(noop(parsed))
    val stagesBefore = col.stageCount
    val sessionize = rung(noop(Sessionize.withSessionIds(parsed, gapUs = 1800L, tsUsCol = "ts")))
    val windowStage = col.stagesSince(stagesBefore).filter(_.shuffleReadBytes > 0)
      .maxByOption(_.taskRunMs.sum)
    val out = s"${a.work}/ladder"
    clean(out)
    val execsBefore = col.executionCount
    col.resetCachePeak()
    val writeAll = rung(Exports.writeAll(parsed, out))
    val cacheBytes = col.cachePeakBytes
    val writes = col.executionsSince(execsBefore)
    val rename = rung(Seq("hits", "visits", "visitors")
                        .foreach(e => Exports.beamShardNames(spark, s"$out/$e", s"$e.csv")))
    parsed.unpersist()

    val rowsIn = inObs.get("n").asInstanceOf[Long]
    val rowsOut = outObs.get("n").asInstanceOf[Long]
    put("sources.read_s", read.s, "s")
    put("sources.bytes_in", read.c.inputBytes, "bytes")
    put("sources.tasks", read.c.tasks, "count")
    put("ingest.parse_s", parse.s - read.s, "s")
    put("ingest.quarantine_s", quarantine.s - read.s, "s")
    put("ingest.cpu_s", (parse.c.taskCpuNs - read.c.taskCpuNs) / 1e9, "s")
    put("ingest.rows_in", rowsIn, "count")
    put("ingest.rows_out", rowsOut, "count")
    put("ingest.kept_ratio", rowsOut.toDouble / rowsIn, "ratio")
    put("session.sessionize_s", sessionize.s - cached.s, "s")
    put("session.shuffle_write_bytes", sessionize.c.shuffleWriteBytes, "bytes")
    put("session.spill_bytes", sessionize.c.spillBytes, "bytes")
    put("session.task_skew", windowStage.map { st =>
      st.taskRunMs.max.toDouble / math.max(1.0, median(st.taskRunMs.map(_.toDouble)))
    }.getOrElse(0.0), "ratio")
    def export(e: String) = writes.filter(_.outputPath.exists(_.endsWith(s"/$e")))
    put("session.visits", export("visits").map(_.rows).sum, "count")
    put("exports.write_all_s", writeAll.s - sessionize.s, "s")
    for (e <- Seq("hits", "visits", "visitors"))
      put(s"exports.${e}_s", export(e).map(_.seconds).sum, "s")
    put("exports.rename_s", rename.s, "s")
    put("exports.files_written", writes.map(_.files).sum, "count")
    put("exports.bytes_written", writes.map(_.bytes).sum, "bytes")
    put("exports.cache_bytes", cacheBytes, "bytes")

    val errors = Seq(expect("ladder rows in", rowsIn, truth.lines),
                     expect("ladder rows out", rowsOut, truth.hits)).flatten ++
      checkExports(out, truth)
    errors.foreach(e => log(s"check failed: $e"))
    clean(out)
    errors.isEmpty
  }

  /** Per-batch streaming layers from the listener's progress reports of
    * one drain (medians over micro-batches with input). The drain runs as
    * `feed_stream` runs, with one shuffle partition (state store) per core,
    * whatever the workload's session uses. */
  private def streamLayer(col: Collector, put: (String, Double, String) => Unit): Boolean = {
    val before = col.progressCount
    val key = "spark.sql.shuffle.partitions"
    spark.conf.set(key, cores.toLong)
    val (drained, _) =
      try drain(s"${a.work}/ckpt-trace")
      finally shufflePartitions(a.workload) match {
        case Some(n) => spark.conf.set(key, n.toLong)
        case None => spark.conf.unset(key)
      }
    // the query posted its progress before `awaitTermination` returned
    col.sync()
    val ps = col.progressSince(before).filter(_.numInputRows > 0)
    def dur(k: String) = median(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0) / 1000))
    val states = ps.flatMap(_.stateOperators.headOption)
    put("streaming.add_batch_s", dur("addBatch"), "s")
    put("streaming.planning_s", dur("queryPlanning"), "s")
    put("streaming.wal_commit_s", dur("walCommit"), "s")
    put("streaming.state_commit_s", median(states.map(_.commitTimeMs / 1000.0)), "s")
    put("streaming.state_rows", states.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble, "count")
    put("streaming.state_mem_bytes", states.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble, "bytes")
    drained.ok
  }
}
