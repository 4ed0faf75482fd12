package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.Schemas
import graft.sources.Tables
import graft.streaming.{StreamingDecontam, StreamingSessionize}

/**
 * Oracle-gated STREAMING queries: each entry drives a Structured
 * Streaming face of the library through a real stream run and returns
 * the drained result for the driver's DuckDB compare. The streaming
 * modules themselves (graft.streaming.*) are spec-proven batch ≡ stream;
 * these gates add the driver's independent-oracle check on top. Every
 * gate runs through one harness:
 *
 *  - [[drain]], the one sink protocol: a `Trigger.AvailableNow` run (it
 *    drains the source and terminates) into a `foreachBatch` sink that
 *    overwrites `out/batch-<batchId>`, so a batch re-run after a
 *    retry or a restart replaces its own output. The sink is named after
 *    the gate. A gate that must see each micro-batch as a batch frame
 *    (the layout probes) passes a per-batch transform; the default is
 *    identity. The result reads back from the files with the stated
 *    schema, so driver memory stays bounded at any output volume and a
 *    zero-row drain is a typed empty frame.
 *  - [[Gate.stageDir]] and [[Gate.replay]], the one replay stager: a frame
 *    written under the gate's derived dir as one file, optionally
 *    followed by one watermark-flush sentinel row at
 *    [[FlushSentinelS]], and read back as a file stream.
 *  - [[faces]], the stateless faces as a table: a batch gate's own
 *    frame function applied per micro-batch and gated on that batch
 *    gate's oracle.
 */
object StreamingQueries {

  /** Micro-batch accounting for the last [[drain]] on THIS thread (gate
    * runs are synchronous, so a caller reads its own run), also echoed
    * to stderr with a greppable tag: every measurement pins how many
    * batches it actually ran. */
  private[graft] object StreamObservability {
    private val lastTl = new ThreadLocal[String] { override def initialValue = "" }
    def last: String = lastTl.get
    private[queries] def record(msg: String): Unit = {
      lastTl.set(msg)
      System.err.println(s"[graft-stream] $msg")
    }

    /** Wall seconds spent INSIDE drains (query start → AvailableNow
      * termination) since the last [[resetDrain]], this thread. The
      * bench splits a gate's time into `drain_s` (micro-batch execution)
      * and `build_s` = total − drain (index construction, input staging,
      * sink read-back), so an ingest regression is not masked by index
      * build noise. */
    private val drainNsTl = new ThreadLocal[Long] { override def initialValue = 0L }
    private[graft] def resetDrain(): Unit = drainNsTl.set(0L)
    private[graft] def drainSecs: Double = drainNsTl.get / 1e9
    private[queries] def addDrain(ns: Long): Unit =
      drainNsTl.set(drainNsTl.get + ns)
  }

  /** Event time of the watermark-flush sentinel, in seconds:
    * 4,000,000,000 s (2096), far past every fixture event (they end in
    * January 2024). The sentinel lands in the same micro-batch as the
    * real events, so no real event is late against it; it advances the
    * watermark past every real session and window, the no-data batch
    * [[drain]] enables emits them, and the gate filters the sentinel's
    * own key back out. */
  private[queries] val FlushSentinelS = 4000000000L

  /** Drain `src` into a fresh sink under the gate's per-process scratch
    * (`dir` keys the [[LayoutQueries.derivedDir]] tree) and return the
    * result; see the object scaladoc. */
  private[graft] def drain(s: SparkSession, dir: String, name: String,
                           src: DataFrame,
                           perBatch: DataFrame => DataFrame = identity): DataFrame =
    drainAt(s, LayoutQueries.derivedDir(s, dir, s"sink-$name-${System.nanoTime()}"),
            name, src, perBatch)

  /** [[drain]] into `base` (`base/out` sink, `base/ckpt` checkpoint): a
    * second drain at the same `base` resumes from the checkpoint. Pins
    * `noDataMicroBatches.enabled` for the run: the watermark-flush gates
    * need the post-data batch that emits watermark-gated state (session
    * windows, event-time timeouts). The caller's value is restored after,
    * so the pin never leaks past the gate. */
  private[graft] def drainAt(s: SparkSession, base: String, name: String,
                             src: DataFrame,
                             perBatch: DataFrame => DataFrame = identity): DataFrame = {
    val out = s"$base/out"
    val outSchema =
      perBatch(s.createDataFrame(s.sparkContext.emptyRDD[Row], src.schema)).schema
    // a drain that commits no batch writes nothing, and the read-back
    // needs the dir
    val outPath = new org.apache.hadoop.fs.Path(out)
    outPath.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(outPath)
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndPrev = s.conf.getOption(ndKey)
    s.conf.set(ndKey, "true")
    try {
      val t0 = System.nanoTime()
      val q = src.writeStream
        .foreachBatch { (b: Dataset[Row], batchId: Long) =>
          perBatch(b.toDF()).write.mode("overwrite").parquet(s"$out/batch-$batchId"); ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        StreamObservability.addDrain(System.nanoTime() - t0)
        val progress = q.recentProgress
        StreamObservability.record(
          s"gate=$name batches=${progress.length} " +
            s"rows=${progress.map(_.numInputRows).sum} " +
            s"batch_ms=${progress.map(_.durationMs.getOrDefault("triggerExecution", 0L)).mkString(",")}")
      } finally q.stop()
    } finally ndPrev match {
      case Some(v) => s.conf.set(ndKey, v)
      case None    => s.conf.unset(ndKey)
    }
    // batch dir names are not k=v, so no partition column is inferred
    s.read.schema(outSchema).option("recursiveFileLookup", "true").parquet(out)
  }

  /** One gate's view of the harness: its drains and its staged input are
    * named after the gate. */
  private final class Gate(s: SparkSession, dir: String, name: String) {
    def drain(src: DataFrame,
              perBatch: DataFrame => DataFrame = identity): DataFrame =
      StreamingQueries.drain(s, dir, name, src, perBatch)

    /** The one replay stager: write `frame` as one `format` file under the
      * gate's derived dir (replacing what was there) and, when `flush` is
      * non-empty, append one watermark-flush sentinel row: `ts_us` at
      * [[FlushSentinelS]], `ts_t` its timestamp, every other column from
      * `flush`. Returns the dir. */
    def stageDir(frame: DataFrame, format: String = "parquet",
                 flush: Map[String, Any] = Map.empty): String = {
      val in = LayoutQueries.derivedDir(s, dir, s"replay-$name")
      frame.coalesce(1).write.mode("overwrite").format(format).save(in)
      val flushUs = lit(FlushSentinelS * 1000000L)
      if (flush.nonEmpty)
        s.range(1).select(frame.schema.map { f =>
            (f.name match {
              case "ts_us" => flushUs
              case "ts_t"  => timestamp_micros(flushUs)
              case c       => lit(flush(c))
            }).cast(f.dataType).as(f.name)
          }: _*)
          .coalesce(1).write.mode("append").format(format).save(in)
      in
    }

    /** [[stageDir]], read back as a file stream. */
    def replay(frame: DataFrame, format: String = "parquet",
               flush: Map[String, Any] = Map.empty): DataFrame = {
      val in = stageDir(frame, format, flush)
      s.readStream.schema(s.read.format(format).load(in).schema)
        .format(format).load(in)
    }
  }

  /** A stream gate: [[Q]] whose body also gets the gate's [[Gate]]. */
  private def gate(name: String,
                   body: (SparkSession, String, Gate) => DataFrame,
                   oracle: Option[String]): Q =
    Q(name, (s, dir) => body(s, dir, new Gate(s, dir, name)), oracle)

  /** A single-FILE parquet table as a file stream: a non-glob path makes
    * FileStreamSource force basePath to the file itself, which partition
    * inference rejects ("must be a directory") — so match the file with
    * a single-file glob and anchor inference at the table directory. */
  private def tableStream(s: SparkSession, dir: String, name: String): DataFrame =
    s.readStream
      .schema(Tables.read(s, dir, name).schema)
      .option("basePath", dir)
      .parquet(s"$dir/$name.[p]arquet")

  /** The `*glob` files under `dir` as a binaryFile stream of their
    * `content`. The source's fixed schema is stated: a file stream cannot
    * infer it (the files may not exist yet when the query is planned). */
  private def binaryFileStream(s: SparkSession, dir: String,
                               glob: String): DataFrame =
    s.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("pathGlobFilter", glob).load(dir)
      .select(col("content"))

  /** `array_sort` comparator: `key` descending, then `id` ascending — the
    * (key desc, id asc) order the batch faces' rank windows state. */
  private def byKeyDescIdAsc(key: String, id: String): (Column, Column) => Column =
    (l, r) =>
      when(l.getField(key) > r.getField(key), -1)
        .when(l.getField(key) < r.getField(key), 1)
        .when(l.getField(id) < r.getField(id), -1)
        .when(l.getField(id) > r.getField(id), 1)
        .otherwise(0)

  /**
   * Streaming train/eval decontamination, gated against the BATCH
   * oracle: the documents table replayed as a parquet file stream,
   * each micro-batch's train-split rows probing the frozen eval-side
   * band index ([[graft.streaming.StreamingDecontam.contaminationHits]]
   * — stateless per-row signatures, stream-static broadcast join, no
   * state store). The append-only hit log emits one row per band
   * collision; the gate distincts it to straddling (train_id, eval_id,
   * eval_split) pairs, which is exactly [[DedupQueries.qDecontaminate]]'s
   * output — so the oracle SQL is REUSED verbatim from the batch query
   * and the two faces can never drift on semantics.
   */
  val qStreamDecontam = gate(
    "q_stream_decontam",
    (s, dir, g) => {
      // frozen eval-side index (eval sets are bounded benchmark suites —
      // see StreamingDecontam scaladoc); cached AND materialized BEFORE
      // the stream starts — a lazy cache would make the first micro-batch
      // pay the whole band-aggregation + cache build inside the streaming
      // query's wall time (the unattributed BENCH_r10 40 s outlier), and
      // index construction is the deployment's offline step anyway
      val nShuffle = s.conf.get("spark.sql.shuffle.partitions").toInt
      val evalIdx = StreamingDecontam.evalBandIndex(
        Tables.read(s, dir, "documents").select("doc_id", "text")
          .repartition(nShuffle, col("doc_id"))).cache()
      evalIdx.count()
      // repartition the (stateless) stream side: the fixture is ONE
      // parquet file, so the whole micro-batch would otherwise be one
      // input split — a single task computing every train doc's band
      // signatures (measured 3.5 s of a 4.6 s warm gate). A production
      // stream has many files per batch; the explicit shuffle of the
      // tiny (doc_id, text) rows restores that parallelism here. The
      // partition count is EXPLICIT: a bare repartition(col) is
      // AQE-coalescable, and AQE coalesces by shuffle BYTES — it folded
      // these few MB back into one task, re-serializing the
      // compute-dense band-signature Generate above the exchange
      // (plan-verified: AQEShuffleRead coalesced → 3.2 s single task)
      val hits =
        try g.drain(StreamingDecontam.contaminationHits(
            tableStream(s, dir, "documents").select("doc_id", "text")
              .repartition(nShuffle, col("doc_id")), evalIdx))
        finally evalIdx.unpersist()
      // k band collisions per pair → one pair row: the consumer-side
      // aggregation the batch query performs at its candidate stage
      hits.select(col("doc_id").as("train_id"), col("eval_id"),
                  col("eval_split"))
        .distinct()
    },
    DedupQueries.qDecontaminate.oracle
  )

  /**
   * Streaming LM-FAMILIARITY scoring — the perplexity-filter class on
   * a stream, gated on [[TextStatsQueries.qLmScore]]'s oracle
   * verbatim: the bigram count tables freeze offline (the reference-LM
   * build — here the corpus itself, the gate's replayable special
   * case), arriving documents fan out to per-bigram scores inside the
   * map task (stateless in-row fanout + stream-static LEFT joins,
   * unseen → 0), and the per-document mean runs at COMPACTION over the
   * drained score log — the [[qStreamTfidfJoin]] split applied to the
   * quality-filter family: per-arrival scoring streams, the aggregate
   * compacts.
   */
  val qStreamLmScore = gate(
    "q_stream_lm_score",
    (s, dir, g) => {
      val d = Tables.read(s, dir, "documents").select("doc_id", "text")
      val (c2raw, c1raw) = TextStatsQueries.lmCounts(d)
      val c2 = checkpointCompact(c2raw)
      val c1 = checkpointCompact(c1raw)
      // NOT fanned out (round-21 warm A/B: 2.62→3.03 s widened — the
      // bigram scoring is lighter than the added stream exchange)
      val scoreLog = g.drain(TextStatsQueries.lmBigramScores(
          tableStream(s, dir, "documents").select("doc_id", "text"), c2, c1))
      TextStatsQueries.lmMeanOf(scoreLog)
    },
    TextStatsQueries.qLmScore.oracle
  )

  /**
   * Streaming SEMANTIC decontamination — the embedding-space twin of
   * [[qStreamDecontam]], gated on [[DedupQueries.qSemanticDecontam]]'s
   * oracle verbatim: arriving train embeddings probe the FROZEN
   * eval-side cell index per micro-batch, all stateless —
   *
   *  - cell assignment is a pure PROJECTION against the one-row
   *    flattened centroid broadcast (the codegen'd `graft_ivf_nearest`
   *    argmax — [[SimQueries.ivfAssign1]]'s shape applied to a stream:
   *    at ingest scale this is the stage that routes every arriving
   *    vector without shuffling anything);
   *  - candidates come from the stream-static equi-join on cell id
   *    against the eval index (a frozen benchmark suite — bounded, the
   *    [[graft.streaming.StreamingDecontam]] contract);
   *  - the exact integer cosine test runs per candidate row.
   *
   * No state store, no watermark; each (train, eval) pair emits at most
   * once because cell assignment is a function. The offline step builds
   * centroids + the eval cell index before the stream starts
   * ([[qStreamDecontam]]'s billing rule).
   */
  val qStreamSemanticDecontam = gate(
    "q_stream_semantic_decontam",
    (s, dir, g) => {
      import graft.vector.VectorOps
      val e = SimQueries.quantizedFrame(s, dir)
      // same auto-sized cap as the batch face, resolved the gate way
      // (DedupQueries.gateCellCap: cheap raw-source count; the oracle
      // replays the same derivation in SQL); the per-process shared
      // quantizer bills training to the offline index build once
      val qz = SimQueries.gateQuantizer(s, dir)
      val evalQ = e.filter(col("vec_id") % 5 === 4)
      val evalIdx = checkpointCompact(
        SimQueries.assignCells(evalQ.select(col("vec_id"), col("q")), qz)
          .select(col("vec_id").as("eval_id"), col("c_id").as("cell"),
                  col("q").as("qb"), VectorOps.intNormSq(col("q")).as("nb")))
      // arriving vectors route through the SAME quantizer (broadcast-only
      // in both regimes — flat one-row matrix, or coarse row + per-cell
      // fine matrices beyond MaxCents), so the stream face can never
      // drift from the batch face's cell assignment
      val arrivals = SimQueries.assignCells(
          tableStream(s, dir, "embeddings")
            .filter(col("vec_id") % 5 =!= 4)
            .select(col("vec_id").as("train_id"),
                    VectorOps.quantize(col("embedding")).as("qa"))
            .withColumn("na", VectorOps.intNormSq(col("qa"))),
          qz, qCol = "qa")
        .select(col("train_id"), col("qa"), col("na"),
                col("c_id").as("cell"))
      val hits = arrivals.join(evalIdx, Seq("cell"))
        .withColumn("dot", VectorOps.intDot(col("qa"), col("qb")))
        .filter(VectorOps.cosAtLeast(col("dot"), col("na"), col("nb"), 3, 10))
        .select("train_id", "eval_id", "dot")
      g.drain(hits)
    },
    DedupQueries.qSemanticDecontam.oracle
  )

  /**
   * ANN QUERY-AT-INGEST — the vector-database ingest path: arriving
   * query vectors answered against a FROZEN IVF index within the same
   * micro-batch, fully STATELESS. The index freezes offline (trained
   * centroids + per-cell member arrays — the [[qStreamBloom]] billing
   * split); each arriving vector then (1) routes to its nearest cell
   * by the codegen'd [[graft.expr.IvfNearestCell]] projection against
   * the one-row centroid broadcast, (2) stream-static-joins that ONE
   * cell's member array, and (3) ranks candidates ROW-LOCALLY with a
   * comparator `array_sort` + `slice` HOF — top-k per query with no
   * window, no aggregation, no state store (streaming append mode
   * cannot run a rank window; the per-cell-array formulation is what
   * makes ingest-time ANN expressible at all). nprobe = 1 at ingest by
   * design — the recall knob the deployment's offline batch path
   * ([[SimQueries.qSimSearchIvf]], nprobe = ${SimQueries.NProbe})
   * keeps; the oracle states exactly the crn = 1 semantics.
   */
  val qStreamAnn = gate(
    "q_stream_ann",
    (s, dir, g) => {
      import graft.vector.VectorOps
      requireBroadcastableMembers(s, dir) // ADVICE r19: fail fast, not OOM
      val e = SimQueries.quantizedFrame(s, dir)
      val cents = SimQueries.sharedIvfCents(s, dir)
      val members = checkpointCompact(
        e.join(SimQueries.ivfAssign1(e, cents)
                 .select(col("vec_id").as("m_vid"), col("c_id")),
               col("vec_id") === col("m_vid"))
          .groupBy(col("c_id").as("cell"))
          .agg(collect_list(struct(col("vec_id"), col("q"))).as("members")))
      val flat = SimQueries.centsFlat(cents)
      val arrivals = tableStream(s, dir, "embeddings")
        .filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"),
                VectorOps.quantize(col("embedding")).as("qq"))
        .crossJoin(broadcast(flat))
        .select(col("q_id"), col("qq"),
                element_at(col("cids"),
                  VectorOps.ivfNearest(col("qq"), col("cqs"), col("cns")) + 1)
                  .as("cell"))
      // explicit broadcast: the static member index must never fall to a
      // sort-merge join that re-shuffles the whole corpus per micro-batch
      // (the q_stream_hard_negatives lesson — round-18 VERDICT item 2)
      val top = arrivals.join(broadcast(members), Seq("cell"))
        .select(col("q_id"),
          slice(
            array_sort(
              transform(
                filter(col("members"), m => m.getField("vec_id") =!= col("q_id")),
                m => struct(
                  VectorOps.intDot(col("qq"), m.getField("q")).as("dot"),
                  m.getField("vec_id").as("vec_id"))),
              byKeyDescIdAsc("dot", "vec_id")),
            1, SimQueries.TopK).as("top"))
      val out = top
        .select(col("q_id"), posexplode(col("top")).as(Seq("p", "t")))
        .select(col("q_id"), col("t.vec_id").as("vec_id"),
                col("t.dot").as("dot"), (col("p") + 1).cast("long").as("rnk"))
      g.drain(out)
    },
    Some(s"""${SimQueries.ivfCte},
      |probes AS (SELECT vec_id AS q_id, c_id AS cell FROM rk
      |           WHERE vec_id % 100 = 0 AND crn = 1),
      |p AS (
      |  SELECT pr.q_id, ce.vec_id,
      |         CAST(list_sum(list_transform(generate_series(1, len(a.q)),
      |                i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      |  FROM probes pr
      |  JOIN cell ce ON ce.cell = pr.cell AND ce.vec_id <> pr.q_id
      |  JOIN e a ON a.vec_id = ce.vec_id
      |  JOIN e b ON b.vec_id = pr.q_id
      |)
      |SELECT q_id, vec_id, dot,
      |       CAST(row_number() OVER (PARTITION BY q_id
      |                               ORDER BY dot DESC, vec_id ASC) AS BIGINT)
      |         AS rnk
      |FROM p
      |QUALIFY rnk <= ${SimQueries.TopK}""".stripMargin)
  )

  /**
   * Hard-negative mining AT INGEST — the continual-training companion
   * of [[qStreamAnn]]: each arriving labeled vector routes to its
   * frozen cell and mines its top-k DIFFERENT-label near-misses from
   * the cell's member array, row-locally (the label predicate joins
   * the vec-id exclusion inside the HOF filter). Same stateless shape,
   * same frozen-index billing; the cell routing is the SAME
   * [[SimQueries.trainCellQuantizer]] the batch face trains (derived
   * cap, hierarchical beyond MaxCents), so the gate reuses
   * [[SimQueries.qHardNegatives]]' oracle verbatim AND cell member
   * arrays stay ~SemTargetCell vectors at any corpus size — the former
   * fixed-MaxCents cells grew with the corpus, and the per-cell probe
   * join defaulted to a sort-merge that re-shuffled the whole static
   * member table EVERY micro-batch (round-18 VERDICT item 2, the
   * 270.7 s drain at the 100× soak). The explicit `broadcast` pins the
   * probe side: per-batch cost is one broadcast rebuild of compact
   * checkpointed rows + bounded per-arrival in-cell work. Past
   * broadcastable member size (~10⁸ vectors) a deployment swaps this
   * in-memory index for a probe of the committed cell-partitioned
   * layout ([[SimQueries.writeIvfLayout]]) — same routing, cells read
   * off disk with partition pruning.
   */
  val qStreamHardNegatives = gate(
    "q_stream_hard_negatives",
    (s, dir, g) => {
      import graft.vector.VectorOps
      requireBroadcastableMembers(s, dir) // ADVICE r19: fail fast, not OOM
      val e = SimQueries.quantizedFrame(s, dir)
      val qz = SimQueries.gateQuantizer(s, dir)
      val members = checkpointCompact(
        SimQueries.assignCells(
            e.select(col("vec_id"), col("label"), col("q")), qz)
          .groupBy(col("c_id").as("cell"))
          .agg(collect_list(struct(col("vec_id"), col("q"), col("label")))
                 .as("members")))
      val arrivals = SimQueries.assignCells(
          tableStream(s, dir, "embeddings")
            .select(col("vec_id").as("src"), col("label").as("src_label"),
                    VectorOps.quantize(col("embedding")).as("qq")),
          qz, qCol = "qq")
        .select(col("src"), col("src_label"), col("qq"),
                col("c_id").as("cell"))
      val top = arrivals.join(broadcast(members), Seq("cell"))
        .select(col("src"), col("src_label"),
          slice(
            array_sort(
              transform(
                filter(col("members"),
                       m => m.getField("vec_id") =!= col("src") &&
                            m.getField("label") =!= col("src_label")),
                m => struct(
                  VectorOps.intDot(col("qq"), m.getField("q")).as("dot"),
                  m.getField("vec_id").as("vec_id"),
                  m.getField("label").as("label"))),
              byKeyDescIdAsc("dot", "vec_id")),
            1, SimQueries.GraphK).as("top"))
      val out = top
        .select(col("src"), col("src_label"),
                posexplode(col("top")).as(Seq("p", "t")))
        .select(col("src"), col("src_label"),
                col("t.vec_id").as("dst"), col("t.label").as("dst_label"),
                col("t.dot").as("dot"), (col("p") + 1).cast("long").as("rnk"))
      g.drain(out)
    },
    SimQueries.qHardNegatives.oracle
  )

  /** Broadcastable member-index ceiling for the stream ANN faces, in
    * CORPUS VECTORS (ADVICE r19): [[qStreamAnn]] /
    * [[qStreamHardNegatives]] rebuild and broadcast the whole per-cell
    * member table per plan — ≈ n·(dim+2) longs, ~35 GB at the
    * documented ~10⁸-vector bound. Past 2²⁶ (≈ 67 M vectors, ~35 GB at
    * dim 64 — already past any sane broadcast) the guard fails FAST
    * with a pointer to the layout-probe faces instead of letting an
    * executor OOM mid-drain. */
  private[queries] val StreamBroadcastMaxVectors = 1L << 26

  private def requireBroadcastableMembers(s: SparkSession,
                                          dir: String): Unit = {
    val n = Tables.read(s, dir, "embeddings").count() // metadata-cheap
    require(n <= StreamBroadcastMaxVectors,
            s"member index of $n vectors exceeds the broadcastable " +
              s"ceiling ($StreamBroadcastMaxVectors) — use the " +
              "layout-probe faces (q_stream_ann_probe / " +
              "q_stream_hard_negatives_probe: probeIvfLayoutBatch / " +
              "hardNegativesFromLayoutBatch over a committed layout)")
  }

  /** The committed IVF layout for the stream probe face, built at most
    * once per process ([[SimQueries.writeIvfLayout]] — trained
    * centroids + cell-partitioned vectors, AtomicPublish-committed).
    * Kept separate from q_ivf_probe's dir: that gate REWRITES its
    * layout every run by contract. */
  private def sharedStreamIvfLayout(s: SparkSession, dir: String): String =
    LayoutQueries.memo(s, dir, "ivf-stream")(SimQueries.writeIvfLayout(s, dir, _))

  /**
   * ANN QUERY-AT-INGEST through the COMMITTED LAYOUT — the
   * beyond-broadcast regime of [[qStreamAnn]] (round-19 VERDICT
   * missing #2, previously documented-unbuilt): the frozen index lives
   * on disk as the cell-partitioned [[SimQueries.writeIvfLayout]]
   * artifact, and each micro-batch probes it via
   * [[SimQueries.probeIvfLayoutBatch]] — arrivals route against the
   * ≤ MaxCents centroid broadcast, the batch's distinct cells fold
   * into the scan's `cell IN (...)` PARTITION FILTER (only arriving
   * cells' files are read — `StreamProbeSpec` plan-asserts the
   * pruning), candidates rank per query inside the probed cells. Costs
   * per batch: one bounded cell collect + a pruned scan ∝ (batch ×
   * cell size) — NO per-plan member-index rebuild, no corpus-scale
   * broadcast, so this face has no [[StreamBroadcastMaxVectors]]
   * ceiling. Forced at fixture scale the [[qCellAssignStored]] way;
   * the oracle is [[qStreamAnn]]'s VERBATIM — both regimes must
   * hash-match the same answer.
   */
  val qStreamAnnProbe = gate(
    "q_stream_ann_probe",
    (s, dir, g) => {
      import graft.vector.VectorOps
      val lay = sharedStreamIvfLayout(s, dir)
      val arrivals = tableStream(s, dir, "embeddings")
        .filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"),
                VectorOps.quantize(col("embedding")).as("qq"))
      g.drain(arrivals, SimQueries.probeIvfLayoutBatch(s, lay, _))
    },
    qStreamAnn.oracle
  )

  /** Physical bucket count for the hard-negative member layout — the
    * bounded-directory rationale (cell ids are the quantizer's derived
    * cap, which GROWS with the corpus; bucketing by hash keeps the
    * directory count fixed while `cbucket IN` still prunes). */
  private val MemberBuckets = 64L

  /** Largest distinct-cell set a micro-batch may fold into literal
    * `cell IN (...)` filters before [[hardNegativesFromLayoutBatch]]
    * switches to the broadcast-semi-join form — the
    * [[SimQueries.MaxCents]]-class bound the batch probe face already
    * enjoys, applied here because the hier quantizer this face routes
    * through can mint 10⁶+ fine cells (round-20 ADVICE). */
  private val InFilterMaxCells = 256

  /** The committed cell-partitioned MEMBER layout for the hard-negative
    * probe face: every corpus vector under its quantizer cell's hash
    * bucket, sorted within partitions by (cell, vec_id) for row-group
    * skipping. Built once per process; the routing quantizer is the
    * shared per-process [[SimQueries.gateQuantizer]] — a deployment
    * persists it alongside via [[SimQueries.writeQuantizerLayout]]. */
  private def sharedMembersLayout(s: SparkSession, dir: String): String =
    LayoutQueries.memo(s, dir, "hardneg-members") { out =>
      val e = SimQueries.quantizedFrame(s, dir)
      SimQueries.assignCells(
          e.select(col("vec_id"), col("label"), col("q")),
          SimQueries.gateQuantizer(s, dir))
        .select(col("vec_id"), col("label"), col("q"),
                col("c_id").as("cell"))
        .withColumn("cbucket",
                    pmod(xxhash64(col("cell")), lit(MemberBuckets)))
        .repartition(col("cbucket"))
        .sortWithinPartitions("cbucket", "cell", "vec_id")
        .write.mode("overwrite").partitionBy("cbucket")
        .parquet(s"$out/members")
      graft.sources.AtomicPublish.commit(s, out)
    }

  /** Per-micro-batch hard-negative mining against the committed member
    * layout: arrivals route through the SAME shared quantizer the
    * layout was bucketed by, the batch's distinct (cell, cbucket)
    * pairs are collected (bounded by the batch's own distinct-cell
    * count — micro-batch-sized, never corpus-sized), and the member
    * scan prunes to the arriving buckets (`cbucket IN` — partition
    * filter) plus the arriving cells (`cell IN` — row-group skip via
    * the sorted write). Ranking per anchor inside the probed cells
    * only, different-label predicate pushed into the join. */
  private[graft] def hardNegativesFromLayoutBatch(
      s: SparkSession, layoutDir: String,
      qz: SimQueries.CellQuantizer, batch: DataFrame): DataFrame = {
    import graft.vector.VectorOps
    import org.apache.spark.sql.expressions.Window
    val routed = SimQueries.assignCells(batch, qz, qCol = "qq")
      .select(col("src"), col("src_label"), col("qq"),
              col("c_id").as("cell"))
    val cellRows = routed.select(col("cell")).distinct()
      .withColumn("cbucket", pmod(xxhash64(col("cell")), lit(MemberBuckets)))
      // a micro-batch touching an enormous distinct-cell set must not
      // fold into literal IN lists (driver collect + plan blowup on the
      // very beyond-broadcast path this face exists for — round-20
      // ADVICE); past the cap the routed cell set joins the member scan
      // instead, keeping only the BOUNDED bucket IN as the partition
      // filter (≤ MemberBuckets literals by construction)
      .limit(InFilterMaxCells + 1)
      .collect()
    val members = graft.sources.AtomicPublish
      .readCommitted(s, layoutDir, "members")
    val cand =
      if (cellRows.length <= InFilterMaxCells) {
        val cells = cellRows.map(_.getLong(0)).toSeq
        val buckets = cellRows.map(_.getLong(1)).distinct.toSeq
        members.filter(col("cbucket").isin(buckets: _*) &&
                         col("cell").isin(cells: _*))
      } else {
        val routedCells = routed.select(col("cell")).distinct()
          .withColumn("cbucket",
                      pmod(xxhash64(col("cell")), lit(MemberBuckets)))
        val buckets = routedCells.select("cbucket").distinct()
          .collect().map(_.getLong(0)).toSeq // ≤ MemberBuckets rows
        members.filter(col("cbucket").isin(buckets: _*))
          .join(broadcast(routedCells.select("cell")), Seq("cell"),
                "left_semi")
      }
    val wRank = Window.partitionBy("src")
      .orderBy(col("dot").desc, col("vec_id").asc)
    routed.join(cand, Seq("cell"))
      .filter(col("vec_id") =!= col("src") &&
                col("label") =!= col("src_label"))
      .withColumn("dot", VectorOps.intDot(col("qq"), col("q")))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= SimQueries.GraphK)
      .select(col("src"), col("src_label"), col("vec_id").as("dst"),
              col("label").as("dst_label"), col("dot"), col("rnk"))
  }

  /**
   * Hard-negative mining AT INGEST through the COMMITTED LAYOUT — the
   * beyond-broadcast regime of [[qStreamHardNegatives]], completing
   * the dual-regime pair the ANN face gets from [[qStreamAnnProbe]]:
   * same shared routing quantizer, members read from the committed
   * bucketed layout with per-batch pruning
   * ([[hardNegativesFromLayoutBatch]]), oracle VERBATIM from the batch
   * face — the stored members, the routing, the label predicate, and
   * the rank arithmetic must all agree with the broadcast regime's
   * hash to pass.
   */
  val qStreamHardNegativesProbe = gate(
    "q_stream_hard_negatives_probe",
    (s, dir, g) => {
      import graft.vector.VectorOps
      val lay = sharedMembersLayout(s, dir)
      val qz = SimQueries.gateQuantizer(s, dir)
      val arrivals = tableStream(s, dir, "embeddings")
        .select(col("vec_id").as("src"), col("label").as("src_label"),
                VectorOps.quantize(col("embedding")).as("qq"))
      g.drain(arrivals, hardNegativesFromLayoutBatch(s, lay, qz, _))
    },
    SimQueries.qHardNegatives.oracle
  )

  /**
   * Streaming sessionization — the FLAGSHIP face — gated against the
   * batch oracle: the events table replayed as a parquet file stream
   * through [[graft.streaming.StreamingSessionize.visitsStream]] (the
   * same session-window aggregation as batch `q_sessionize`, with an
   * event-time watermark, append mode).
   *
   * Append-mode emission needs the watermark to pass each session's
   * close, and a drained file source alone leaves the final
   * `watermarkDelay` of sessions sitting in state — so the gate writes
   * the [[FlushSentinelS]] event (user −1; real ids are non-negative)
   * as a second file in the stream dir.
   */
  val qStreamSessionize = gate(
    "q_stream_sessionize",
    (s, dir, g) => {
      val stream = g.replay(
        Tables.events(s, dir).select(col("user_id"), col("ts_us"), col("ts_t")),
        flush = Map("user_id" -> -1L))
      g.drain(StreamingSessionize.visitsStream(stream))
        .filter(col("user_id") =!= -1L)
        .select("user_id", "visit_start_us", "visit_end_us", "n_events",
                "visit_key")
    },
    CoreQueries.qSessionize.oracle
  )

  /**
   * STATEFUL streaming dedup gated against a deterministic oracle: the
   * documents table replayed as a parquet file stream through
   * [[graft.streaming.StreamingDedup.dedupByContent]]
   * (`dropDuplicatesWithinWatermark` on the 16-byte content hash — the
   * state-store operator class the other gates don't touch). WHICH
   * physical row survives per content group is arrival-order-dependent
   * (racy across partitions), so the gate projects the surviving rows
   * to their content hashes — exactly one per distinct normalized
   * content, an order-independent set the oracle states as one
   * `SELECT DISTINCT md5(...)`. Event time is synthesized from doc_id
   * (deterministic µs offsets), and append-mode dedup emits survivors
   * immediately — no watermark-flush sentinel needed.
   */
  val qStreamDedup = gate(
    "q_stream_dedup",
    (s, dir, g) => {
      val stream = tableStream(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        // epoch-offset base: an event time of EXACTLY 0 (doc_id 0 with a
        // bare timestamp_micros(doc_id)) ties the initial watermark and
        // is dropped as late — observed losing exactly one row
        .withColumn("ts_t",
                    timestamp_micros(col("doc_id") + lit(1600000000L * 1000000L)))
        .withWatermark("ts_t", "1 hour")
      g.drain(graft.streaming.StreamingDedup.dedupByContent(stream))
        .select(graft.text.TextOps.contentHash(col("text")).as("content_hash"))
    },
    Some("""SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
      |FROM documents""".stripMargin)
  )

  /**
   * Streaming repetition gate (the curation face) against the batch
   * oracle: documents replayed as a file stream through
   * [[graft.streaming.StreamingCuration.withRepetitionGate]] — the
   * per-row higher-order-function formulation of `q_repetition_filter`'s
   * exploded-groupBy signals (stateless: no watermark, no state store,
   * no shuffle on the stream side). The oracle SQL is REUSED verbatim
   * from the batch query, so this row proves the HOF scoring equals the
   * relational aggregation under the driver's independent replay, not
   * just under the spec's row-for-row assert.
   */
  val qStreamCurate = gate(
    "q_stream_curate",
    (s, dir, g) => g.drain(
      graft.streaming.StreamingCuration.withRepetitionGate(
          tableStream(s, dir, "documents").select(col("doc_id"), col("text"))
            // single-file fixture → one input split; EXPLICIT count so AQE
            // can't byte-coalesce the compute-dense per-row token scoring
            // back into one task (the q_stream_decontam finding)
            .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
                         col("doc_id")))
        .select("doc_id", "n_tok", "n_types", "top_tok_n", "n_bigrams",
                "top_bigram_n", "repetitive")),
    CurationQueries.qRepetitionFilter.oracle
  )

  /**
   * The CUSTOM-STATE sessionizer (`flatMapGroupsWithState`,
   * [[graft.streaming.StatefulSessionize]]) gated against the same batch
   * oracle as `q_sessionize` and `q_stream_sessionize` — three
   * formulations, one oracle answer. Same watermark-flush sentinel as
   * the session-window gate; here the flush additionally depends on the
   * no-data finalization batch (event-time TIMEOUTS only fire in a
   * batch that runs after the watermark advanced, and the sentinel
   * shares the single data batch with everything else), which is why
   * [[drain]] pins `noDataMicroBatches.enabled` on. user_id travels
   * as a string through the typed state path (the `SessionEvent`
   * contract) and is cast back to long for the oracle compare.
   */
  val qStreamSessionizeState = gate(
    "q_stream_sessionize_state",
    (s, dir, g) => {
      import s.implicits._
      val stream = g.replay(
          Tables.events(s, dir).select(col("user_id"), col("ts_us"), col("ts_t")),
          flush = Map("user_id" -> -1L))
        .withColumn("user_id", col("user_id").cast("string"))
        .withWatermark("ts_t", Schemas.SessionGap)
        .as[graft.streaming.SessionEvent]
      g.drain(graft.streaming.StatefulSessionize.visits(s, stream).toDF())
        .filter(col("user_id") =!= "-1")
        .select(col("user_id").cast("long").as("user_id"),
                col("visit_start_us"), col("visit_end_us"), col("n_events"),
                col("visit_key"))
    },
    CoreQueries.qSessionize.oracle
  )

  /**
   * Stream-stream interval join gated against a batch oracle:
   * purchase and click events, each read as its OWN file stream over the
   * events table, joined by
   * [[graft.streaming.StreamingJoin.clickAttribution]] (equi-join on
   * user + one-hour lookback interval on event time, both sides
   * watermarked). All data arrives in one micro-batch, so the watermark
   * can drop nothing and every qualifying pair emits — the inner
   * stream-stream join's output IS the batch interval join, which the
   * oracle states directly in µs arithmetic.
   */
  val qStreamJoin = gate(
    "q_stream_join",
    (s, dir, g) => {
      def evStream = {
        val tsType = Tables.read(s, dir, "events").schema("ts").dataType
        tableStream(s, dir, "events")
          .withColumn("ts_us", Tables.tsUs(tsType))
          .withColumn("ts_t", timestamp_micros(col("ts_us")))
      }
      val purchases = evStream.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
                col("ts_t").as("p_ts"))
      val clicks = evStream.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"), col("event_id").as("c_id"),
                col("ts_t").as("c_ts"))
      g.drain(graft.streaming.StreamingJoin.clickAttribution(purchases, clicks))
        .select(col("user_id"), col("p_id"),
                unix_micros(col("p_ts")).as("p_ts_us"),
                col("c_id"), unix_micros(col("c_ts")).as("c_ts_us"))
    },
    Some("""WITH p AS (
      |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_ts_us
      |  FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id AS c_user, event_id AS c_id, epoch_us(ts) AS c_ts_us
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT p.user_id, p.p_id, p.p_ts_us, c.c_id, c.c_ts_us
      |FROM p JOIN c ON c.c_user = p.user_id
      |  AND c.c_ts_us <= p.p_ts_us
      |  AND c.c_ts_us > p.p_ts_us - 3600000000""".stripMargin)
  )

  /**
   * The reference's WHOLE production pipeline — TSV feed → parse →
   * sessionize (`main.py`'s Beam job) — run in STREAMING mode and gated
   * against a DuckDB oracle: [[graft.ingest.FeedSynth]] lines written to
   * a landing dir, discovered by the file stream, parsed by the same
   * [[graft.ingest.HitParser]] as batch, sessionized by the same
   * session-window body ([[graft.streaming.StreamingFeed.visitsFromFeed]]).
   * The oracle replays line-build + parse (`parsedHitsCte` — including
   * the planted malformation drops) and the gaps-and-islands
   * sessionization over the surviving hits. A single far-future VALID
   * TSV line (user `zz`) is the watermark-flush sentinel — the
   * `q_stream_sessionize` trick applied at the raw-feed layer, proving
   * the flush survives the parse stage too.
   */
  val qStreamFeed = gate(
    "q_stream_feed",
    (s, dir, g) => {
      // the sentinel is a valid 10-column line: it parses to user "zz_d0"
      val feedDir = g.stageDir(
        graft.ingest.FeedSynth.synthLines(
          distributeBy(Tables.events(s, dir), col("event_id"))),
        "text",
        Map("value" -> s"$FlushSentinelS\tzz\td0\tview\t\t2\tP1\tsrv0\tibmzz\tscvzz"))
      g.drain(graft.streaming.StreamingFeed.visitsFromFeed(s, feedDir))
        .filter(col("user_id") =!= "zz_d0")
    },
    Some(s"""${graft.ingest.FeedSynth.parsedHitsCte},
      |e2 AS (SELECT user_id, ts * 1000000 AS ts_us FROM hits),
      |g AS (
      |  SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
      |                   >= ${Schemas.SessionGapUs} THEN 1 ELSE 0 END AS session_break
      |  FROM e2
      |), sess AS (
      |  SELECT *, SUM(session_break) OVER (PARTITION BY user_id ORDER BY ts_us
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g
      |)
      |SELECT user_id, MIN(ts_us) AS visit_start_us, MAX(ts_us) AS visit_end_us,
      |       COUNT(*) AS n_events,
      |       user_id || '_' || CAST(MIN(ts_us) AS VARCHAR) AS visit_key
      |FROM sess GROUP BY user_id, session_id""".stripMargin)
  )

  /**
   * Streaming media decode gated against the batch oracle: the
   * synthetic media corpus (closed-form PNG/WAV payloads keyed on
   * doc_id) persisted once, replayed as a parquet file stream of binary
   * payloads, decoded by the SAME JDK decode pass as batch
   * ([[graft.streaming.StreamingMedia.features]] → `MediaOps`), and
   * projected through the SAME oracle-facing projection as
   * `q_media_decode` — whose oracle SQL is reused verbatim. Stateless
   * per-row decode: no watermark, no sentinel.
   */
  val qStreamMedia = gate(
    "q_stream_media",
    (s, dir, g) => {
      val stream = g.replay(graft.multimodal.MediaSynth.syntheticMedia(
        s, Tables.read(s, dir, "documents").select("doc_id")).toDF())
      g.drain(MediaQueries.decodedProjection(
                  graft.streaming.StreamingMedia.features(s, stream).toDF()))
    },
    MediaQueries.qMediaDecode.oracle
  )

  /**
   * Perceptual hashing AT INGEST: the stripe-card payloads replayed as
   * a parquet stream and pushed through the SAME partition-wise
   * decode→aHash pass as batch ([[graft.multimodal.MediaOps.imagePhash]]
   * is a stateless `mapPartitions` — streaming-legal as-is). Batch
   * oracle verbatim: the micro-batch path must reproduce every bit of
   * every hash.
   */
  val qStreamPhash = gate(
    "q_stream_phash",
    (s, dir, g) => {
      val stream = g.replay(graft.multimodal.MediaSynth.syntheticCards(
        s, Tables.read(s, dir, "documents").select("doc_id")).toDF())
      g.drain(graft.multimodal.MediaOps.imagePhash(s, stream).toDF())
    },
    MediaQueries.qImagePhash.oracle
  )

  /** [[qStreamPhash]] for AUDIO — fingerprint-at-ingest: the step-tone
    * payloads staged once, replayed as a file stream, and
    * [[graft.multimodal.MediaOps.audioFingerprint]] (a stateless typed
    * mapPartitions: decode → windowed envelope → bits) runs per
    * micro-batch, gated on `q_audio_fingerprint`'s closed-form oracle
    * verbatim. */
  val qStreamAudioFp = gate(
    "q_stream_audio_fp",
    (s, dir, g) => {
      val stream = g.replay(graft.multimodal.MediaSynth.syntheticSteps(
        s, Tables.read(s, dir, "documents").select("doc_id")).toDF())
      g.drain(graft.multimodal.MediaOps.audioFingerprint(s, stream).toDF())
    },
    MediaQueries.qAudioFingerprint.oracle
  )

  /**
   * Streaming INVERTED-INDEX build — postings-at-ingest, completing the
   * index trio (build / [[graft.queries.LayoutQueries]] append /
   * stream) on `q_inverted_index`'s oracle verbatim: each arriving
   * document emits its `(term, tf)` pairs as ONE row-local expression
   * ([[TextStatsQueries.termCountsCol]] — sorted-run boundaries, no
   * aggregation, so the partial rows are stateless), and the sink
   * holds exactly the mergeable partials [[LayoutQueries.qIndexAppend]]
   * proves compactable: df counts partial rows, total_tf sums, the
   * posting prefix rides the same bounded TopK the batch build uses
   * (stop-word skew never concentrates a term's corpus on one task —
   * not even at compaction).
   */
  val qStreamIndex = gate(
    "q_stream_index",
    (s, dir, g) => {
      val partial = tableStream(s, dir, "documents")
        .select(col("doc_id"),
                explode(TextStatsQueries.termCountsCol(col("text"))).as("tc"))
        .select(col("doc_id"), col("tc.term").as("term"),
                col("tc.tf").as("tf"))
      val sunk = g.drain(partial)
      // EXACTLY-ONCE COMPACTION (round-17 VERDICT #7): the drained
      // sink folds into a committed index layout under the
      // AtomicPublish manifest — one atomic version per compaction,
      // so a torn compactor can't publish a partial index — and the
      // gate's answer is read back THROUGH the committed snapshot
      // (same final merge as before; oracle unchanged).
      val layout =
        LayoutQueries.derivedDir(s, dir, s"idxlayout-${System.nanoTime()}")
      LayoutQueries.compactStreamSink(sunk, layout)
      LayoutQueries.compactIndex(s, layout)
    },
    TextStatsQueries.qInvertedIndex.oracle
  )

  /**
   * Streaming SOURCE-COMPOSITION audit — the corpus-owner dashboard
   * ([[CurationQueries.qSourceReport]]) maintained at ingest, oracle
   * verbatim: each arrival sinks its compact audit projection
   * `(source, lang, n_chars, is_null, ch)` — a pure stateless
   * projection, text reduced to its 16-byte content hash in-flight —
   * and the duplication-aware aggregate (incl. the exact
   * count-distinct, which is NOT incrementally mergeable and is
   * exactly why it runs at compaction, not per-batch) composes
   * downstream at any cadence.
   */
  val qStreamSourceReport = gate(
    "q_stream_source_report",
    (s, dir, g) => {
      val partial = tableStream(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
                col("text").isNull.cast("long").as("is_null"),
                graft.text.TextOps.contentHash(col("text")).as("ch"))
      val sunk = g.drain(partial)
      sunk.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_chars").as("sum_chars"),
             sum("is_null").as("n_null_text"),
             countDistinct(col("ch")).as("n_distinct"),
             (count(col("ch")) - countDistinct(col("ch"))).as("n_dup_docs"))
    },
    CurationQueries.qSourceReport.oracle
  )

  /** Shared body of the windowed-count gates
    * ([[qStreamWindowed]]/[[qStreamLeaderboard]]/[[qStreamAnomaly]]):
    * the events table replayed with the flush sentinel (event_type
    * `zz`), drained through
    * [[graft.streaming.StreamingFeed.windowedCounts]], sentinel filtered
    * back out. Returns the drained `(window_start_us, event_type,
    * n_events)` table. */
  private def drainedWindowedCounts(s: SparkSession, dir: String,
                                    g: Gate): DataFrame = {
    val stream = g.replay(
      Tables.events(s, dir).select(col("event_type"), col("ts_us"), col("ts_t")),
      flush = Map("event_type" -> "zz"))
    g.drain(graft.streaming.StreamingFeed.windowedCounts(stream))
      .filter(col("event_type") =!= "zz")
      .select(unix_micros(col("window_start")).as("window_start_us"),
              col("event_type"), col("n_events"))
  }

  /**
   * Tumbling-window streaming aggregation
   * ([[graft.streaming.StreamingFeed.windowedCounts]] — the standard
   * fixed-window shape, complementing the session windows the sessionize
   * gates cover) against a batch oracle: per (1-hour window, event_type)
   * event counts over the events stream. Epoch-aligned windows in a UTC
   * session are exact integer floor-division on µs event time, which the
   * oracle states directly. Same single-sentinel watermark flush as the
   * sessionize gates (sentinel event_type `zz`, filtered).
   */
  val qStreamWindowed = gate(
    "q_stream_windowed",
    (s, dir, g) => drainedWindowedCounts(s, dir, g),
    Some("""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
      |       event_type, COUNT(*) AS n_events
      |FROM events
      |GROUP BY 1, 2""".stripMargin)
  )

  /**
   * Streaming HLL sketch maintenance, gated against the BATCH register
   * oracle: each micro-batch appends its per-row `(lang, reg, rho)`
   * observations — a pure STATELESS projection, no state store, no
   * watermark — and the register table is the downstream max-merge of
   * the appended log. This is the deployment shape for streaming
   * distinct tracking: partial sketches are append-only and tiny, the
   * merge is `max` (associative, commutative, idempotent — the
   * `HllRegistersSpec` union law), so ANY batch split, replay, or late
   * re-delivery yields the same registers; compaction of the log into
   * materialized registers can run at any cadence without coordination.
   * The gate's final `groupBy(lang, reg).max` IS that compaction, and
   * its output must hash-match the one-shot batch build exactly.
   */
  val qStreamHll = gate(
    "q_stream_hll",
    (s, dir, g) => {
      val partials = TextStatsQueries.hllRows(
        tableStream(s, dir, "documents").select(col("lang"), col("text")),
        "lang")
      g.drain(partials)
        .groupBy("lang", "reg").agg(max("rho").as("max_rho"))
    },
    TextStatsQueries.qHllRegisters.oracle
  )

  /**
   * Streaming INCREMENTAL span dedup, gated against the batch oracle
   * (`q_span_incremental`'s SQL verbatim — the two faces can never
   * drift): arriving documents are chunked, hashed, and anti-joined
   * against the FROZEN corpus span index per micro-batch — all
   * stateless (chunk/hash are projections, the stream-static left-anti
   * join needs no state store, the index is materialized once before
   * the stream starts, the deployment's offline step). The appended
   * survivor triples are compact `(doc_id, pos, h)` — never text — and
   * the batch-internal first-occurrence rule + reassembly run at
   * compaction (the [[qStreamHll]] pattern: per-arrival work streams,
   * order-insensitive merge work compacts downstream at any cadence).
   */
  val qStreamSpan = gate(
    "q_stream_span",
    (s, dir, g) => {
      val docs = Tables.read(s, dir, "documents")
      val corpusH = DedupQueries.spanHashes(DedupQueries.spanChunks(
          docs.filter(col("doc_id") % 5 =!= 4)))
        .select("h").distinct().localCheckpoint()
      val arriving = tableStream(s, dir, "documents")
        .filter(col("doc_id") % 5 === 4)
      val fresh = DedupQueries
        .spanHashes(DedupQueries.spanChunks(arriving))
        .join(corpusH, Seq("h"), "left_anti")
        .select("doc_id", "pos", "h")
      val sunk = g.drain(fresh)
      val keptPos = sunk.groupBy("h")
        .agg(min(struct(col("doc_id"), col("pos"))).as("o"))
        .groupBy(col("o.doc_id").as("doc_id"))
        .agg(sort_array(collect_list(col("o.pos"))).as("kept_pos"))
      DedupQueries.reassembleSpans(
        DedupQueries.spanChunks(docs.filter(col("doc_id") % 5 === 4)),
        keptPos)
    },
    DedupQueries.qSpanIncremental.oracle
  )

  /**
   * [[qStreamSpan]] with CONTENT-DEFINED boundaries — the streaming
   * face of [[DedupQueries.qSpanCdcIncremental]] (oracle reused
   * verbatim, so the two faces can never drift): arriving documents
   * are CDC-chunked ([[DedupQueries.cdcChunks]] — pure array HOFs, so
   * the chunker is stateless and stream-legal as-is), hashed, and
   * anti-joined against the frozen corpus CDC span index per
   * micro-batch. This closes the streaming half of the shifted-
   * boilerplate hole: a re-crawled page arriving at ingest with its
   * navigation chrome moved by a few tokens still sheds it, because
   * CDC boundaries re-synchronize to content regardless of offset —
   * the fixed-width [[qStreamSpan]] face misses exactly that arrival.
   *
   * No checkpoint pins anywhere: the CDC chunker is one [[letBound]]
   * expression and every consumer ([[DedupQueries.spanHashes]]'
   * posexplode, [[DedupQueries.reassembleSpans]]' own chunk binding)
   * references it exactly once, so the alias-inlining blowup the batch
   * face originally pinned against is structurally gone — which is
   * precisely what makes this face possible (a streaming frame cannot
   * be checkpointed). Per-arrival work stays compact `(doc_id, pos,
   * h)` — text never reaches the sink — and the first-occurrence rule
   * + reassembly run at compaction (the [[qStreamHll]] pattern).
   */
  val qStreamSpanCdc = gate(
    "q_stream_span_cdc",
    (s, dir, g) => {
      val docs = Tables.read(s, dir, "documents")
      val corpusH = DedupQueries
        .spanHashes(DedupQueries.cdcChunks(docs.filter(col("doc_id") % 5 =!= 4)))
        .select("h").distinct().localCheckpoint()
      val arriving = tableStream(s, dir, "documents")
        .filter(col("doc_id") % 5 === 4)
      val fresh = DedupQueries
        .spanHashes(DedupQueries.cdcChunks(arriving))
        .join(corpusH, Seq("h"), "left_anti")
        .select("doc_id", "pos", "h")
      val sunk = g.drain(fresh)
      DedupQueries.reassembleSpans(
        DedupQueries.cdcChunks(docs.filter(col("doc_id") % 5 === 4)),
        DedupQueries.firstOccurrenceKeepers(sunk))
    },
    DedupQueries.qSpanCdcIncremental.oracle
  )

  /**
   * Streaming EXACT-SUBSTRING dedup — [[qStreamSpan]]'s shape at
   * [[DedupQueries.qSubstrDedup]]'s token resolution, gated against
   * the batch oracle (`q_substr_incremental`'s SQL verbatim): arriving
   * documents emit rolling-gram triples ([[DedupQueries.substrGrams]]
   * — pure projections, stream-legal), anti-joined against the frozen
   * corpus gram index per micro-batch, so only FRESH gram occurrences
   * reach the sink (compact `(doc_id, pos, h)`, proportional to novel
   * volume — corpus-known boilerplate dies in-flight). Compaction
   * derives the keepers as the fresh first occurrences (`min(struct)`
   * per hash), recomputes the batch grams, and marks every NON-keeper
   * occurrence as covered — equivalent to the batch face's
   * in-corpus-OR-non-first rule — then strips and reassembles.
   */
  val qStreamSubstr = gate(
    "q_stream_substr",
    (s, dir, g) => {
      val docs = Tables.read(s, dir, "documents")
      val corpusH = DedupQueries
        .substrGrams(docs.filter(col("doc_id") % 5 =!= 4))
        .select("h").distinct().localCheckpoint()
      val arriving = tableStream(s, dir, "documents")
        .filter(col("doc_id") % 5 === 4)
      val fresh = DedupQueries.substrGrams(arriving)
        .join(corpusH, Seq("h"), "left_anti")
        .select("doc_id", "pos", "h")
      val sunk = g.drain(fresh)
      val keepers = sunk.groupBy("h")
        .agg(min(struct(col("doc_id"), col("pos"))).as("o"))
        .select(col("o.doc_id").as("doc_id"), col("o.pos").as("pos"))
      val batch = docs.filter(col("doc_id") % 5 === 4)
      val dup = DedupQueries.substrGrams(batch)
        .join(keepers, Seq("doc_id", "pos"), "left_anti")
        .select("doc_id", "pos")
      DedupQueries.substrReassemble(batch, dup)
    },
    DedupQueries.qSubstrIncremental.oracle
  )

  /**
   * Streaming NEAR-dup dedup at ingest — the [[qStreamSpan]] sink-and-
   * compact shape for the MinHash family, gated against the batch
   * oracle (`q_minhash_incremental`'s SQL verbatim): arriving documents
   * compute their band signatures as a STATELESS per-row projection
   * ([[DedupQueries.bandSigArrayCol]] — the same hash family as the
   * batch aggregation, equivalence spec-pinned), explode, and flag
   * each band row against the frozen corpus index by a stream-static
   * left join. Per-arrival work sinks compact `(doc_id, band, sig0,
   * sig1, hit)` rows; the DOC verdicts compose at compaction — a doc
   * dies iff any band hit the corpus, or it shares a band group with a
   * smaller arriving doc (`doc_id > min(group)`, the pair-free
   * restatement of the batch face's greedy-min rule: d loses iff some
   * a < d shares a group, iff d exceeds the min of a group containing
   * it). One deliberate divergence class, documented: the batch face's
   * pair stage carries the MaxBucket skew guard; the compaction's
   * groupBy-min needs no guard (no pair expansion exists to bound),
   * so degenerate mega-buckets that the guard would DROP are handled
   * here exactly — the guard never fires at oracle-checked scales.
   */
  val qStreamMinhash = gate(
    "q_stream_minhash",
    (s, dir, g) => {
      val docs = Tables.read(s, dir, "documents")
      val idx = DedupQueries
        .bandSignaturesOf(docs.filter(col("doc_id") % 5 =!= 4)
          .select("doc_id", "text"))
        .select("band", "sig0", "sig1").distinct()
        .withColumn("hit", lit(1)).localCheckpoint()
      val arriving = fanOut(tableStream(s, dir, "documents")
        .filter(col("doc_id") % 5 === 4))
      val flagged = arriving
        .select(col("doc_id"),
                explode(DedupQueries.bandSigArrayCol(col("text"))).as("b"))
        .select(col("doc_id"), col("b.band").as("band"),
                col("b.sig0").as("sig0"), col("b.sig1").as("sig1"))
        .join(idx, Seq("band", "sig0", "sig1"), "left")
      val sunk = g.drain(flagged)
      val corpusHit = sunk.filter(col("hit").isNotNull)
        .select("doc_id").distinct()
      // Losers derive by joining the flat sunk rows back against the
      // groupBy-min frame — never collect_set: a degenerate mega-group
      // (the case the batch face's MaxBucket guard bounds) would
      // materialize the whole group as ONE array value on a single
      // task; the join keeps every row flat at any group size.
      val losers = sunk.select("doc_id", "band", "sig0", "sig1")
        .join(sunk.groupBy("band", "sig0", "sig1")
                .agg(min("doc_id").as("keep")),
              Seq("band", "sig0", "sig1"))
        .filter(col("doc_id") =!= col("keep"))
        .select("doc_id").distinct()
      docs.filter(col("doc_id") % 5 === 4).select("doc_id")
        .join(corpusHit, Seq("doc_id"), "left_anti")
        .join(losers, Seq("doc_id"), "left_anti")
    },
    DedupQueries.qMinhashIncremental.oracle
  )

  /**
   * Streaming CLUSTER ASSIGNMENT at ingest — [[qStreamAnn]]'s
   * stateless shape applied to [[SimQueries.appendToClusters]]'s
   * hierarchical assignment, gated against the batch oracle
   * (`q_cluster_append`'s SQL verbatim, so the two maintenance faces
   * can never drift): the layout builds from the even vec_ids, then
   * the odd half ARRIVES as a file stream and each vector is labeled
   * in its own micro-batch — quantize (projection), route to a seed
   * cell (codegen'd [[graft.vector.VectorOps.ivfNearest]] against the
   * one-row seed broadcast), join the ONE cell's candidate-centroid
   * array (stream-static equi-join on rcell, built from the IDENTICAL
   * [[SimQueries.clusterRouter]] artifacts the batch append uses), and
   * take the in-cell argmax row-locally via a comparator `array_sort`
   * (append mode cannot run the batch face's rank window; the
   * comparator replicates its exact tie rule — cosine-key desc,
   * cluster_id asc, doubles in the same arithmetic). The gate returns
   * stored labels ∪ sunk assignments — the batch gate's read-back
   * shape.
   */
  val qStreamClusterAssign = gate(
    "q_stream_cluster_assign",
    (s, dir, g) => {
      import graft.vector.VectorOps
      val out = SimQueries.evenClusterLayout(s, dir)
      val (seeds, ccell) = SimQueries.clusterRouter(s, out)
      val flat = SimQueries.centsFlat(seeds).localCheckpoint()
      val cellm = ccell.groupBy("rcell")
        .agg(array_sort(collect_list(
          struct(col("cluster_id"), col("cq"), col("cn")))).as("cands"))
        .localCheckpoint()
      val assigned = tableStream(s, dir, "embeddings")
        .filter(col("vec_id") % 2 =!= 0)
        .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("q"))
        .crossJoin(broadcast(flat))
        .select(col("vec_id"), col("q"),
                element_at(col("cids"),
                  VectorOps.ivfNearest(col("q"), col("cqs"), col("cns")) + 1)
                  .as("rcell"))
        .join(cellm, Seq("rcell"))
        .select(col("vec_id"),
          element_at(
            array_sort(
              transform(col("cands"), c => struct(
                (VectorOps.intDot(col("q"), c.getField("cq")).cast("double")
                   / sqrt(c.getField("cn").cast("double"))).as("ckey"),
                c.getField("cluster_id").as("cluster_id"))),
              byKeyDescIdAsc("ckey", "cluster_id")),
            1).getField("cluster_id").as("cluster_id"))
      val sunk = g.drain(assigned)
      graft.sources.AtomicPublish.readCommitted(s, out, "members")
        .select("vec_id", "cluster_id")
        .unionByName(sunk.select("vec_id", "cluster_id"))
    },
    SimQueries.qClusterAppend.oracle
  )

  /**
   * Streaming CDC ingest audit, gated against the batch oracle
   * ([[DedupQueries.qCorpusDiff]]'s SQL with `removed` excluded): the
   * crawl refresh replayed as a file stream, each arriving document
   * classified `added`/`changed` against the frozen previous snapshot's
   * compact hash index by a stateless stream-static left join
   * ([[graft.streaming.StreamingDiff]]). Unchanged arrivals die
   * in-flight; `removed` is decidable only once the refresh is COMPLETE
   * — that closure is the batch [[DedupQueries.corpusDiff]]'s job at
   * compaction, and the gate's oracle restriction states the boundary
   * exactly. Snapshot derivation mirrors the batch gate (old = % 7 ≠ 1
   * with % 7 == 2 reversed; arrivals = % 7 ≠ 3).
   */
  val qStreamDiff = gate(
    "q_stream_diff",
    (s, dir, g) => {
      val docs = Tables.read(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 7 =!= 1)
        .select(col("doc_id"),
                when(col("doc_id") % 7 === 2, reverse(col("text")))
                  .otherwise(col("text")).as("text"))
      // index materialized before the stream starts — the deployment's
      // offline step, and the cache keeps per-batch re-reads off parquet
      val idx = graft.streaming.StreamingDiff.snapshotIndex(old).cache()
      idx.count()
      val arrivals = tableStream(s, dir, "documents")
        .filter(col("doc_id") % 7 =!= 3)
        .select("doc_id", "text")
      try g.drain(graft.streaming.StreamingDiff.diffHits(arrivals, idx))
      finally idx.unpersist()
    },
    DedupQueries.qCorpusDiff.oracle.map(sql =>
      s"SELECT doc_id, status FROM ($sql) t WHERE status <> 'removed'")
  )

  /**
   * Streaming COUNT–MIN sketch maintenance, gated against the batch
   * counter oracle — [[qStreamHll]]'s pattern for the SUM-merge sketch
   * class: each micro-batch appends its stateless per-occurrence
   * `(hrow, bucket)` observations (token explode + salted hash — pure
   * projection, no state store, no watermark), and the counter table
   * is the downstream COUNT of the appended log. Count/sum merges
   * associatively and commutatively (though NOT idempotently — unlike
   * HLL-max, replay-once delivery matters for CM, which is the
   * documented difference between the two sketch classes), so batch
   * splits and compaction cadence are free. The gate's final
   * `groupBy.count` IS the compaction, and must hash-match the
   * one-shot batch build.
   */
  val qStreamCms = gate(
    "q_stream_cms",
    (s, dir, g) => {
      val obs = TextStatsQueries.cmsRows(
        tableStream(s, dir, "documents").select(col("text")))
      g.drain(obs)
        .groupBy("hrow", "bucket").agg(count(lit(1)).as("cnt"))
    },
    TextStatsQueries.qCmsSketch.oracle
  )

  /**
   * Streaming TF-IDF keyword extraction, gated against the batch oracle
   * verbatim: corpus df/n_docs frozen into a one-row broadcast map
   * ([[graft.streaming.StreamingTfidf]]), per-document scoring and the
   * top-k cut run as pure higher-order functions INSIDE each row —
   * no explode-regroup (a stateful aggregation a stream can't do in
   * append mode, and needless when a document's tokens live in one
   * row), no state store, no watermark. When the arriving set is the
   * frozen corpus, the weights are the batch operator's identical
   * correctly-rounded expression tree, so the gate hash-matches
   * `q_tfidf_terms`' oracle exactly.
   */
  val qStreamTfidf = gate(
    "q_stream_tfidf",
    (s, dir, g) => {
      val stats = graft.streaming.StreamingTfidf.corpusStats(
        Tables.read(s, dir, "documents").select("doc_id", "text")).cache()
      stats.count()
      try g.drain(graft.streaming.StreamingTfidf.tfidfHits(
          // fanOut: the per-row HOF scoring is compute-dense and the
          // staged fixture is one file -> one scan task (round-21)
          fanOut(tableStream(s, dir, "documents").select("doc_id", "text")),
          stats, TextStatsQueries.TfidfK))
      finally stats.unpersist()
    },
    TextStatsQueries.qTfidfTerms.oracle
  )

  /**
   * Streaming TF-IDF, LARGE-VOCABULARY formulation — the path
   * [[qStreamTfidf]]'s one-row-map broadcast cannot take (the map path
   * now enforces [[graft.streaming.StreamingTfidf.VocabBound]]): the
   * frozen df index stays a distributed `(term, df)` TABLE, arriving
   * documents fan out to per-term tf rows inside the map task
   * (stateless HOF over the row's own tokens) and stream-static
   * equi-join the index — planner-sized, never a forced one-row
   * broadcast — while the per-document top-k cut runs at COMPACTION
   * over the drained score log (it would be an unwatermarked stateful
   * aggregation in the stream; the [[qStreamLeaderboard]] split:
   * per-arrival scoring streams, the rank cut compacts). Same oracle
   * as the map path and the batch operator — three faces, one
   * semantics statement — so any weight/ordering drift between the
   * formulations hash-mismatches here.
   */
  val qStreamTfidfJoin = gate(
    "q_stream_tfidf_join",
    (s, dir, g) => {
      // frozen df index, built and materialized offline (qStreamDecontam
      // rule: index construction never bills to the first micro-batch)
      val (dfreq0, nDocs) = graft.streaming.StreamingTfidf.dfTable(
        Tables.read(s, dir, "documents").select("doc_id", "text"))
      val dfreq = checkpointCompact(dfreq0)
      val scoreLog = g.drain(graft.streaming.StreamingTfidf.termScores(
          tableStream(s, dir, "documents").select("doc_id", "text"),
          dfreq, nDocs))
      graft.streaming.StreamingTfidf.topKHits(scoreLog,
                                              TextStatsQueries.TfidfK)
    },
    TextStatsQueries.qTfidfTerms.oracle
  )

  /**
   * Streaming windowed LEADERBOARD (15th gate): the hourly top-2 event
   * types — [[qStreamWindowed]]'s watermarked tumbling-window counts
   * drained through the sink, then the rank CUT at compaction
   * over the already-aggregated (window, type) table: a
   * window-partitioned row_number whose group count grows with time
   * (scales out) over windows×types rows, never events. The per-window
   * tiebreak (count desc, type asc) is a total order, so the
   * leaderboard is deterministic and the oracle replays it with a real
   * ROW_NUMBER. The sketch/compaction split is the [[qStreamHll]]
   * discipline: per-arrival work streams, rank work compacts.
   */
  val qStreamLeaderboard = gate(
    "q_stream_leaderboard",
    (s, dir, g) => {
      val counts = drainedWindowedCounts(s, dir, g)
      val wR = org.apache.spark.sql.expressions.Window
        .partitionBy("window_start_us")
        .orderBy(col("n_events").desc, col("event_type").asc)
      counts.withColumn("rnk", row_number().over(wR).cast("long"))
        .filter(col("rnk") <= 2)
    },
    Some("""WITH c AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
      |         event_type, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT window_start_us, event_type, n_events,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY window_start_us
      |                               ORDER BY n_events DESC, event_type ASC)
      |            AS BIGINT) AS rnk
      |FROM c QUALIFY rnk <= 2""".stripMargin)
  )

  /**
   * Streaming INCREMENTAL DEDUP with the Bloom pre-probe (16th gate),
   * gated against the batch oracle ([[DedupQueries.qDedupBloom]]'s SQL
   * verbatim — three faces, one semantics statement): arriving
   * documents probe the FROZEN corpus indexes per micro-batch, all
   * stateless —
   *
   *  - the Bloom sketch answers "definitely new" inside the map task
   *    (a codegen'd `BloomFilterMightContain` literal-sketch probe,
   *    [[DedupQueries.bloomProbe]] — at 100 TB ingest this is the
   *    stage that keeps almost every arriving row out of the
   *    exact-hash join entirely, the same economics
   *    [[DedupQueries.dedupAgainstIndexBloom]] documents for batch);
   *  - sketch maybes confirm against the compact corpus hash index
   *    (stream-static inner join — a Bloom false positive dies here);
   *  - near-dup band signatures compute PER ROW
   *    ([[DedupQueries.bandSigArrayCol]], the stateless HOF
   *    formulation — no groupBy, no state store) and collide against
   *    the frozen band index.
   *
   * Both hit logs append through one sink; compaction anti-joins the
   * arrival set against the distinct hit ids — the
   * [[qStreamDecontam]]/[[qStreamHll]] split: per-arrival probes
   * stream, set subtraction compacts at any cadence.
   */
  val qStreamBloom = gate(
    "q_stream_bloom",
    (s, dir, g) => {
      import graft.text.TextOps
      val d = Tables.read(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 5 < 4)
      // frozen corpus indexes — the deployment's offline step, built and
      // materialized BEFORE the stream starts (the qStreamDecontam rule:
      // index construction must not bill to the first micro-batch)
      val hashes = checkpointCompact(
        corpus.select(TextOps.contentHash(col("text")).as("ch")).distinct())
      val bloom = DedupQueries.bloomOf(hashes, fpp = 0.03)
      val bands = checkpointCompact(
        DedupQueries.bandSignaturesOf(corpus.select("doc_id", "text"))
          .select("band", "sig0", "sig1").distinct())
      // native codegen'd probe (BloomFilterMightContain), not a UDF —
      // see DedupQueries.bloomProbe
      // fanOut: both consumers run per-row hashing / band signing over
      // a one-file scan (round-21)
      val arrivals = fanOut(tableStream(s, dir, "documents")
        .filter(col("doc_id") % 5 === 4))
      val exactHits = arrivals
        .withColumn("__ch", TextOps.contentHash(col("text")))
        .filter(DedupQueries.bloomProbe(bloom, col("__ch")))
        .join(hashes, col("__ch") === col("ch"))
        .select("doc_id")
      // no broadcast() hint on the band index: at the fixture scale the
      // planner broadcasts it anyway (it's under the auto threshold), and
      // at ingest scale — where the frozen corpus index is billions of
      // band rows — a forced hint would OOM instead of falling back to
      // the shuffled band join the batch path (bandAntiJoin) uses.
      val nearHits = arrivals
        .select(col("doc_id"),
                explode(DedupQueries.bandSigArrayCol(col("text"))).as("bs"))
        .select(col("doc_id"), col("bs.band").as("band"),
                col("bs.sig0").as("sig0"), col("bs.sig1").as("sig1"))
        .join(bands, Seq("band", "sig0", "sig1"))
        .select("doc_id")
      val hitLog = g.drain(exactHits.unionByName(nearHits))
      d.filter(col("doc_id") % 5 === 4).select("doc_id")
        .join(hitLog.distinct(), Seq("doc_id"), "left_anti")
    },
    DedupQueries.qDedupBloom.oracle
  )

  /**
   * Streaming ANOMALY detection (17th gate): hourly per-type counts
   * stream through the watermarked tumbling window
   * ([[drainedWindowedCounts]]), and the 2σ spike test runs at
   * COMPACTION over the drained (window, type) table —
   * [[CoreQueries.anomalyOverCounts]]'s exact-integer cross-multiplied
   * form, over windows×types rows, never events. The [[qStreamHll]]
   * split again, for STATISTICS this time: per-arrival counting is the
   * streamable (associative, append-only) half; the mean/variance
   * threshold needs the full population and is exactly what batch
   * compaction recomputes cheaply at any cadence. The oracle replays
   * both halves in one statement.
   */
  val qStreamAnomaly = gate(
    "q_stream_anomaly",
    (s, dir, g) =>
      CoreQueries.anomalyOverCounts(
          drainedWindowedCounts(s, dir, g)
            .withColumnRenamed("window_start_us", "day"))
        .withColumnRenamed("day", "window_start_us"),
    Some("""WITH c AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
      |         event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2
      |), st AS (
      |  SELECT *,
      |         CAST(COUNT(*) OVER w AS BIGINT) AS n_w,
      |         CAST(SUM(n_events) OVER w AS BIGINT) AS s,
      |         CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS q
      |  FROM c
      |  WINDOW w AS (PARTITION BY event_type)
      |)
      |SELECT window_start_us, event_type, n_events,
      |       CAST((n_w * n_events - s) * (n_w * n_events - s)
      |            > 4 * (n_w * q - s * s) AS INT) AS is_anomaly
      |FROM st""".stripMargin)
  )

  /**
   * Streaming RUN-LENGTH encoding (18th gate) — the second custom-state
   * protocol ([[graft.streaming.StatefulRuns]]): runs split on TYPE
   * CHANGE or SESSION GAP, and because a run boundary depends on the
   * time-adjacent neighbor's type, the state holds not-yet-final events
   * RAW and folds them only once the watermark seals the prefix — a
   * semantics [[graft.streaming.StatefulSessionize]]'s interval-merge
   * state cannot express (sessions are reorder-insensitive; runs are
   * not). The gap rule is also what makes streaming RLE emittable at
   * all: a change-only run could be extended by an arbitrarily late
   * same-type event forever. The oracle states the batch twin directly
   * (gaps-and-islands with the OR'd boundary) — `q_run_length`'s shape
   * plus the gap predicate.
   */
  val qStreamRuns = gate(
    "q_stream_runs",
    (s, dir, g) => {
      import s.implicits._
      val stream = g.replay(
          Tables.events(s, dir).select(col("user_id"), col("event_id"),
                                       col("ts_us"), col("event_type"),
                                       col("ts_t")),
          flush = Map("user_id" -> -1L, "event_id" -> -1L, "event_type" -> "zz"))
        .withColumn("user_id", col("user_id").cast("string"))
        .withWatermark("ts_t", Schemas.SessionGap)
        .as[graft.streaming.RunEvent]
      g.drain(graft.streaming.StatefulRuns.runs(s, stream).toDF())
        .filter(col("user_id") =!= "-1")
        .select(col("user_id").cast("long").as("user_id"),
                col("run_start_us"), col("run_end_us"), col("event_type"),
                col("run_len"))
    },
    Some(s"""WITH o AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
      |         CASE WHEN LAG(event_type) OVER w IS NULL
      |                OR LAG(event_type) OVER w <> event_type
      |                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
      |                   >= ${Schemas.SessionGapUs}
      |              THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), r AS (
      |  SELECT *,
      |         CAST(SUM(chg) OVER (PARTITION BY user_id
      |                             ORDER BY ts_us, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING
      |                             AND CURRENT ROW) AS BIGINT) AS run_id
      |  FROM o
      |)
      |SELECT user_id,
      |       MIN(ts_us) AS run_start_us, MAX(ts_us) AS run_end_us,
      |       MIN(event_type) AS event_type,
      |       CAST(COUNT(*) AS BIGINT) AS run_len
      |FROM r GROUP BY user_id, run_id""".stripMargin)
  )

  /**
   * The quality classifier's streaming face — the "free" one
   * ([[CurationQueries.qQualityClassifier]] scaladoc): the frozen
   * linear model ships as a 512-long weight ARRAY inside the projection
   * ([[CurationQueries.qualityScoreCol]]), so scoring an arriving
   * document is stateless per-row arithmetic — no join, no state store,
   * no watermark; at ingest scale this is a model applied at wire
   * speed. Training bills to the offline step (the [[qStreamDecontam]]
   * rule); the gate reuses the batch oracle verbatim, proving the
   * projection formulation ≡ the broadcast-join aggregation under the
   * driver's independent replay, not just under the spec's assert.
   */
  val qStreamQuality = gate(
    "q_stream_quality",
    (s, dir, g) => {
      val weights = CurationQueries.trainQualityWeights(
        Tables.read(s, dir, "documents").filter(col("doc_id") % 5 =!= 4))
      val arrivals = tableStream(s, dir, "documents")
        .filter(col("doc_id") % 5 === 4 && col("text").isNotNull)
      val scored = arrivals.select(
          col("doc_id"),
          size(graft.text.TextOps.tokens(col("text"))).cast("long")
            .as("n_tokens"),
          CurationQueries.qualityScoreCol(col("text"), weights)
            .as("score_sum"))
        .withColumn("pred_pos", when(col("score_sum") > 0, 1L).otherwise(0L))
      g.drain(scored)
    },
    CurationQueries.qQualityClassifier.oracle
  )

  /**
   * The dead-letter quarantine AT INGEST: the raw feed streamed from a
   * landing dir ([[qStreamFeed]]'s discovery path) with
   * [[graft.ingest.HitParser.quarantine]] applied per micro-batch — a
   * stateless projection+filter, so rejected lines land in the
   * quarantine sink with reason codes in the same trigger that parses
   * the good ones. Gate reuses the batch oracle verbatim.
   */
  val qStreamQuarantine = gate(
    "q_stream_quarantine",
    (s, dir, g) => {
      val raw = g.replay(graft.ingest.FeedSynth.synthLines(
        distributeBy(Tables.events(s, dir), col("event_id"))), "text")
      g.drain(graft.ingest.HitParser.quarantine(raw))
    },
    IngestQueries.qTsvQuarantine.oracle
  )

  /**
   * DSIR scoring's streaming face — importance-score documents AT
   * INGEST against the frozen selection model: the ≤1024-long weight
   * array (trained offline on the standing corpus — the
   * [[qStreamQuality]] billing split) ships inside the projection
   * ([[CurationQueries.dsirScoreCol]]), so scoring an arriving
   * document is stateless per-row arithmetic — no join, no state
   * store, no watermark. Gate reuses [[CurationQueries.qDsirWeights]]'
   * oracle verbatim, proving projection ≡ broadcast-join aggregation
   * under the driver's independent replay.
   */
  val qStreamDsir = gate(
    "q_stream_dsir",
    (s, dir, g) => {
      val w = CurationQueries.trainDsirWeights(s, dir)
      val arrivals = fanOut(tableStream(s, dir, "documents")
        .filter(col("text").isNotNull))
      val feats = CurationQueries.dsirFeatsCol(col("text"))
      val scored = arrivals.select(
          col("doc_id"), col("lang"),
          size(feats).cast("long").as("n_feats"),
          CurationQueries.dsirScoreCol(feats, w).as("imp_sum"))
        .withColumn("imp_bp", expr("imp_sum div n_feats"))
      g.drain(scored)
    },
    CurationQueries.qDsirWeights.oracle
  )

  /**
   * BPE encoding's streaming face — the tokenize-at-ingest pass: the
   * frozen merge list (trained offline on the standing corpus — the
   * [[qStreamQuality]] billing split) rides the codegen'd
   * [[graft.expr.BpeEncode]] expression as a reference object, so
   * encoding an arriving document is a stateless per-row projection.
   * Same oracle as the batch gate verbatim: the micro-batch path must
   * reproduce every subword of every word (the md5-over-all-subwords
   * hash), not just counts.
   */
  val qStreamBpe = gate(
    "q_stream_bpe",
    (s, dir, g) => {
      val merges = TextStatsQueries.bpeLearnMerges(
        Tables.read(s, dir, "documents"))
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val subs = ColumnBridge.column(graft.expr.BpeEncode(
        ColumnBridge.expression(col("text")), merges))
      val scored = tableStream(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
                size(split(col("text"), " ", -1)).cast("long").as("n_words"),
                subs.as("subs"))
        .select(col("doc_id"), col("n_words"),
                size(col("subs")).cast("long").as("n_subwords"),
                md5(array_join(col("subs"), TextStatsQueries.BpeSep))
                  .as("subword_hash"))
      g.drain(scored)
    },
    TextStatsQueries.qBpeEncode.oracle
  )

  /**
   * BYTE-level BPE encode AT INGEST — [[qStreamBpe]]'s billing split
   * on the GPT-2-class face: the byte merge table is learned OFFLINE
   * on the standing corpus (bounded collect), then rides the
   * codegen'd [[graft.expr.ByteBpeEncode]] projection per micro-batch
   * (regex pre-tokenization + the hex-pair merge fixpoint are
   * row-local — no state store). Batch oracle verbatim.
   */
  val qStreamByteBpe = gate(
    "q_stream_byte_bpe",
    (s, dir, g) => {
      val merges = TextStatsQueries.byteBpeLearnMerges(
        TextStatsQueries.byteDocsOf(Tables.read(s, dir, "documents")))
      g.drain(TextStatsQueries.byteBpeEncodedOf(
          TextStatsQueries.byteDocsOf(tableStream(s, dir, "documents")),
          merges))
    },
    TextStatsQueries.qByteBpeEncode.oracle
  )

  /** The stateless faces: `(stream gate, batch gate, stream frame)`. Each
    * frame is the batch gate's own frame function applied per
    * micro-batch: a pure row function or a stateless projection over a
    * frozen literal (the blocklist, the boilerplate hash set), so it runs
    * in the trigger that lands the arrival, in append mode, with no join
    * against the stream, no state store and no watermark. Each stream
    * gate's oracle is its batch gate's oracle verbatim. The front-door
    * frames arrive as documents; the `_files` faces watch the staged
    * container dirs through a binaryFile stream. */
  private[graft] val faces: Seq[(String, Q, (SparkSession, String) => DataFrame)] = {
    def docs(f: DataFrame => DataFrame) =
      (s: SparkSession, dir: String) => f(tableStream(s, dir, "documents"))
    Seq(
      ("q_stream_safety", WebQueries.qSafetyFilter, docs(WebQueries.safetyFrame(_))),
      ("q_stream_normalize", WebQueries.qTextNormalize,
       docs(WebQueries.normalizeFrame(_))),
      ("q_stream_html", WebQueries.qHtmlExtract, docs(WebQueries.htmlExtractFrame(_))),
      ("q_stream_upsample", CurationQueries.qUpsampleEpoch,
       docs(CurationQueries.upsampleFrame(_))),
      ("q_stream_crawl", WebQueries.qCrawlAdmit, docs(WebQueries.crawlAdmitFrame(_))),
      ("q_stream_warc", WebQueries.qWarcExtract, docs(WebQueries.warcExtractFrame(_))),
      ("q_stream_warc_admit", WebQueries.qWarcAdmit,
       docs(WebQueries.warcAdmitFrame(_))),
      // gzip members decode row-locally to the same records (lossless codec)
      ("q_stream_warc_gzip", WebQueries.qWarcExtract, docs(WebQueries.warcGzipFrame(_))),
      ("q_stream_boilerplate", WebQueries.qBoilerplateLines,
       (s, dir) => WebQueries.boilerplateFrame(Tables.read(s, dir, "documents"),
                                               tableStream(s, dir, "documents"))),
      ("q_stream_intradoc", DedupQueries.qIntradocDedup,
       docs(DedupQueries.intraDocDedup(_))),
      ("q_stream_warc_files", WebQueries.qWarcFiles,
       (s, dir) => WebQueries.warcFilesExtract(
         binaryFileStream(s, WebQueries.warcFilesDir(s, dir), "*.warc.gz"))),
      ("q_stream_jsonl_files", IngestQueries.qJsonlFiles,
       (s, dir) => IngestQueries.jsonlFilesParse(
         binaryFileStream(s, IngestQueries.jsonlFilesDir(s, dir), "*.jsonl.gz"))))
  }

  val all: Seq[Q] = Seq(qStreamDecontam, qStreamSessionize, qStreamDedup,
                        qStreamCurate, qStreamSessionizeState, qStreamJoin,
                        qStreamFeed, qStreamMedia, qStreamWindowed, qStreamHll,
                        qStreamSpan, qStreamSpanCdc, qStreamSubstr,
                        qStreamMinhash, qStreamClusterAssign, qStreamDiff,
                        qStreamCms, qStreamTfidf,
                        qStreamTfidfJoin, qStreamLeaderboard, qStreamBloom,
                        qStreamAnomaly, qStreamRuns, qStreamSemanticDecontam,
                        qStreamLmScore, qStreamQuality, qStreamBpe,
                        qStreamDsir, qStreamQuarantine,
                        qStreamPhash, qStreamAudioFp, qStreamIndex,
                        qStreamSourceReport,
                        qStreamAnn, qStreamHardNegatives,
                        qStreamAnnProbe, qStreamHardNegativesProbe,
                        qStreamByteBpe) ++
    faces.map { case (name, batch, frame) =>
      gate(name, (s, dir, g) => g.drain(frame(s, dir)), batch.oracle)
    }
}
