package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

package object queries {
  /** A query surface entry: Spark implementation + optional DuckDB oracle.
    * Keeping both in one value guarantees the `queries`/`oracleSql` maps in
    * [[graft.SparkEntry]] can never drift apart on names. */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String]
  )

  /** Hash-repartition by key with the session's shuffle-partition count
    * stated EXPLICITLY — the distribution idiom for exchanges that feed
    * work DENSE ENOUGH per row that AQE's coalescing serializes it. A
    * bare `repartition(col)` is AQE-coalescable, and AQE coalesces by
    * shuffle BYTES: compact rows (a few MB of doc ids + text) get folded
    * back into one or two post-shuffle tasks regardless of the compute
    * above the exchange (plan-verified on the decontam band signatures:
    * `AQEShuffleRead coalesced` → 3.2 s single task vs 0.9 s at the
    * configured 32). Stating the count pins the exchange at the
    * configured parallelism — the knob deployments already size for
    * their cluster.
    *
    * MEASURE before reaching for this: pinning is only right when the
    * per-row work dwarfs per-task overhead. The round-11 warm A/B at
    * sf0.1 — 13-gram explode+hash (q_exact_overlap) 3.70 → 1.77 s
    * pinned, but codegen'd integer dots (q_sim_search) 0.55 → 0.72 s
    * and token counting (q_lang_id) 0.93 → 1.50 s got SLOWER pinned —
    * byte-based coalescing is correct for everything lighter, so those
    * sites keep the bare AQE-managed `repartition(col)`. */
  private[graft] def distributeBy(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, keys: _*)

  /** Round-robin fan-out of a SMALL, compute-dense frame to the session's
    * parallelism — the fix for the round-21 finding that every sf bench
    * table is ONE parquet row group, so a scan is ONE task and every
    * "zero-shuffle" per-row-heavy chain above it (WARC synth → record
    * parse → HTML extraction, media decode, BPE encode, feed-line parse)
    * ran single-threaded while `local[32]` idled (optimization guide
    * §2.5 "input skew … repartition immediately after the read").
    *
    * Scale-adaptive, not a local[32] constant: a batch frame that ALREADY
    * has ≥ parallelism partitions (any real multi-row-group corpus) passes
    * through untouched — the exchange exists only where the scan cannot
    * supply parallelism, and moves the compact pre-explosion rows, never
    * the fanned-out intermediate (§8's "shuffle the proxy, not the
    * payload"). Streaming frames skip the partition probe (`.rdd` is
    * undefined pre-materialization) and always widen: micro-batches are
    * trigger-bounded, which is the same small-and-dense shape. The target
    * honors `spark.graft.fanout.parts` (set ≤ 1 to disable — the A/B
    * switch) and defaults to the scheduler's `defaultParallelism`, so the
    * driver's lower-core bench runs re-derive it instead of inheriting a
    * 32-wide constant.
    *
    * STREAMING DEPLOYMENT NOTE (round-21 VERDICT item 4, closed as a
    * pinned operating rule): because a streaming frame admits no width
    * probe, the exchange is UNCONDITIONAL on stream faces — correct for
    * the library's landing-dir/file-replay shape (a micro-batch is a
    * handful of files feeding per-row-heavy chains), but on a source
    * that already delivers wide micro-batches (Kafka with ≥ parallelism
    * partitions, a high-file-rate directory with maxFilesPerTrigger ≥
    * parallelism) it ships every row once for no placement gain — set
    * `spark.graft.fanout.parts=1` on such deployments. The exchange
    * carries the compact PRE-explosion rows by construction (every call
    * site is below the parse/decode, above the scan), so the misconfig
    * cost is bounded at one pass of input bytes per trigger, never the
    * fanned-out intermediate. */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val target = s.conf.getOption("spark.graft.fanout.parts")
      .map(_.trim.toInt)
      .getOrElse(s.sparkContext.defaultParallelism)
    if (target <= 1) df
    else if (!df.isStreaming && df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** `localCheckpoint` at DISK_ONLY — the storage level for CORPUS- or
    * EDGE-scale checkpoints (exploded gram/shingle tables, pair lists,
    * edge frames). Chosen by eliminating the two memory-resident levels
    * against measured OOM classes at the 2 M-/4 M-doc soaks (8 g heap —
    * deliberately 16–32× below real-cluster per-core sizing):
    *
    *  - default deserialized: the disk-read re-promotion path
    *    (`maybeCacheDiskValuesInMemory`) re-inflates a spilled block into
    *    an object array sized outside Tungsten's accounting — raw-heap
    *    OOM at the 2 M-doc soak while the memory manager believed it had
    *    room (BASELINE.md round-12).
    *  - MEMORY_AND_DISK_SER: cache writes are accounted, but the BYTE
    *    re-promotion path (`maybeCacheDiskBytesInMemory`) still
    *    materializes a whole spilled block (`ByteBuffer.allocate` of the
    *    full block size) after reserving storage credit — the credit is
    *    freed by evicting OTHER serialized blocks whose heap bytes are
    *    not yet collected, so 32 concurrent readers each allocating a
    *    40–140 MB block overshoot physical heap and die
    *    (`java.lang.OutOfMemoryError` in `DiskBlockData
    *    .toChunkedByteBuffer`; observed at the 4 M-doc soak at BOTH 32-
    *    and 128-wide checkpoints — width shrinks blocks, not the
    *    reader concurrency × block size product).
    *
    * When a frame is corpus-scale it EXCEEDS the storage pool by
    * construction, so memory residency buys nothing — re-promoted blocks
    * evict each other in a churn loop — and DISK_ONLY removes the last
    * unaccounted allocation path: reads stream `FileInputStream` →
    * deserializer with no whole-block buffer, and the OS page cache
    * supplies memory-speed re-reads whenever the frame actually fits.
    * (Verified at the sf0.1 bench: parity with the SER level — the
    * serialized levels pay the same per-row deserialization either way.)
    * Node-sized loop frames (labels, seeds, centroids) keep the default
    * deserialized level — re-read per round, object form is cheapest,
    * and they are orders of magnitude under block-size hazard. */
  private[graft] def checkpointCompact(df: DataFrame): DataFrame =
    df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)

  /** Single-use `transform` over a one-element array as a let-binding:
    * `body` sees `v` as a bound lambda variable (evaluated exactly
    * once), `element_at(…, 1)` unwraps. No optimizer rule beta-reduces
    * HOFs, so the binding survives into the physical plan — the
    * library-wide defense against the alias-inlining re-evaluation
    * class ([[graft.queries.DedupQueries]] cdcChunks scaladoc: a
    * projection alias referenced inside a consumer's lambda body
    * re-evaluates per ELEMENT once projections collapse; a lambda
    * value re-references for free). */
  private[graft] def letBound(v: Column)(body: Column => Column): Column =
    org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.array(v), body), 1)
}
