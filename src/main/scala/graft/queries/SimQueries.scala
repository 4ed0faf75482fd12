package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.vector.VectorOps

/**
 * Approximate-nearest-neighbor search over `embeddings.parquet`
 * (SURVEY.md §7.4): brute-force top-k as the correctness baseline, and an
 * LSH sign-bucketed variant as the scale path.
 *
 * 100 TB posture: the query set is tiny relative to the corpus, so it is
 * `broadcast()` to every executor — the corpus never shuffles for the
 * brute-force scan, and the LSH variant turns the scan into an equi-join on
 * the bucket key. Ranking is per-query (`Window.partitionBy(q_id)`) — never
 * a global sort. Similarity is the exact quantized-integer dot product
 * ([[graft.vector.VectorOps]]), so ordering is deterministic and the DuckDB
 * oracle replays it exactly; `vec_id` breaks ties.
 */
object SimQueries {

  private[queries] val TopK = 10

  // ───── shared per-process trained artifacts ─────────────────────────
  //
  // ~10 vector gates re-TRAINED the identical quantizer per bench pass
  // (one Lloyd pass each, same frame, same cap) — within one process
  // that is the same artifact built ten times (round-19 VERDICT item 2:
  // "share one committed quantizer/index artifact across the family
  // within a bench pass"). The artifacts below are PARQUET under
  // [[LayoutQueries.memo]] — NOT localCheckpoint handles, because the
  // bench harness unpersists all persistent RDDs between queries.
  // Training is deterministic in (code, input) (ivfSeeds =
  // vec_id-stride + ordered LIMIT; Lloyd = floor-mean — no
  // physical-order dependence), so every consumer reads bit-identical
  // artifacts and all oracles are unchanged; each oracle still replays
  // its whole derivation independently, so the memo cannot mask a
  // training regression — the first consumer's hash would catch it.

  /** The gate-cap cell quantizer for a testdata dir, trained at most
    * once per process — every fixture-default consumer (semantic dedup /
    * decontam, knn graph, hard negatives, the stream faces) shares this
    * one trained artifact. Library callers with their own frame or cap
    * still train privately. Persisted as parquet (flat: `cents`; hier:
    * `coarse` + `fine` — ≤ cap compact rows either way) and
    * reconstructed per call; cap is recomputed from the cheap raw-table
    * count, so the flat/hier regime choice is stable across calls. */
  private[graft] def gateQuantizer(s: SparkSession,
                                   dir: String): CellQuantizer = {
    val cap = DedupQueries.gateCellCap(s, dir)
    val out = LayoutQueries.memo(s, dir, "gate-quantizer") { out =>
      trainCellQuantizer(quantized(s, dir), cap) match {
        case CellQuantizer(_, Some(cents), _, _) =>
          cents.write.mode("overwrite").parquet(s"$out/cents")
        case CellQuantizer(_, _, Some(coarse), Some(fine)) =>
          coarse.write.mode("overwrite").parquet(s"$out/coarse")
          fine.write.mode("overwrite").parquet(s"$out/fine")
        case _ => throw new IllegalStateException("malformed CellQuantizer")
      }
    }
    if (cap <= MaxCents)
      CellQuantizer(cap, Some(s.read.parquet(s"$out/cents")), None, None)
    else
      CellQuantizer(cap, None, Some(s.read.parquet(s"$out/coarse")),
                    Some(s.read.parquet(s"$out/fine")))
  }

  /** The MaxCents-trained IVF centroid table for a testdata dir, one
    * Lloyd pass per process — shared by the IVF/PQ/stream-ANN gates
    * that previously each re-trained it. ≤ MaxCents compact rows. */
  private[queries] def sharedIvfCents(s: SparkSession,
                                      dir: String): DataFrame = {
    val out = LayoutQueries.memo(s, dir, "ivf-cents") { out =>
      ivfTrain(quantized(s, dir)).write.mode("overwrite").parquet(s"$out/cents")
    }
    s.read.parquet(s"$out/cents")
  }

  /** (vec_id, label, q = quantized embedding), hash-distributed by vec_id:
    * the per-candidate dot products must not run inside one compact-scan
    * task — under a broadcast join the probe side keeps the scan's
    * partitioning, and the fixture is a single small parquet split. The
    * exchange moves compact vectors once; AQE is free to coalesce it
    * (measured RIGHT for this compute density — pinning the count cost
    * q_sim_search 0.55→0.72 s and q_sim_search_ivf 1.53→2.22 s warm in
    * the round-11 A/B; the codegen'd integer dot is cheap enough per row
    * that task overhead dominates at coalesced widths). */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .repartition(col("vec_id"))
      .select(col("vec_id"), col("label"),
              VectorOps.quantize(col("embedding")).as("q"))

  private[queries] val quantCte: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |  FROM embeddings
      |)""".stripMargin

  /** Query budget for the two BRUTE-FORCE scan baselines
    * ([[qSimSearch]], `q_pq_search`): the candidate query pool
    * (`vec_id % 100 = 0`) grows with the corpus, so an unbounded brute
    * scan is n²/100 — 318 s at the 200 k-vector soak (round-18 VERDICT
    * item 3) for a baseline whose JOB is recall reference, not
    * throughput. The gates keep the [[qClusterSample]] md5-rank draw:
    * the `BruteQueryBudget` hash-smallest pool members, deterministic
    * under any partitioning and replayed by the oracle with the same
    * ORDER BY/LIMIT — at fixture scale the pool is under budget, so
    * the draw is the identity and every sibling recall spec still
    * compares like for like. Scan work is then n·budget (linear);
    * the FULL-pool brute scan remains available to specs via an
    * explicit query frame. */
  private[queries] val BruteQueryBudget = 256

  /** The sampled brute query set `(q_id, qq)` — see
    * [[BruteQueryBudget]]. */
  private[queries] def bruteQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 100 === 0)
      .withColumn("__h",
                  md5(concat(lit("bq:"), col("vec_id").cast("string"))))
      .orderBy(col("__h").asc, col("vec_id").asc)
      .limit(BruteQueryBudget)
      .select(col("vec_id").as("q_id"), col("q").as("qq"))

  /** DuckDB replay of [[bruteQueries]]' id draw (a bare id subquery —
    * callers wrap it in their own CTE shapes). */
  private[queries] val bruteQuerySql: String =
    "SELECT vec_id FROM e WHERE vec_id % 100 = 0 " +
      "ORDER BY md5('bq:' || CAST(vec_id AS VARCHAR)) ASC, vec_id ASC " +
      s"LIMIT $BruteQueryBudget"

  /** Brute-force exact top-k by integer dot product over the
    * budget-sampled query draw ([[BruteQueryBudget]]); scan all
    * candidates; top-k per query through the BOUNDED map-combining
    * aggregate ([[graft.operators.TopK]]) — the rank-window
    * formulation shuffled all n·budget scored rows into `budget`
    * window partitions (51 M rows into 256 tasks at the 200 k-vector
    * soak), where the aggregate ships ≤ k rows per (query, map task)
    * and replays the window's (dot DESC, vec_id ASC) order exactly
    * (no nulls here, so the documented null-parity caveat is moot).
    * The recall baseline every ANN variant is measured against. */
  val qSimSearch = Q(
    "q_sim_search",
    (s, dir) => {
      val e = quantized(s, dir)
      val queries = bruteQueries(e)
      e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), VectorOps.intDot(col("qq"), col("q")).as("dot"),
                col("vec_id"))
        .groupBy("q_id")
        .agg(graft.operators.TopK.topK(TopK)(col("dot"), col("vec_id"))
               .as("top"))
        .select(col("q_id"), posexplode(col("top.items")).as(Seq("p", "t")))
        .select(col("q_id"), col("t.id").as("vec_id"),
                col("t.v").as("dot"),
                (col("p") + 1).cast("long").as("rnk"))
    },
    Some(s"""$quantCte,
      |qs AS (SELECT vec_id AS q_id, q AS qq FROM e
      |       WHERE vec_id IN ($bruteQuerySql)),
      |p AS (
      |  SELECT q_id, vec_id,
      |         CAST(list_sum(list_transform(generate_series(1, len(q)),
      |                i -> q[i] * qq[i])) AS BIGINT) AS dot
      |  FROM e, qs WHERE vec_id <> q_id
      |)
      |SELECT q_id, vec_id, dot,
      |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
      |FROM p
      |QUALIFY rnk <= $TopK""".stripMargin)
  )

  /** The sign-LSH collapse metric name ([[signBucketStats]] scaladoc). */
  private[queries] val LshBucketObs = "graft_lsh_bucket_obs"

  /** Sessions that already carry the [[LshBucketObs]] echo listener. */
  private val lshObsSessions =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Echo the sign-LSH `observe` metric to stderr with a greppable tag —
    * `[graft-lsh] rows=N n_buckets=M` — once per completed execution of
    * the LSH query, so a collapsed-bucket corpus (n_buckets ≈ 1) is
    * visible in BENCH/Verify logs, not only to a caller that thinks to
    * read `observedMetrics` (VERDICT r11 item 6: the guard must fire in
    * driver-visible artifacts). Reads the metric through
    * `CollectMetricsExec.collect`, whose `AdaptiveSparkPlanHelper`
    * traversal descends into `AdaptiveSparkPlanExec` — unlike the
    * `qe.observedMetrics` lazy val, which is blind to the collector
    * under AQE (the SparkSpec.withoutAqe note) and AQE is on in bench
    * runs. Registered at most once per session; the listener is a no-op
    * for every query that doesn't carry the metric. */
  private def ensureLshObsListener(s: SparkSession): Unit =
    if (lshObsSessions.add(s)) {
      s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          org.apache.spark.sql.execution.CollectMetricsExec.collect(qe.executedPlan)
            .get(LshBucketObs).foreach { m =>
              System.err.println(s"[graft-lsh] rows=${m.getAs[Long]("rows")} " +
                s"n_buckets=${m.getAs[Long]("n_buckets")}")
            }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
    }

  /** Opt-in mean-centering pre-pass for sign-LSH: subtract the corpus'
    * per-dimension FLOOR-mean from every quantized vector. An off-center
    * corpus (e.g. all coordinates positive — common for real embedding
    * families) puts EVERY vector in one orthant, hence one sign bucket,
    * and bucketed ANN silently degrades to brute-force-through-a-join
    * (measured 53.6 s vs 1.10 s at the 50k soak — BASELINE.md
    * degenerate-corpus finding); centering moves the orthant boundaries
    * to the data's centroid, restoring bucket diversity. Cost: one
    * dim-row aggregate broadcast back over the corpus — the vectors
    * themselves never shuffle. Floor-mean keeps the arithmetic
    * integer-exact (the [[ivfTrain]] discipline), so a centered corpus
    * remains oracle-replayable. Queries must be centered by the SAME
    * mean as the corpus — center first, then split off the query set. */
  def meanCentered(e: DataFrame): DataFrame = {
    val mu = e.select(posexplode(col("q")))
      .groupBy("pos").agg(floor(avg(col("col"))).cast("long").as("mu"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("pm"))
      .select(transform(col("pm"), x => x.getField("mu")).as("__mu_vec"))
    e.crossJoin(broadcast(mu))
      .withColumn("q", zip_with(col("q"), col("__mu_vec"), (x, m) => x - m))
      .drop("__mu_vec")
  }

  /** Exact bucket-population diagnostic for a sign-bucketed frame:
    * one row of (n_buckets, max_bucket_n, n_rows, max_share). The
    * monitoring pass a deployment runs on index build/refresh — a
    * max_share near 1.0 means the corpus collapsed into one orthant and
    * the bucket join is brute force in disguise ([[meanCentered]] is the
    * fix). Two-level aggregate: the per-bucket groupBy map-side-combines
    * (≤ 2^bits rows reach the shuffle per partition), so the hot bucket
    * never funnels its raw rows through one task — the diagnostic stays
    * cheap on exactly the corpus that needs it. */
  def signBucketStats(bucketed: DataFrame): DataFrame =
    bucketed.groupBy("bucket").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"), max("n").as("max_bucket_n"),
           sum("n").as("n_rows"))
      .withColumn("max_share",
                  col("max_bucket_n").cast("double") / col("n_rows"))

  /** LSH-bucketed ANN: candidates restricted to the query's sign bucket
    * (first 8 quantized coords ⇒ 256 orthant-prefix buckets), then exact
    * ranking within the bucket. The join is an equi-join on the bucket key —
    * this is the plan shape that survives a 100× corpus: probe cost scales
    * with bucket size, not corpus size. Recall vs the brute-force baseline
    * is measured in the test suite.
    *
    * Degenerate-mode guard (VERDICT r10): the corpus side carries an
    * `observe` metric — row count + approx-distinct bucket count — that
    * rides the existing scan (zero extra jobs, zero shuffles). A corpus
    * that drifted off-center collapses to `n_buckets ≈ 1`, which is the
    * operator's own run telling its caller the index degenerated;
    * [[signBucketStats]] is the exact follow-up diagnostic and
    * [[meanCentered]] the opt-in fix (the default stays uncentered —
    * the gated oracle replays raw sign buckets). */
  val qSimSearchLsh = Q(
    "q_sim_search_lsh",
    (s, dir) => {
      ensureLshObsListener(s)
      val e = quantized(s, dir)
        .withColumn("bucket", VectorOps.signBucket(col("q")))
      val queries = e.select(col("vec_id").as("q_id"), col("q").as("qq"),
                             col("bucket").as("q_bucket"))
        .filter(col("q_id") % 100 === 0)
      val w = Window.partitionBy("q_id")
        .orderBy(col("dot").desc, col("vec_id").asc)
      e.observe(LshBucketObs, count(lit(1)).as("rows"),
                approx_count_distinct(col("bucket")).as("n_buckets"))
        .join(broadcast(queries),
              col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
        .withColumn("dot", VectorOps.intDot(col("qq"), col("q")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= TopK)
        .select("q_id", "vec_id", "dot", "rnk")
    },
    Some(s"""$quantCte,
      |eb AS (
      |  SELECT vec_id, q,
      |         CAST(list_sum(list_transform(generate_series(1, 8),
      |                i -> CASE WHEN q[i] >= 0 THEN CAST(POWER(2, i - 1) AS BIGINT)
      |                          ELSE 0 END)) AS BIGINT) AS bucket
      |  FROM e
      |),
      |qs AS (SELECT vec_id AS q_id, q AS qq, bucket AS q_bucket
      |       FROM eb WHERE vec_id % 100 = 0),
      |p AS (
      |  SELECT q_id, vec_id,
      |         CAST(list_sum(list_transform(generate_series(1, len(q)),
      |                i -> q[i] * qq[i])) AS BIGINT) AS dot
      |  FROM eb JOIN qs ON bucket = q_bucket AND vec_id <> q_id
      |)
      |SELECT q_id, vec_id, dot,
      |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
      |FROM p
      |QUALIFY rnk <= $TopK""".stripMargin)
  )

  /**
   * MULTI-PROBE sign-LSH — the recall knob on [[qSimSearchLsh]]'s
   * single-bucket probe, left as its own gate so both points on the
   * recall/cost curve stay measured: each query probes its own bucket
   * PLUS the 8 Hamming-distance-1 buckets (one sign bit flipped).
   * Near neighbors that straddle one orthant boundary — the dominant
   * miss mode of single-probe (measured recall@10 0.049 single-probe
   * vs brute force at the 50 k clustered soak; see BASELINE) — are
   * recovered at 9× the candidate volume, still bucket-bounded and
   * corpus-size-independent per probe. The probe set is exact algebra
   * (bucket XOR 2^i), so the oracle replays it bit-for-bit.
   */
  val qSimSearchMp = Q(
    "q_sim_search_mp",
    (s, dir) => {
      val e = quantized(s, dir)
        .withColumn("bucket", VectorOps.signBucket(col("q")))
      val probes = array(
        (col("q_bucket") +: (0 until 8).map(i =>
          col("q_bucket").bitwiseXOR(lit(1L << i)))): _*)
      val queries = e.select(col("vec_id").as("q_id"), col("q").as("qq"),
                             col("bucket").as("q_bucket"))
        .filter(col("q_id") % 100 === 0)
        .withColumn("probe", explode(probes))
      val w = Window.partitionBy("q_id")
        .orderBy(col("dot").desc, col("vec_id").asc)
      e.join(broadcast(queries),
             col("bucket") === col("probe") && col("vec_id") =!= col("q_id"))
        .withColumn("dot", VectorOps.intDot(col("qq"), col("q")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= TopK)
        .select("q_id", "vec_id", "dot", "rnk")
    },
    Some(s"""$quantCte,
      |eb AS (
      |  SELECT vec_id, q,
      |         CAST(list_sum(list_transform(generate_series(1, 8),
      |                i -> CASE WHEN q[i] >= 0 THEN CAST(POWER(2, i - 1) AS BIGINT)
      |                          ELSE 0 END)) AS BIGINT) AS bucket
      |  FROM e
      |),
      |qs AS (SELECT vec_id AS q_id, q AS qq, bucket AS q_bucket
      |       FROM eb WHERE vec_id % 100 = 0),
      |pr AS (
      |  SELECT q_id, qq,
      |         CASE WHEN i = 0 THEN q_bucket
      |              ELSE xor(q_bucket, CAST(POWER(2, i - 1) AS BIGINT)) END
      |           AS probe
      |  FROM qs CROSS JOIN generate_series(0, 8) g(i)
      |),
      |p AS (
      |  SELECT q_id, vec_id,
      |         CAST(list_sum(list_transform(generate_series(1, len(q)),
      |                i -> q[i] * qq[i])) AS BIGINT) AS dot
      |  FROM eb JOIN pr ON bucket = probe AND vec_id <> q_id
      |)
      |SELECT q_id, vec_id, dot,
      |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
      |FROM p
      |QUALIFY rnk <= $TopK""".stripMargin)
  )

  /** Every `CentStride`-th vector seeds an IVF centroid — but never more
    * than `MaxCents` of them: the stride grows with the corpus
    * (`ivfStride`) so the centroid table is BROADCAST-SCALE AT ANY
    * CORPUS SIZE. Without the cap, k = n/200 grows linearly and the one
    * n·k assignment pass tends to O(n²/200) — the exact scale-killer the
    * broadcast claim forbids. One relational Lloyd iteration (assign →
    * per-cell floor-mean → re-assign) then trains the quantizer so cell
    * shapes track the actual data distribution, not the seed draw. */
  private val CentStride = 200
  private[queries] val MaxCents = 256L

  /** Target per-cell occupancy for the SEMANTIC pair stages (SemDeDup/
    * decontam cellCap derivation — see [[graft.queries.DedupQueries]]
    * `semanticCellCap`). Declared HERE, next to the matching
    * [[CentStride]], because [[ivfCteDerived]] interpolates it while
    * `DedupQueries`' gate vals are still initializing — a back-read of
    * a plain val mid-init would see 0 (the ChunkW lesson). */
  private[graft] val SemTargetCell = 200L
  private[queries] val NProbe = 2

  /** Seed stride for an n-vector corpus: `max(CentStride, ⌈n/MaxCents⌉)`
    * — at fixture scale the historical every-200th seeding, beyond
    * `CentStride·MaxCents` vectors a stride that caps the seed count at
    * `MaxCents`. Cells then grow with the corpus while the centroid
    * broadcast and the driver's probe-time collect stay O(MaxCents·dim)
    * — the two-level IVF tradeoff; a deployment sizes `MaxCents` to its
    * executor memory (or goes hierarchical), the cap's existence is what
    * makes the claim hold by construction. Exactly replayed by the
    * oracle: `⌈n/256⌉` of BIGINT n < 2⁵³ is exact in DuckDB's
    * `CEIL(n/256.0)`. */
  private[queries] def ivfStride(n: Long): Long =
    math.max(CentStride.toLong, (n + MaxCents - 1) / MaxCents)

  /** Stride-sampled seed centroids over a quantized frame, HARD-capped at
    * `MaxCents`: the stride bounds the expected seed count for a
    * contiguous id space, and an ordered LIMIT (`c_id` ascending — a
    * TakeOrderedAndProject, each partition keeps its local top-MaxCents
    * and only those tiny heads reach the driver-side merge) makes the
    * bound unconditional — a sparse or stride-aligned id space can
    * neither blow the broadcast NOR funnel the candidate set through a
    * one-task rank window. The stride itself is computed IN the plan (a
    * 1-row count aggregate broadcast back over `e`, exactly the oracle's
    * `st` CTE), so seeding stays fully lazy — no driver-side action at
    * plan-construction time, no extra scan of the embeddings on top of
    * the assignment passes. */
  private[queries] def ivfSeeds(e: DataFrame,
                                cap: Long = MaxCents): DataFrame = {
    // cap defaults to MaxCents (the gated ANN surface, oracle-replayed);
    // library callers with a different broadcast budget or — for the
    // SemDeDup pair stage — a target CELL SIZE pass their own: cells
    // average n/cap members, so pair work is n²/cap and a deployment
    // holding cell size constant (cap ∝ n) keeps the pair stage linear.
    // The stride floor drops out for caps above n/CentStride.
    val st = e.agg(count(lit(1)).as("__n")).select(
      greatest(lit(math.min(CentStride.toLong, cap)),
               ceil(col("__n").cast("double") / cap).cast("long"))
        .as("__stride"))
    e.crossJoin(broadcast(st))
      .filter(col("vec_id") % col("__stride") === 0)
      .select(col("vec_id").as("c_id"), col("q").as("cq"),
              VectorOps.intNormSq(col("q")).as("cn"))
      .orderBy(col("c_id").asc)
      .limit(cap.toInt)
  }

  /** Nearest-`NProbe` centroid cells per vector (cosine rank, c_id
    * tiebreak) — an n·k cross-join + rank window. Kept ONLY for the
    * small query-probe sets (crn <= NProbe over n/100 rows); every
    * corpus-wide crn = 1 assignment goes through [[ivfAssign1]], whose
    * codegen'd argmax avoids materializing the n·k rows entirely. */
  private[queries] def ivfAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val wCell = Window.partitionBy("vec_id")
      .orderBy(col("ckey").desc, col("c_id").asc)
    e.crossJoin(broadcast(cents))
      .withColumn("cdot", VectorOps.intDot(col("q"), col("cq")))
      .withColumn("ckey",
                  col("cdot").cast("double") / sqrt(col("cn").cast("double")))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= NProbe)
      .select("vec_id", "c_id", "crn")
  }

  /** Centroid table flattened to ONE broadcastable row, sorted by c_id:
    * ids, the k·dim codeword matrix, and the squared norms — the layout
    * [[VectorOps.ivfNearest]] scans. ≤ MaxCents·(dim+2) longs by the
    * stride cap, i.e. KB-scale at any corpus size. */
  private[queries] def centsFlat(cents: DataFrame): DataFrame =
    cents.groupBy()
      .agg(array_sort(collect_list(struct(col("c_id"), col("cq"), col("cn"))))
        .as("cc"))
      .select(transform(col("cc"), x => x.getField("c_id")).as("cids"),
              flatten(transform(col("cc"), x => x.getField("cq"))).as("cqs"),
              transform(col("cc"), x => x.getField("cn")).as("cns"))

  /** crn = 1 fast path of [[ivfAssign]]: nearest cell per vector as a
    * pure PROJECTION — the k×dim cosine-argmax loop runs row-locally
    * inside whole-stage codegen ([[graft.expr.IvfNearestCell]]) against
    * the one-row flattened centroid broadcast, so nothing n·k is ever
    * materialized or shuffled (the window formulation moved 25.6 M rows
    * at sf0.1). Ordering parity incl. NaN/Inf degenerate keys is the
    * expression's contract, property-tested in `IvfNearestCellSpec`. */
  private[queries] def ivfAssign1(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(centsFlat(cents)))
      .select(col("vec_id"),
              element_at(col("cids"),
                VectorOps.ivfNearest(col("q"), col("cqs"), col("cns")) + 1)
                .as("c_id"))

  /** One relational Lloyd iteration over the stride seeds: every vector
    * assigned to its nearest seed cell, each cell's trained centroid =
    * per-dimension FLOOR-mean of its members (sums/counts < 2^53, so the
    * double divide has exact inputs and FLOOR is engine-identical).
    * Degenerate all-zero centroids (0/0 cosine) are dropped. */
  private[queries] def ivfTrain(e: DataFrame,
                                cap: Long = MaxCents): DataFrame = {
    val assign0 = ivfAssign1(e, ivfSeeds(e, cap))
      .select(col("vec_id").as("m_vid"), col("c_id"))
    e.join(assign0, col("vec_id") === col("m_vid"))
      .select(col("c_id"), posexplode(col("q")))
      .groupBy("c_id", "pos")
      .agg(sum("col").as("sv"), count(lit(1)).as("cnt"))
      .withColumn("m", floor(col("sv").cast("double") / col("cnt")).cast("long"))
      .groupBy("c_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("c_id"),
              transform(col("pm"), x => x.getField("m")).as("cq"))
      .withColumn("cn", VectorOps.intNormSq(col("cq")))
      .filter(col("cn") > 0)
  }

  /** Test seam: the quantized frame for a testdata dir. */
  private[queries] def quantizedFrame(s: SparkSession, dir: String): DataFrame =
    quantized(s, dir)

  // ───── hierarchical (two-level) cell quantizer ─────────────────────────
  //
  // The semantic pair stages hold CELL SIZE constant (cellCap ∝ n,
  // DedupQueries.semanticCellCap), which keeps pair work linear — but a
  // FLAT quantizer then pays an n·k assignment (k = n/SemTargetCell ⇒
  // O(n²/200)): the one superlinear stage left in the semantic family
  // (round-18 VERDICT item 1, measured 25× cost at 100× data). The fix is
  // the standard two-level IVF route: a small COARSE quantizer (≈ √cap
  // cells, hard-capped at MaxCents) routes each vector to a coarse cell,
  // and per-coarse-cell FINE quantizers (sized so total fine cells ≈ cap,
  // per-cell occupancy ≈ n/cap) split each coarse cell. Assignment work
  // per vector drops from k dot products to C + cap/C ≈ 2√cap, i.e.
  // total O(n·√(n/200)) with KB-scale broadcasts at every level — the
  // deployment path previously documented (but unbuilt) at
  // DedupQueries.semanticCellCap.
  //
  // Regimes and oracles: for cap ≤ MaxCents this is EXACTLY the flat
  // (ivfTrain + ivfAssign1) chain — every production semantic gate runs
  // flat at fixture scale, so their derived-cap oracles (ivfCteDerived)
  // replay them unchanged. The hierarchical math itself is oracle-gated
  // by q_cell_assign_hier, which FORCES cap > MaxCents at fixture scale
  // and replays the full two-level derivation in SQL (hierCte). Beyond
  // MaxCents·SemTargetCell vectors the production gates take the
  // hierarchical path, whose derivation is exactly the one that gate
  // pins — DuckDB cannot execute those corpus sizes either way.

  /** Coarse-level cell count for a hierarchical pass: `√cap` balances
    * the two assignment legs (C + cap/C minimized at C = √cap), floored
    * at 16 so tiny over-MaxCents caps still get a real routing level and
    * hard-capped at MaxCents — the same broadcast/driver bound the ANN
    * surface pins ([[MaxCents]] scaladoc). */
  private[queries] def hierCoarseCap(cap: Long): Long =
    math.max(16L, math.min(MaxCents,
      math.ceil(math.sqrt(cap.toDouble)).toLong))

  /** A trained cell quantizer: flat (`cents` only) for `cap ≤ MaxCents`,
    * two-level (`coarse` + per-coarse-cell `fine` table) beyond. Both
    * shapes assign any frame via [[assignCells]] with broadcast-only
    * joins — nothing n·k is ever materialized. `fine` rows are
    * `(cc, f_id, fq, fn)`: coarse cell id, fine id within the cell
    * (dense from 0), trained centroid, squared norm. */
  private[graft] final case class CellQuantizer(
      cap: Long,
      cents: Option[DataFrame],
      coarse: Option[DataFrame],
      fine: Option[DataFrame])

  /** Global fine cell id: `cc · cap + f_id` — unique because
    * `f_id < cap` by construction. Id-space contract: coarse ids are
    * seed vec_ids, so callers need `max(vec_id) < Long.MaxValue / cap`
    * (9.2·10¹⁸ / cap — astronomically clear of any real corpus). */
  private def hierCellId(cap: Long, cc: Column, f: Column): Column =
    cc * lit(cap) + f

  /** One-row-per-coarse-cell flattening of the fine table — the
    * second-level analogue of [[centsFlat]], broadcast for the
    * per-cell argmax. Total payload ≈ cap·(dim+2) longs, the same
    * bound the flat derived-cap broadcast already carried. */
  private def fineFlat(fine: DataFrame): DataFrame =
    fine.groupBy(col("cc"))
      .agg(array_sort(collect_list(struct(col("f_id"), col("fq"),
                                          col("fn")))).as("fc"))
      .select(col("cc").as("__fcc"),
              transform(col("fc"), x => x.getField("f_id")).as("__fids"),
              flatten(transform(col("fc"), x => x.getField("fq")))
                .as("__fqs"),
              transform(col("fc"), x => x.getField("fn")).as("__fns"))

  /** Fine-table broadcast ceiling for [[assignCells]]' hierarchical
    * regime, in FINE CELLS: the broadcast payload is ≈ cap·(dim+2)
    * longs (round-19 VERDICT missing #1 — GBs once cap reaches the
    * 10⁶–10⁷ cells a 10⁹-vector corpus derives). At the 2¹⁸ default
    * that is ~138 MB for dim-64 vectors — comfortably broadcastable;
    * beyond it [[assignCells]] switches to a SHUFFLE equi-join on the
    * coarse cell (the per-coarse-cell fine matrices distribute instead
    * of shipping whole to every executor — nothing corpus-scale is
    * ever broadcast). A deployment with fat vectors passes
    * `fineBroadcast = Some(false)` below its own payload math. */
  private[queries] val FineBroadcastMaxCells = 1L << 18

  /** Append the quantizer's cell id to `df` as `c_id` — nothing
    * corpus-scale ever ships: flat regime = one crossJoin of the
    * one-row centroid matrix; hier = the same for the coarse level,
    * then the fine argmax joined on the coarse cell — broadcast below
    * [[FineBroadcastMaxCells]], sort-merge beyond (or as forced by
    * `fineBroadcast`). The SAME code assigns a 10⁹-row corpus or a
    * 10³-row streaming micro-batch. A coarse cell whose fine centroids
    * all degenerated to zero norm (dropped in training, like the flat
    * path's `cn > 0` filter) falls back to fine id 0 — the row keeps A
    * cell rather than silently vanishing from an inner join. */
  private[graft] def assignCells(df: DataFrame, qz: CellQuantizer,
                                 qCol: String = "q",
                                 fineBroadcast: Option[Boolean] = None)
      : DataFrame = qz match {
    case CellQuantizer(_, Some(cents), _, _) =>
      df.crossJoin(broadcast(centsFlat(cents)))
        .withColumn("c_id",
          element_at(col("cids"),
            VectorOps.ivfNearest(col(qCol), col("cqs"), col("cns")) + 1))
        .drop("cids", "cqs", "cns")
    case CellQuantizer(cap, _, Some(coarse), Some(fine)) =>
      // regime: broadcast the flattened fine table while it fits
      // ([[FineBroadcastMaxCells]]); beyond, a sort-merge equi-join on
      // the coarse cell — each df row meets exactly its cell's fine
      // matrix, shuffled once, never broadcast (the `merge` hint also
      // stops Catalyst from auto-broadcasting a small-at-fixture-scale
      // fine side, so the forced-regime gate plan-asserts honestly)
      val useBcast = fineBroadcast.getOrElse(cap <= FineBroadcastMaxCells)
      val fineSide =
        if (useBcast) broadcast(fineFlat(fine))
        else fineFlat(fine).hint("merge")
      df.crossJoin(broadcast(centsFlat(coarse)))
        .withColumn("__cc",
          element_at(col("cids"),
            VectorOps.ivfNearest(col(qCol), col("cqs"), col("cns")) + 1))
        .drop("cids", "cqs", "cns")
        .join(fineSide, col("__cc") === col("__fcc"), "left")
        .withColumn("c_id",
          hierCellId(cap, col("__cc"),
            coalesce(
              element_at(col("__fids"),
                VectorOps.ivfNearest(col(qCol), col("__fqs"), col("__fns"))
                  + 1),
              lit(0L))))
        .drop("__cc", "__fcc", "__fids", "__fqs", "__fns")
    case _ => throw new IllegalStateException("malformed CellQuantizer")
  }

  /** Train a cell quantizer over a quantized `(vec_id, q, …)` frame.
    * `cap ≤ MaxCents` → the flat [[ivfTrain]] chain (byte-identical to
    * the pre-hierarchical path — the regime every fixture-scale oracle
    * replays). Beyond: coarse [[ivfTrain]] at [[hierCoarseCap]] cells,
    * then per-coarse-cell fine training — seeds every
    * `⌈n_c/⌈n_c/⌈n/cap⌉⌉⌉`-th member in vec_id rank order (dense fine
    * ids fall out of the stride draw: `f_id = r0 div stride`), one
    * Lloyd floor-mean iteration within the cell, zero-norm fine cells
    * dropped. Every constant is derived relationally (count aggregates
    * broadcast back over the frame), so the chain stays lazy and the
    * q_cell_assign_hier oracle replays each step closed-form.
    *
    * Scale notes: the rank window partitions by coarse cell — n/C rows
    * per partition (≤ a few hundred thousand at any derived cap; a
    * deployment with pathological skew salts the window's cell key).
    * Both centroid artifacts are `localCheckpoint`ed: ≤ C + cap compact
    * rows, re-read by every consumer assignment. */
  private[graft] def trainCellQuantizer(e: DataFrame,
                                        cap: Long): CellQuantizer = {
    if (cap <= MaxCents) {
      CellQuantizer(cap, Some(ivfTrain(e, cap).localCheckpoint()),
                    None, None)
    } else {
      val coarse = ivfTrain(e, hierCoarseCap(cap)).localCheckpoint()
      val m = checkpointCompact(
        assignCells(e.select(col("vec_id"), col("q")),
                    CellQuantizer(cap, Some(coarse), None, None))
          .select(col("vec_id"), col("c_id").as("cc"), col("q")))
      val wCell = Window.partitionBy("cc").orderBy("vec_id")
      val ranked = m.withColumn(
        "r0", (row_number().over(wCell) - 1).cast("long"))
      // per-cell fine plan: target occupancy t = ⌈n/cap⌉, fine cells
      // fcap = ⌈n_c/t⌉ (proportional allocation, Σ fcap ≈ cap), seed
      // stride fs = ⌈n_c/fcap⌉ — all integer-exact in doubles (< 2⁵³)
      val nRow = m.agg(count(lit(1)).as("__n"))
      val plan = m.groupBy("cc").agg(count(lit(1)).as("n_c"))
        .crossJoin(broadcast(nRow))
        .withColumn("t", ceil(col("__n").cast("double") / cap.toDouble)
                           .cast("long"))
        .withColumn("fcap", ceil(col("n_c").cast("double") /
                                 col("t").cast("double")).cast("long"))
        .withColumn("fs", ceil(col("n_c").cast("double") /
                               col("fcap").cast("double")).cast("long"))
        .select("cc", "fs")
      val seeds = ranked.join(broadcast(plan), "cc")
        .filter(col("r0") % col("fs") === 0)
        .select(col("cc"), expr("r0 div fs").as("f_id"),
                col("q").as("fq"), VectorOps.intNormSq(col("q")).as("fn"))
      // the seed table has exactly the fine `(cc, f_id, fq, fn)` shape,
      // so the SAME flattening serves both Lloyd legs — one statement,
      // no way for the seed-assign and final-assign layouts to drift
      val seedsFlat = fineFlat(seeds)
      val fine = m.join(broadcast(seedsFlat), col("cc") === col("__fcc"))
        .select(col("cc"),
                element_at(col("__fids"),
                  VectorOps.ivfNearest(col("q"), col("__fqs"), col("__fns"))
                    + 1).as("f_id"),
                posexplode(col("q")))
        .groupBy("cc", "f_id", "pos")
        .agg(sum("col").as("sv"), count(lit(1)).as("cnt"))
        .withColumn("mv", floor(col("sv").cast("double") / col("cnt"))
                            .cast("long"))
        .groupBy("cc", "f_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("mv"))))
               .as("pm"))
        .select(col("cc"), col("f_id"),
                transform(col("pm"), x => x.getField("mv")).as("fq"))
        .withColumn("fn", VectorOps.intNormSq(col("fq")))
        .filter(col("fn") > 0)
        .localCheckpoint()
      CellQuantizer(cap, None, Some(coarse), Some(fine))
    }
  }


  /** Cell cap for [[qCellAssignHier]] — deliberately ABOVE [[MaxCents]]
    * so the gate forces the hierarchical regime at fixture scale, where
    * DuckDB can replay the whole two-level derivation. */
  private[queries] val HierGateCap = 320L

  /** The two-level derivation as CTEs ending in `hcell(vec_id, cell)`,
    * parameterized for BOTH oracle shapes: the forced-regime gate
    * ([[qCellAssignHier]] — literal `capSql`/`ccapSql`) and the
    * dual-regime derived chain ([[dualCellCtes]] — scalar subqueries
    * over `capc`). Coarse level = [[ivfChainOn]] at `ccapSql` cells
    * (prefix "c"; stride floor `LEAST(CentStride, ccap)` — exactly
    * [[ivfSeeds]]' floor), then the fine plan/seed/train/assign CTEs
    * mirror [[trainCellQuantizer]] step for step: rank-stride seeds
    * with dense `f_id = r0 div fs`, one floor-mean Lloyd iteration per
    * coarse cell, zero-norm fine cells dropped, and the
    * [[assignCells]] fallback (`COALESCE(f, 0)`) for a coarse cell
    * whose fine centroids all degenerated. */
  private[queries] def hierChainOn(train: String, capSql: String,
                                   ccapSql: String): String =
    s"""${ivfChainOn(train, ccapSql,
                     s"LEAST($CentStride, $ccapSql)", "hc")},
      |mh AS (
      |  SELECT ce.vec_id, ce.cell AS cc, t0.q,
      |         ROW_NUMBER() OVER (PARTITION BY ce.cell
      |                            ORDER BY ce.vec_id ASC) - 1 AS r0
      |  FROM hccell ce JOIN $train t0 ON t0.vec_id = ce.vec_id
      |),
      |hplan AS (
      |  SELECT cc,
      |         CAST(CEIL(COUNT(*) / CAST(
      |           CEIL((SELECT COUNT(*) FROM mh) / CAST($capSql AS DOUBLE))
      |           AS DOUBLE)) AS BIGINT) AS fcap,
      |         COUNT(*) AS n_c
      |  FROM mh GROUP BY cc
      |),
      |hstr AS (
      |  SELECT cc, CAST(CEIL(n_c / CAST(fcap AS DOUBLE)) AS BIGINT) AS fs
      |  FROM hplan
      |),
      |hseed AS (
      |  SELECT m.cc, m.r0 // s.fs AS f_id, m.q AS fq,
      |         CAST(list_sum(list_transform(m.q, x -> x * x)) AS BIGINT)
      |           AS fn
      |  FROM mh m JOIN hstr s ON s.cc = m.cc
      |  WHERE m.r0 % s.fs = 0
      |),
      |hrk0 AS (
      |  SELECT m.vec_id, m.cc, f.f_id,
      |         ROW_NUMBER() OVER (
      |           PARTITION BY m.vec_id
      |           ORDER BY CAST(list_sum(list_transform(generate_series(1, len(m.q)),
      |                            i -> m.q[i] * f.fq[i])) AS BIGINT)
      |                    / sqrt(CAST(f.fn AS DOUBLE)) DESC,
      |                    f.f_id ASC) AS crn
      |  FROM mh m JOIN hseed f ON f.cc = m.cc
      |),
      |hmem AS (
      |  SELECT a.cc, a.f_id,
      |         unnest(generate_series(1, len(m.q))) AS pos,
      |         unnest(m.q) AS v
      |  FROM (SELECT vec_id, cc, f_id FROM hrk0 WHERE crn = 1) a
      |  JOIN mh m ON m.vec_id = a.vec_id
      |),
      |htc AS (
      |  SELECT cc, f_id,
      |         list(CAST(FLOOR(CAST(sv AS DOUBLE) / cnt) AS BIGINT)
      |              ORDER BY pos) AS fq
      |  FROM (SELECT cc, f_id, pos, CAST(SUM(v) AS BIGINT) AS sv,
      |               COUNT(*) AS cnt
      |        FROM hmem GROUP BY cc, f_id, pos)
      |  GROUP BY cc, f_id
      |),
      |hcents AS (
      |  SELECT cc, f_id, fq,
      |         CAST(list_sum(list_transform(fq, x -> x * x)) AS BIGINT) AS fn
      |  FROM htc
      |  WHERE CAST(list_sum(list_transform(fq, x -> x * x)) AS BIGINT) > 0
      |),
      |hrk AS (
      |  SELECT m.vec_id, f.f_id,
      |         ROW_NUMBER() OVER (
      |           PARTITION BY m.vec_id
      |           ORDER BY CAST(list_sum(list_transform(generate_series(1, len(m.q)),
      |                            i -> m.q[i] * f.fq[i])) AS BIGINT)
      |                    / sqrt(CAST(f.fn AS DOUBLE)) DESC,
      |                    f.f_id ASC) AS crn
      |  FROM mh m JOIN hcents f ON f.cc = m.cc
      |),
      |hcell AS (
      |  SELECT m.vec_id, m.cc * $capSql + COALESCE(a.f_id, 0) AS cell
      |  FROM mh m
      |  LEFT JOIN (SELECT vec_id, f_id FROM hrk WHERE crn = 1) a
      |    ON a.vec_id = m.vec_id
      |)""".stripMargin

  /** The DUAL-REGIME cell assignment: flat chain (prefix "f") AND
    * hierarchical chain in one statement, the final `cell` CTE
    * selecting whichever regime the derived `capc` cap picks — so the
    * derived-cap oracles replay the Scala path at ANY corpus size a
    * SQL engine can execute, including the 51 200..10⁶-vector band
    * where the cap exceeds MaxCents but DuckDB still runs (the
    * round-19 review finding: a flat-only replay would false-fail
    * there). At fixture scale the union's hier branch computes a
    * small discarded result (cap = MaxCents ⇒ flat wins); its SQL is
    * the SAME builder the forced-cap [[qCellAssignHier]] gate
    * hash-verifies. */
  private[queries] def dualCellCtes(train: String): String = {
    val capd = "(SELECT cap FROM capc)"
    val ccap = s"(SELECT GREATEST(16, LEAST($MaxCents, " +
      "CAST(CEIL(SQRT(cap)) AS BIGINT))) FROM capc)"
    s"""${ivfChainOn(train, capd, CentStride.toString, "f")},
      |${hierChainOn(train, capd, ccap)},
      |cell AS MATERIALIZED (
      |  SELECT vec_id, cell FROM fcell WHERE $capd <= $MaxCents
      |  UNION ALL
      |  SELECT vec_id, cell FROM hcell WHERE $capd > $MaxCents
      |)""".stripMargin
  }

  /**
   * The HIERARCHICAL assignment itself behind the oracle gate, FORCED
   * into the two-level regime ([[HierGateCap]] > MaxCents) at fixture
   * scale: every vector's final cell id `cc·cap + f_id` from the
   * coarse-route → fine-argmax chain, with the whole derivation —
   * coarse seeding/training at `√cap` cells, per-cell proportional
   * fine allocation, the rank-stride seed draw, the in-cell Lloyd
   * iteration, the degenerate-cell fallback — replayed closed-form by
   * DuckDB ([[hierCte]]). The production semantic gates run this path
   * only beyond MaxCents·SemTargetCell vectors (where no SQL engine
   * replays anything); this gate is what pins that regime's math at a
   * size the oracle CAN execute, exactly the byte-BPE roundtrip gate's
   * proof-by-small-instance discipline.
   */
  val qCellAssignHier = Q(
    "q_cell_assign_hier",
    (s, dir) =>
      // the two hier-regime gates consume the SAME HierGateCap training
      // (round 22): this face re-trained per call what q_cell_assign_
      // stored's layout memo already holds — one two-level training
      // (coarse Lloyd loop + per-cell fine training) per process now
      // serves both, the gateQuantizer/sharedIvfCents discipline. The
      // faces stay distinct where their contracts differ: this one
      // keeps the BROADCAST fine join (auto regime), the stored gate
      // forces the shuffle join; training is deterministic in (code,
      // input) and the shared oracle replays the whole derivation, so
      // the memo cannot mask a regression.
      assignCells(quantized(s, dir).select(col("vec_id"), col("q")),
                  quantizerFromLayout(s, hierQuantizerLayout(s, dir),
                                      HierGateCap))
        .select(col("vec_id"), col("c_id").as("cell")),
    Some(s"""$quantCte,
      |${hierChainOn("e", HierGateCap.toString,
                     hierCoarseCap(HierGateCap).toString)}
      |SELECT vec_id, cell FROM hcell""".stripMargin)
  )

  /** Persist a HIERARCHICAL quantizer as a committed physical layout:
    * the coarse centroid table whole (≤ MaxCents rows), the fine table
    * PARTITIONED BY COARSE CELL (`<outDir>/fine/cc=<id>/` — ≤ MaxCents
    * directories, the bounded-directory discipline holds for free).
    * This is the assignment substrate past the [[FineBroadcastMaxCells]]
    * ceiling (round-19 VERDICT missing #1): a 10⁹-vector corpus derives
    * ~10⁶–10⁷ fine cells, whose matrices no longer broadcast — stored
    * cc-partitioned, assignment reads them back as a distributed scan
    * and [[assignCells]]' shuffle regime equi-joins on the coarse cell,
    * while a STREAM micro-batch's read prunes to its arrivals' coarse
    * partitions. Committed via AtomicPublish: built once, probed by
    * every later batch — the [[writeIvfLayout]] pay-once contract
    * applied to the quantizer itself. */
  def writeQuantizerLayout(s: SparkSession, qz: CellQuantizer,
                           outDir: String): Unit = qz match {
    case CellQuantizer(_, _, Some(coarse), Some(fine)) =>
      coarse.write.mode("overwrite").parquet(s"$outDir/coarse")
      fine.repartition(col("cc"))
        .write.mode("overwrite").partitionBy("cc").parquet(s"$outDir/fine")
      graft.sources.AtomicPublish.commit(s, outDir)
    case _ => throw new IllegalArgumentException(
      "writeQuantizerLayout persists the hierarchical regime only — " +
        "a flat quantizer's centroid table broadcasts by construction")
  }

  /** Reconstruct a [[CellQuantizer]] from a committed
    * [[writeQuantizerLayout]] artifact. `cc` returns as a partition
    * column — cast back to long so the assignment join key and
    * [[hierCellId]] arithmetic see the build's exact type. */
  def quantizerFromLayout(s: SparkSession, outDir: String,
                          cap: Long): CellQuantizer =
    CellQuantizer(
      cap, None,
      Some(graft.sources.AtomicPublish.readCommitted(s, outDir, "coarse")),
      Some(graft.sources.AtomicPublish.readCommitted(s, outDir, "fine")
             .withColumn("cc", col("cc").cast("long"))))

  /** The committed HierGateCap quantizer layout for a testdata dir,
    * trained AT MOST ONCE per process ([[LayoutQueries.memo]]) — shared
    * by [[qCellAssignHier]] (broadcast fine join) and
    * [[qCellAssignStored]] (forced shuffle fine join): both faces assign
    * against the IDENTICAL trained artifact, differing only in the join
    * regime their contracts pin. */
  private[queries] def hierQuantizerLayout(s: SparkSession,
                                           dir: String): String =
    LayoutQueries.memo(s, dir, "quantizer-layout") { out =>
      writeQuantizerLayout(
        s, trainCellQuantizer(quantized(s, dir), HierGateCap), out)
    }

  /**
   * LAYOUT-BACKED cell assignment behind the driver gate — the
   * [[qCellAssignHier]] math with BOTH scale substitutions a
   * beyond-broadcast corpus needs: the fine table read from the
   * committed cc-partitioned layout ([[writeQuantizerLayout]] under
   * [[LayoutQueries.memo]]) instead of held in memory, and the fine
   * argmax joined by SHUFFLE ([[assignCells]] `fineBroadcast = false` —
   * the regime a cap past [[FineBroadcastMaxCells]] selects
   * automatically) instead of broadcast. Forced at fixture scale
   * exactly like the hier gate forces two-level training: same
   * quantizer cap ([[HierGateCap]]), same derivation, so the oracle is
   * [[qCellAssignHier]]'s VERBATIM — any drift between the stored fine
   * table and the in-memory one, or between the shuffle and broadcast
   * join results, hash-mismatches here. `HierQuantizerSpec` keeps
   * the plan-level assert this row can't express (no broadcast on the
   * fine join; the layout scan feeds it).
   */
  val qCellAssignStored = Q(
    "q_cell_assign_stored",
    (s, dir) =>
      assignCells(quantized(s, dir).select(col("vec_id"), col("q")),
                  quantizerFromLayout(s, hierQuantizerLayout(s, dir),
                                      HierGateCap),
                  fineBroadcast = Some(false))
        .select(col("vec_id"), col("c_id").as("cell")),
    qCellAssignHier.oracle
  )

  /** Shared DuckDB replay of the full IVF training chain — capped stride
    * seeding through trained-cell assignment — referenced by
    * `q_sim_search_ivf`, `q_ivf_probe`, AND (via the parameterized
    * [[ivfCteOn]]) `q_ivf_append`, so the gates can never drift on
    * training semantics (the `dedupedKeptCte` discipline).
    * Defines: `e` (quantized), `st` (capped stride), `cents0` (seeds),
    * `cents` (trained centroids), `rk` (per-vector centroid ranking),
    * `cell` (nearest trained cell per vector). */
  private[queries] val ivfCte: String = ivfCteOn("e")

  /** [[ivfCte]] with the centroid cap DERIVED from the corpus count in
    * SQL — `GREATEST(MaxCents, ⌈n/SemTargetCell⌉)`, the exact
    * closed-form [[graft.queries.DedupQueries.semanticCellCap]]
    * computes (round-17 VERDICT #3: the fixed-cap CTE made the gates
    * refuse past MaxCents·SemTargetCell = 51 200 vectors; this removed
    * the bound instead of guarding it) — and, since round 19, the
    * assignment replay is DUAL-REGIME ([[dualCellCtes]]): the `cell`
    * CTE switches between the flat chain and the hierarchical chain on
    * the same cap comparison [[trainCellQuantizer]] makes, so the
    * oracle mirrors the Scala path at ANY corpus size a SQL engine can
    * execute — including past the 51 200-vector boundary where the
    * Scala side goes two-level. The ANN search gates keep the
    * fixed-cap [[ivfCte]]: their contract is a bounded probe-time
    * collect, not bounded pair work. */
  private[queries] val capcCte: String = s"""
      |capc AS (
      |  SELECT GREATEST($MaxCents,
      |                  CAST(CEIL(COUNT(*) / $SemTargetCell.0)
      |                       AS BIGINT)) AS cap
      |  FROM e
      |),""".stripMargin

  private[queries] def ivfCteDerived: String =
    s"""$quantCte,$capcCte
      |${dualCellCtes("e")}""".stripMargin

  /** Sentinel: derive the cell cap from the corpus count at call time
    * ([[resolveCap]]) — the library default for the whole graph/cluster
    * family, so cells hold ~SemTargetCell members at ANY corpus size
    * (fixed MaxCents cells meant per-cell pair work grew n²/256 — the
    * round-18 q_semantic_clusters 25×-at-100× soak row). */
  private[queries] val DeriveCap = 0L

  /** Resolve a caller cap: explicit wins; [[DeriveCap]] counts the
    * frame (one metadata-cheap action — gates skip it by passing
    * [[graft.queries.DedupQueries.gateCellCap]]'s raw-table count). */
  private[queries] def resolveCap(e: DataFrame, cap: Long): Long =
    if (cap > 0) cap else DedupQueries.semanticCellCap(e.count())

  /** [[ivfCte]] with the TRAINING side parameterized: stride, seeds, and
    * the Lloyd floor-mean read `$train` (a CTE the caller prepends —
    * e.g. the build half of an incremental layout), while the final
    * `rk`/`cell` assignment still ranks EVERY vector of `e` against the
    * trained centroids. With `train = "e"` this is exactly the original
    * full-corpus chain; with a subset it replays build-then-append:
    * frozen centroids from the build half, all vectors assigned to
    * them — which is precisely what [[appendToIvfLayout]] materializes. */
  private[queries] def ivfCteOn(train: String, extra: String = "",
                                capSql: String = MaxCents.toString,
                                strideFloor: String =
                                  CentStride.toString): String =
    s"""$quantCte,$extra
      |${ivfChainOn(train, capSql, strideFloor, "")}"""

  /** The seed→train→assign chain of [[ivfCteOn]] WITHOUT the quant
    * prologue, every CTE name prefixed with `p` — so the dual-regime
    * derived oracle can carry the flat chain ("f") and the
    * hierarchical coarse chain ("c") in ONE statement without name
    * collisions. `p = ""` is byte-identical to the historical text. */
  private[queries] def ivfChainOn(train: String, capSql: String,
                                  strideFloor: String,
                                  p: String): String =
    s"""${p}st AS (
      |  SELECT GREATEST($strideFloor,
      |                  CAST(CEIL(COUNT(*) / CAST($capSql AS DOUBLE)) AS BIGINT)) AS stride
      |  FROM $train
      |),
      |${p}cents0 AS (
      |  SELECT c_id, cq, cn FROM (
      |    SELECT vec_id AS c_id, q AS cq,
      |           CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS cn,
      |           ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS srn
      |    FROM $train WHERE vec_id % (SELECT stride FROM ${p}st) = 0
      |  ) WHERE srn <= $capSql
      |),
      |${p}rk0 AS (
      |  SELECT t.vec_id, c.c_id,
      |         ROW_NUMBER() OVER (
      |           PARTITION BY t.vec_id
      |           ORDER BY CAST(list_sum(list_transform(generate_series(1, len(t.q)),
      |                            i -> t.q[i] * c.cq[i])) AS BIGINT)
      |                    / sqrt(CAST(c.cn AS DOUBLE)) DESC,
      |                    c.c_id ASC) AS crn
      |  FROM $train t CROSS JOIN ${p}cents0 c
      |),
      |${p}a0 AS (SELECT vec_id, c_id FROM ${p}rk0 WHERE crn = 1),
      |${p}mem AS (
      |  SELECT ${p}a0.c_id, unnest(generate_series(1, len(t.q))) AS pos,
      |         unnest(t.q) AS v
      |  FROM ${p}a0 JOIN $train t ON t.vec_id = ${p}a0.vec_id
      |),
      |${p}tc AS (
      |  SELECT c_id,
      |         list(CAST(FLOOR(CAST(sv AS DOUBLE) / cnt) AS BIGINT)
      |              ORDER BY pos) AS cq
      |  FROM (SELECT c_id, pos, CAST(SUM(v) AS BIGINT) AS sv,
      |               COUNT(*) AS cnt
      |        FROM ${p}mem GROUP BY c_id, pos)
      |  GROUP BY c_id
      |),
      |${p}cents AS (
      |  SELECT c_id, cq,
      |         CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT) AS cn
      |  FROM ${p}tc
      |  WHERE CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT) > 0
      |),
      |${p}rk AS (
      |  SELECT e.vec_id, c.c_id,
      |         ROW_NUMBER() OVER (
      |           PARTITION BY e.vec_id
      |           ORDER BY CAST(list_sum(list_transform(generate_series(1, len(e.q)),
      |                            i -> e.q[i] * c.cq[i])) AS BIGINT)
      |                    / sqrt(CAST(c.cn AS DOUBLE)) DESC,
      |                    c.c_id ASC) AS crn
      |  FROM e CROSS JOIN ${p}cents c
      |),
      |${p}cell AS (SELECT vec_id, c_id AS cell FROM ${p}rk WHERE crn = 1)""".stripMargin

  /**
   * Materialize the trained-IVF index as a physical layout: every vector
   * written under its cell's partition directory
   * (`<outDir>/cells/cell=<c_id>/`), trained centroids alongside
   * (`<outDir>/centroids`). At 100 TB this IS the ANN index — the cell
   * assignment becomes the on-disk bucketing, so a probe touches only
   * its `nprobe` cells' files via partition pruning at the scan
   * (plan-asserted in `SimIvfSpec`), and query cost scales with cell
   * size regardless of corpus size.
   */
  def writeIvfLayout(s: SparkSession, dir: String, outDir: String): Unit =
    writeIvfLayoutOf(quantized(s, dir), outDir,
                     cents0 = Some(sharedIvfCents(s, dir)))

  /** [[writeIvfLayout]] over an ARBITRARY quantized `(vec_id, label, q)`
    * frame — the build step of an incremental layout
    * ([[appendToIvfLayout]]) and any non-testdata caller. */
  def writeIvfLayoutOf(e: DataFrame, outDir: String,
                       cents0: Option[DataFrame] = None): Unit = {
    // feeds assign AND the write; a caller holding the shared
    // per-process artifact passes it instead of re-training
    val cents = cents0.getOrElse(ivfTrain(e).localCheckpoint())
    val cells = ivfAssign1(e, cents)
      .select(col("vec_id").as("cell_vid"), col("c_id").as("cell"))
    e.join(cells, col("vec_id") === col("cell_vid"))
      .select(col("vec_id"), col("label"), col("q"), col("cell"))
      // cluster rows by the partition column before the partitioned
      // write — same rationale as LayoutQueries.eventsByDay
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$outDir/cells")
    cents.write.mode("overwrite").parquet(s"$outDir/centroids")
    // atomic publish: probes/appends read only this committed snapshot
    graft.sources.AtomicPublish.commit(e.sparkSession, outDir)
  }

  /**
   * INCREMENTAL layout maintenance: assign new vectors to the EXISTING
   * trained cells (the stored centroid table is the frozen coarse
   * quantizer — no retrain) and append them under their cells'
   * partition directories. This is how a production IVF index absorbs
   * a growing corpus between rebuilds, and the ANN twin of
   * [[graft.queries.DedupQueries.dedupAgainstIndex]]'s continuous-ingest
   * form: the expensive artifact (trained centroids + cell bucketing)
   * is reused; per-batch cost is one n_new·k broadcast assignment pass
   * plus a partitioned append — never a corpus rescan.
   *
   * Freshness contract: frozen centroids stop tracking the data as the
   * appended distribution drifts — probe recall decays monotonically
   * with drift. [[ivfStaleness]] is the rebuild trigger: compare the
   * post-append per-cell mean cosine distance against the build-time
   * snapshot and rebuild when it degrades past the deployment's
   * tolerance.
   *
   * @param newVecs quantized `(vec_id, label, q)` rows; vec_ids disjoint
   *                from the layout's (the caller's contract, exactly as
   *                in `dedupAgainstIndex`)
   */
  def appendToIvfLayout(s: SparkSession, layoutDir: String,
                        newVecs: DataFrame): Unit = {
    val cents = graft.sources.AtomicPublish
      .readCommitted(s, layoutDir, "centroids")
    val cells = ivfAssign1(newVecs, cents)
      .select(col("vec_id").as("cell_vid"), col("c_id").as("cell"))
    newVecs.join(cells, col("vec_id") === col("cell_vid"))
      .select(col("vec_id"), col("label"), col("q"), col("cell"))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$layoutDir/cells")
    // publish the grown snapshot; a crash before this line leaves the
    // appended files invisible to every committed read — torn appends
    // cannot be served (round-16 VERDICT #3)
    graft.sources.AtomicPublish.commit(s, layoutDir)
  }

  /**
   * The staleness metric for an incrementally-maintained layout: per
   * cell, the member count and the mean cosine DISTANCE (1 − cos) of
   * members to their frozen centroid. Appending in-distribution data
   * leaves it flat; drift raises it — the signal that the frozen
   * quantizer no longer matches the data and the layout needs a
   * rebuild ([[writeIvfLayoutOf]]). One broadcast join + one
   * aggregation over the cells scan; zero-norm members carry a null
   * distance (no direction, excluded from the mean by `avg`).
   */
  def ivfStaleness(s: SparkSession, layoutDir: String): DataFrame = {
    val cents = graft.sources.AtomicPublish
      .readCommitted(s, layoutDir, "centroids")
      .select(col("c_id"), col("cq"), col("cn"))
    graft.sources.AtomicPublish.readCommitted(s, layoutDir, "cells")
      .join(broadcast(cents), col("cell") === col("c_id"))
      .withColumn("qn", VectorOps.intNormSq(col("q")))
      .withColumn(
        "cos_dist",
        when(col("qn") > 0,
             lit(1.0) - VectorOps.intDot(col("q"), col("cq")).cast("double") /
               (sqrt(col("qn").cast("double")) * sqrt(col("cn").cast("double")))))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
           avg(col("cos_dist")).as("mean_cos_dist"))
  }

  /**
   * Top-k ANN over a materialized IVF layout for one external query
   * vector (already quantized). Cell choice runs on the DRIVER over the
   * stored centroid table — at most `MaxCents` rows by the [[ivfSeeds]]
   * hard cap, so the collect is bounded O(MaxCents·dim) at any corpus
   * size (the same data movement a broadcast would ship, with zero
   * jobs) — and the cell scan carries a `cell IN (...)` filter that
   * prunes to the probed partitions. Ranking is a
   * TakeOrderedAndProject (never a global sort).
   */
  def probeIvfLayout(s: SparkSession, layoutDir: String, queryVec: Seq[Long],
                     topK: Int = TopK, nProbe: Int = NProbe,
                     excludeVecId: Option[Long] = None): DataFrame = {
    val probeCells = graft.sources.AtomicPublish
      .readCommitted(s, layoutDir, "centroids").collect()
      .map { r =>
        val cq = r.getAs[scala.collection.Seq[Long]]("cq")
        val dot = cq.iterator.zip(queryVec.iterator).map { case (a, b) => a * b }.sum
        val key = dot.toDouble / math.sqrt(r.getAs[Long]("cn").toDouble)
        (key, r.getAs[Long]("c_id"))
      }
      .sortBy { case (key, cid) => (-key, cid) }
      .take(nProbe).map(_._2)
    graft.sources.AtomicPublish.readCommitted(s, layoutDir, "cells")
      .filter(col("cell").isin(probeCells: _*))
      .filter(excludeVecId.map(id => col("vec_id") =!= id).getOrElse(lit(true)))
      .withColumn("dot", VectorOps.intDot(col("q"), typedLit(queryVec)))
      .orderBy(col("dot").desc, col("vec_id").asc)
      .limit(topK)
      .select("vec_id", "dot")
  }

  /** Top-k ANN over a materialized IVF layout for a BATCH of query
    * vectors `(q_id, qq)` — the per-micro-batch body of the streaming
    * layout-probe regime (round-19 VERDICT missing #2): each query
    * routes to its nearest stored cell against the ≤ MaxCents centroid
    * broadcast (the [[ivfAssign1]] codegen'd argmax), the batch's
    * DISTINCT cells are collected (≤ MaxCents values — bounded at any
    * corpus or batch size), and the cell scan carries a
    * `cell IN (...)` partition filter so only the ARRIVING cells' files
    * are read — query cost scales with (batch size × cell size), never
    * corpus size, and NOTHING corpus-scale is broadcast or rebuilt per
    * batch (the broadcast faces rebuild the whole member index per
    * plan — their documented ~10⁸-vector ceiling). Ranking is a
    * per-query rank window over the probed cells only (nprobe = 1, the
    * [[graft.queries.StreamingQueries]] ingest contract). */
  def probeIvfLayoutBatch(s: SparkSession, layoutDir: String,
                          batch: DataFrame,
                          topK: Int = TopK): DataFrame = {
    val cents = graft.sources.AtomicPublish
      .readCommitted(s, layoutDir, "centroids")
    val routed = batch.crossJoin(broadcast(centsFlat(cents)))
      .select(col("q_id"), col("qq"),
              element_at(col("cids"),
                VectorOps.ivfNearest(col("qq"), col("cqs"), col("cns")) + 1)
                .as("cell"))
    // ≤ MaxCents distinct values by the centroid cap — a bounded
    // driver collect, the same data a broadcast of the probe set would
    // ship, folded into the scan's partition filter instead
    val cells = routed.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val wRank = Window.partitionBy("q_id")
      .orderBy(col("dot").desc, col("vec_id").asc)
    routed.join(
        graft.sources.AtomicPublish.readCommitted(s, layoutDir, "cells")
          .filter(col("cell").isin(cells: _*)),
        Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dot", VectorOps.intDot(col("qq"), col("q")))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= topK)
      .select("q_id", "vec_id", "dot", "rnk")
  }

  /** IVF-style ANN with a TRAINED coarse quantizer: stride-sampled seed
    * centroids, one relational Lloyd iteration (every vector assigned to
    * its nearest seed, each cell's new centroid = per-dimension
    * floor-mean of its members — all integer/exact-double arithmetic, so
    * the oracle replays it bit-for-bit), then the standard IVF shape
    * over the trained centroids: every vector assigned to its nearest
    * trained cell, queries probe their `NProbe` nearest cells, and exact
    * integer-dot ranking runs inside the probed cells only. THE scale
    * path beyond `q_sim_search_lsh`: k is stride-seeded but HARD-CAPPED
    * at `MaxCents` ([[ivfSeeds]]), so the centroid broadcast in the n·k
    * assignment pass is O(MaxCents·dim) at ANY corpus size — never the
    * corpus-linear k = n/200 that would turn assignment O(n²/200). Probe
    * cost is ~NProbe·n/k per query, and the cell assignment is exactly
    * what a partitioned ANN layout is bucketed by on disk
    * ([[writeIvfLayout]]). Each Lloyd pass is one n·k broadcast pass +
    * a (cell, dim)-keyed mean — more iterations are the same plan
    * repeated; one already moves centroids from the seed draw to
    * cluster mass.
    *
    * Cell choice ranks by true cosine (dot/√centroid-norm; the vector's
    * own norm cancels within a fixed vec_id partition). The key is an
    * IEEE double — int-exact inputs, one correctly-rounded sqrt and one
    * divide — so DuckDB replays the ordering bit-for-bit; c_id breaks
    * ties. Degenerate trained centroids (all-zero after flooring — a
    * 0/0 cosine) are dropped in both engines. */
  val qSimSearchIvf = Q(
    "q_sim_search_ivf",
    (s, dir) => {
      val e = quantized(s, dir)
      // the per-process parquet-backed centroid artifact: feeds the
      // corpus assignment AND the probe set here, and the PQ/stream-ANN
      // gates re-read the identical table instead of re-training
      val cents = sharedIvfCents(s, dir)
      val cells = ivfAssign1(e, cents)
        .select(col("vec_id").as("cell_vid"), col("c_id").as("cell"))
      val probes = ivfAssign(e.filter(col("vec_id") % 100 === 0), cents)
        .select(col("vec_id").as("q_id"), col("c_id").as("p_cell"))
      val corpus = e.join(cells, col("vec_id") === col("cell_vid"))
        .select(col("vec_id"), col("q"), col("cell"))
      val queries = e.select(col("vec_id").as("qv_id"), col("q").as("qq"))
        .join(probes, col("qv_id") === col("q_id"))
        .select(col("q_id"), col("qq"), col("p_cell"))
      val wRank = Window.partitionBy("q_id")
        .orderBy(col("dot").desc, col("vec_id").asc)
      corpus.join(broadcast(queries),
                  col("cell") === col("p_cell") && col("vec_id") =!= col("q_id"))
        .withColumn("dot", VectorOps.intDot(col("qq"), col("q")))
        .withColumn("rnk", row_number().over(wRank).cast("long"))
        .filter(col("rnk") <= TopK)
        .select("q_id", "vec_id", "dot", "rnk")
    },
    Some(s"""$ivfCte,
      |probes AS (SELECT vec_id AS q_id, c_id AS cell FROM rk
      |           WHERE vec_id % 100 = 0 AND crn <= $NProbe),
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
      |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
      |FROM p
      |QUALIFY rnk <= $TopK""".stripMargin)
  )

  /** Probe target for the gated layout row: vec_id 0 exists at every SF
    * (and in the spec fixtures). */
  private val ProbeVecId = 0L

  /** The IVF PHYSICAL layout behind the driver gate: write the
    * partitioned cell layout + trained centroids, then answer one probe
    * (query vector = vec 0's embedding, itself excluded) THROUGH the
    * layout — driver-side centroid choice over the stored (≤ MaxCents)
    * centroid table, partition-pruned cell scan, TakeOrderedAndProject
    * ranking. The oracle replays trained-centroid ranking + in-cell
    * exact top-k from the shared [[ivfCte]], so a regression in the
    * write's cell bucketing, the probe's cell choice, or the pruning
    * filter all hash-mismatch here. The layout is rewritten each run —
    * the gate always checks the CURRENT code's layout, never a stale
    * cache — and `SimIvfSpec` keeps the plan-level partition-pruning
    * assert this row can't express. */
  val qIvfProbe = Q(
    "q_ivf_probe",
    (s, dir) => {
      import s.implicits._
      val out = LayoutQueries.derivedDir(s, dir, "ivf")
      writeIvfLayout(s, dir, out)
      val qv = quantized(s, dir).filter(col("vec_id") === ProbeVecId)
        .select("q").as[Seq[Long]].head()
      probeIvfLayout(s, out, qv, excludeVecId = Some(ProbeVecId))
    },
    Some(s"""$ivfCte,
      |qv AS (SELECT q AS qq FROM e WHERE vec_id = $ProbeVecId),
      |pc AS (
      |  SELECT c.c_id AS cell FROM cents c CROSS JOIN qv
      |  ORDER BY CAST(list_sum(list_transform(generate_series(1, len(c.cq)),
      |             i -> c.cq[i] * qv.qq[i])) AS BIGINT)
      |           / sqrt(CAST(c.cn AS DOUBLE)) DESC, c.c_id ASC
      |  LIMIT $NProbe
      |),
      |cand AS (
      |  SELECT ce.vec_id,
      |         CAST(list_sum(list_transform(generate_series(1, len(e.q)),
      |                i -> e.q[i] * qv.qq[i])) AS BIGINT) AS dot
      |  FROM cell ce
      |  JOIN pc ON ce.cell = pc.cell
      |  JOIN e ON e.vec_id = ce.vec_id
      |  CROSS JOIN qv
      |  WHERE ce.vec_id <> $ProbeVecId
      |)
      |SELECT vec_id, dot FROM cand
      |QUALIFY row_number() OVER (ORDER BY dot DESC, vec_id ASC) <= $TopK""".stripMargin)
  )

  /**
   * Incremental-maintenance behind the driver gate: build the layout
   * from HALF the corpus (even vec_ids), [[appendToIvfLayout]] the odd
   * half against the frozen build-trained centroids, then answer the
   * standard probe THROUGH the incrementally-grown layout. The oracle
   * replays the same asymmetry via [[ivfCteOn]]: training CTEs read the
   * even half only, the cell assignment ranks EVERY vector against
   * those frozen centroids — so a regression in the append's frozen
   * assignment, the partitioned append itself, or the probe over mixed
   * build+append files all hash-mismatch here.
   */
  val qIvfAppend = Q(
    "q_ivf_append",
    (s, dir) => {
      import s.implicits._
      // derive via the registering seam (NOT string-suffixing the ivf
      // dir): derivedDir is what enrolls the path in scratchDirs, so the
      // incremental layout participates in the JVM-exit cleanup instead
      // of leaking one /tmp tree per iteration (ADVICE r11)
      val out = LayoutQueries.derivedDir(s, dir, "ivf-inc")
      val e = quantized(s, dir)
      writeIvfLayoutOf(e.filter(col("vec_id") % 2 === 0), out)
      appendToIvfLayout(s, out, e.filter(col("vec_id") % 2 =!= 0))
      val qv = e.filter(col("vec_id") === ProbeVecId)
        .select("q").as[Seq[Long]].head()
      probeIvfLayout(s, out, qv, excludeVecId = Some(ProbeVecId))
    },
    Some(s"""${ivfCteOn(
               "eb",
               "\n      |eb AS (SELECT * FROM e WHERE vec_id % 2 = 0),")},
      |qv AS (SELECT q AS qq FROM e WHERE vec_id = $ProbeVecId),
      |pc AS (
      |  SELECT c.c_id AS cell FROM cents c CROSS JOIN qv
      |  ORDER BY CAST(list_sum(list_transform(generate_series(1, len(c.cq)),
      |             i -> c.cq[i] * qv.qq[i])) AS BIGINT)
      |           / sqrt(CAST(c.cn AS DOUBLE)) DESC, c.c_id ASC
      |  LIMIT $NProbe
      |),
      |cand AS (
      |  SELECT ce.vec_id,
      |         CAST(list_sum(list_transform(generate_series(1, len(e.q)),
      |                i -> e.q[i] * qv.qq[i])) AS BIGINT) AS dot
      |  FROM cell ce
      |  JOIN pc ON ce.cell = pc.cell
      |  JOIN e ON e.vec_id = ce.vec_id
      |  CROSS JOIN qv
      |  WHERE ce.vec_id <> $ProbeVecId
      |)
      |SELECT vec_id, dot FROM cand
      |QUALIFY row_number() OVER (ORDER BY dot DESC, vec_id ASC) <= $TopK""".stripMargin)
  )

  /** Neighbors per vector in [[qKnnGraph]]. */
  private[queries] val GraphK = 3

  /**
   * Approximate k-NN GRAPH construction: every vector's `GraphK` nearest
   * cell-mates (integer dot rank, vec_id tiebreak) — the full self-join
   * graph that graph-based curation builds on (mutual-kNN clustering,
   * SemDeDup-style cluster pruning, label propagation over
   * [[graft.operators.ConnectedComponents]]), where [[qSimSearchIvf]]
   * answers external queries for a SAMPLE. nprobe is deliberately 1
   * here: for a corpus-wide graph the cell is the locality unit, and the
   * approximation (cross-cell neighbors missed) is the same recall knob
   * [[graft.queries.DedupQueries.semanticDedup]] documents.
   *
   * Scale shape: the self-join is an equi-join on cell id (never
   * all-pairs; (n/k)·n candidate edges at cap k), the rank window
   * partitions by SOURCE vector — n groups, so it scales out, nothing
   * single-task — and vectors shuffle once to co-locate cells. Isolated
   * vectors (alone in their cell) emit no edges, matching the oracle.
   */
  val qKnnGraph = Q(
    "q_knn_graph",
    (s, dir) => knnGraphOf(quantized(s, dir),
                           cellCap = DedupQueries.gateCellCap(s, dir),
                           qz0 = Some(gateQuantizer(s, dir))),
    Some(s"""$ivfCteDerived,
      |m AS (
      |  SELECT ce.vec_id, ce.cell, e.q
      |  FROM cell ce JOIN e ON e.vec_id = ce.vec_id
      |),
      |p AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |         CAST(list_sum(list_transform(generate_series(1, len(a.q)),
      |                i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |)
      |SELECT src, dst, dot,
      |       CAST(row_number() OVER (PARTITION BY src
      |                               ORDER BY dot DESC, dst ASC) AS BIGINT)
      |         AS rnk
      |FROM p
      |QUALIFY rnk <= $GraphK""".stripMargin)
  )

  /**
   * HARD-NEGATIVE MINING for contrastive training: per anchor, the
   * top-k most-similar vectors with a DIFFERENT label — the negatives
   * that actually teach an embedding model (easy negatives are already
   * far; hard ones are the near-misses). Candidates come from the
   * anchor's IVF cell, which is exactly the "hard" neighborhood AND the
   * scale shape: pair work is per-cell (n/k)², never corpus², the same
   * bucketing as [[qKnnGraph]] with the label-mismatch predicate pushed
   * INTO the join (a different-label vector outside the cell is by
   * construction an easy negative — not worth shipping). Output
   * `(src, src_label, dst, dst_label, dot, rnk)`.
   */
  val qHardNegatives = Q(
    "q_hard_negatives",
    (s, dir) => hardNegativesOf(quantized(s, dir),
                                cellCap = DedupQueries.gateCellCap(s, dir),
                                qz0 = Some(gateQuantizer(s, dir))),
    Some(s"""$ivfCteDerived,
      |m AS (
      |  SELECT ce.vec_id, ce.cell, e.q, e.label
      |  FROM cell ce JOIN e ON e.vec_id = ce.vec_id
      |),
      |p AS (
      |  SELECT a.vec_id AS src, a.label AS src_label,
      |         b.vec_id AS dst, b.label AS dst_label,
      |         CAST(list_sum(list_transform(generate_series(1, len(a.q)),
      |                i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |                    AND a.label <> b.label
      |)
      |SELECT src, src_label, dst, dst_label, dot,
      |       CAST(row_number() OVER (PARTITION BY src
      |                               ORDER BY dot DESC, dst ASC) AS BIGINT)
      |         AS rnk
      |FROM p
      |QUALIFY rnk <= $GraphK""".stripMargin)
  )

  /** [[qHardNegatives]]'s body over an ARBITRARY quantized
    * `(vec_id, q, label, …)` frame. */
  private[graft] def hardNegativesOf(e: DataFrame, k: Int = GraphK,
                                     cellCap: Long = DeriveCap,
                                     qz0: Option[CellQuantizer] = None)
      : DataFrame = {
    val qz = qz0.getOrElse(trainCellQuantizer(e, resolveCap(e, cellCap)))
    // NOT fanned out (round-21 warm A/B: pinning the assignment + cell
    // join width read 1.18→1.66 s — the in-cell dot work at fixture scale
    // is under task overhead, and at soak scale AQE's byte-coalescing
    // already widens the 100 MB+ exchange; the q_sim_search rule)
    val m = checkpointCompact(
      assignCells(e.select(col("vec_id"), col("label"), col("q")), qz)
        .select(col("vec_id"), col("c_id").as("cell"), col("q"),
                col("label")))
    val a = m.select(col("vec_id").as("src"), col("cell"),
                     col("q").as("qa"), col("label").as("src_label"))
    val b = m.select(col("vec_id").as("dst"), col("cell").as("cell_b"),
                     col("q").as("qb"), col("label").as("dst_label"))
    val wRank = Window.partitionBy("src")
      .orderBy(col("dot").desc, col("dst").asc)
    a.join(b, col("cell") === col("cell_b") && col("src") =!= col("dst") &&
              col("src_label") =!= col("dst_label"))
      .withColumn("dot", VectorOps.intDot(col("qa"), col("qb")))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= k)
      .select("src", "src_label", "dst", "dst_label", "dot", "rnk")
  }

  /** [[qKnnGraph]]'s body over an ARBITRARY quantized `(vec_id, q, …)`
    * frame — the library/TVF entry point (`k`, `cellCap` free). */
  private[graft] def knnGraphOf(e: DataFrame, k: Int = GraphK,
                                cellCap: Long = DeriveCap,
                                qz0: Option[CellQuantizer] = None)
      : DataFrame = {
    val qz = qz0.getOrElse(trainCellQuantizer(e, resolveCap(e, cellCap)))
    // NOT fanned out — see hardNegativesOf (round-21 warm A/B)
    val m = checkpointCompact(
      assignCells(e.select(col("vec_id"), col("q")), qz)
        .select(col("vec_id"), col("c_id").as("cell"), col("q")))
    val a = m.select(col("vec_id").as("src"), col("cell"),
                     col("q").as("qa"))
    val b = m.select(col("vec_id").as("dst"), col("cell").as("cell_b"),
                     col("q").as("qb"))
    val wRank = Window.partitionBy("src")
      .orderBy(col("dot").desc, col("dst").asc)
    a.join(b, col("cell") === col("cell_b") && col("src") =!= col("dst"))
      .withColumn("dot", VectorOps.intDot(col("qa"), col("qb")))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= k)
      .select("src", "dst", "dot", "rnk")
  }

  /**
   * Semantic clustering: MUTUAL-kNN components over the
   * [[qKnnGraph]] edges — two vectors connect iff each ranks the other
   * in its top-K, the standard symmetrization that keeps hub vectors
   * from chaining unrelated clusters (a one-directional edge to a hub is
   * exactly what mutuality filters), then
   * [[graft.operators.ConnectedComponents]] resolves min-id labels and
   * every vector gets its cluster (singletons label themselves). The
   * composition a curation pipeline runs for topic-level grouping,
   * cluster-balanced sampling, and SemDeDup-style per-cluster budgets.
   *
   * Scale: the mutuality self-join is an equi-join on the (src, dst)
   * pair key of an already-(n·K)-bounded edge list; the component loop
   * inherits the measured three-regime posture of the dedup clusters
   * (driver union-find under the broadcast bound, propagation loops
   * past it).
   */
  val qSemanticClusters = Q(
    "q_semantic_clusters",
    (s, dir) => semanticClustersOf(quantized(s, dir),
                  labels0 = Some(cachedClusterLabels(s, dir, false))),
    Some(s"$semanticClustersCte\nSELECT vec_id, cluster_id FROM labels")
  )

  /** The UNDIRECTED mutual-kNN edge set `(a_id < b_id)` — the
    * symmetrization [[semanticClustersOf]] and [[qTriangleCount]]
    * share: an edge survives iff each endpoint ranks the other in its
    * top-K. */
  private[graft] def mutualEdgesOf(e: DataFrame, k: Int = GraphK,
                                   cellCap: Long = DeriveCap,
                                   qz0: Option[CellQuantizer] = None)
      : DataFrame = {
    val edges = knnGraphOf(e, k, cellCap, qz0).select("src", "dst")
    edges.as("x").join(
        edges.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src") &&
          col("x.src") < col("x.dst"))
      .select(col("x.src").as("a_id"), col("x.dst").as("b_id"))
  }

  /** [[qSemanticClusters]]'s body over an ARBITRARY quantized frame.
    * `labels0` lets a caller supply an already-materialized component
    * label frame ([[cachedClusterLabels]]) — the fixpoint is the
    * expensive half, and the cluster GATES all derive from the same
    * two inputs. */
  private[graft] def semanticClustersOf(e: DataFrame, k: Int = GraphK,
                                        cellCap: Long = DeriveCap,
                                        labels0: Option[DataFrame] = None)
      : DataFrame = {
    val labels = labels0.getOrElse(
      graft.operators.ConnectedComponents.labels(mutualEdgesOf(e, k, cellCap)))
    e.select(col("vec_id"))
      .join(labels, col("vec_id") === col("id"), "left")
      .select(col("vec_id"),
              coalesce(col("lbl"), col("vec_id")).as("cluster_id"))
  }

  /** Per-PROCESS memo of the cluster-component label frame
    * `(id, lbl)` for a testdata dir (full corpus, or the even-id
    * build half) — round-17 VERDICT #4: SEVEN gates each re-ran the
    * kNN-graph → mutual-edge → component fixpoint on one of these two
    * inputs (~2–3 s each at sf0.1, ≈ a third of the 35 s family
    * bill). The fixpoint is deterministic in (code, input), so within
    * one process it is a pure materialization: the FIRST gate
    * computes and `localCheckpoint`s it (n compact rows), the rest
    * reuse. The ORACLES are untouched — each still replays the whole
    * fixpoint independently, so the memo cannot mask a fixpoint
    * regression: the first consumer's hash would catch it. Recompute
    * library paths ([[clusterSampleOf]], [[writeClustersOf]] without
    * `labels0`) stay fully self-contained.
    *
    * Materialized as a pid-keyed PARQUET artifact (n compact rows),
    * NOT a localCheckpoint handle: the bench harness unpersists all
    * persistent RDDs between queries (its cross-query GC hygiene), so
    * an in-memory checkpoint memo dies with the first gate — a file
    * readable by `spark.read` is the only per-process cache that
    * survives any cache-clearing discipline a caller runs. */
  private[queries] def cachedClusterLabels(s: SparkSession, dir: String,
                                           evenHalf: Boolean): DataFrame = {
    val name = if (evenHalf) "cluster-labels-even" else "cluster-labels-all"
    val out = LayoutQueries.memo(s, dir, name) { out =>
      val e0 = quantized(s, dir)
      val e = if (evenHalf) e0.filter(col("vec_id") % 2 === 0) else e0
      // the FULL-corpus fixpoint shares the per-process gate
      // quantizer; the even half trains on the filtered frame — a
      // DIFFERENT artifact by construction, never shared
      val qz0 = if (evenHalf) None else Some(gateQuantizer(s, dir))
      graft.operators.ConnectedComponents.labels(
          mutualEdgesOf(e, cellCap = DedupQueries.gateCellCap(s, dir),
                        qz0 = qz0))
        .write.mode("overwrite").parquet(s"$out/labels")
    }
    s.read.parquet(s"$out/labels")
  }

  /** The SHARED committed cluster layout (members + centroids) for a
    * testdata dir, built AT MOST ONCE per process — the probe /
    * stored-sample / quality gates are read-only consumers of the
    * identical full-corpus layout, so each rebuilding its own copy
    * billed the same build three times (round-17 VERDICT #4). The
    * first consumer builds with the current code (the qIvfProbe
    * "current code's layout" rule still holds per process — a stale
    * cross-process cache is impossible: [[LayoutQueries.derivedDir]]
    * is pid-keyed). */
  private[queries] def sharedClusterLayout(s: SparkSession,
                                           dir: String): String =
    LayoutQueries.memo(s, dir, "clusters-shared") { out =>
      writeClustersOf(quantized(s, dir), out,
                      labels0 = Some(cachedClusterLabels(s, dir, false)))
    }

  /** Write the committed cluster layout of the EVEN vec_ids (the build
    * half of the two incremental faces) into `out`, labelled by the
    * memoized even-half fixpoint. */
  private def writeEvenClusters(s: SparkSession, dir: String,
                                out: String): Unit =
    writeClustersOf(quantized(s, dir).filter(col("vec_id") % 2 === 0), out,
                    labels0 = Some(cachedClusterLabels(s, dir, true)))

  /** The even-half committed layout as built, with no arrivals — the
    * streaming assign-at-ingest gate's stored side. [[qClusterAppend]]
    * builds its own copy and appends to that. */
  private[queries] def evenClusterLayout(s: SparkSession,
                                         dir: String): String =
    LayoutQueries.memo(s, dir, "clusters-even")(writeEvenClusters(s, dir, _))

  /** Shared oracle CTE chain ending in `labels(vec_id, cluster_id)` —
    * the SQL replay of [[qSemanticClusters]], composed by
    * [[qClusterSample]] (the `dedupedKeptCte` discipline: one statement
    * of the cluster fixpoint, two gated consumers). */
  private def semanticClustersCte: String = semanticClustersCteOn("e")

  /** [[semanticClustersCte]] with the member table parameterized — the
    * [[ivfCteOn]] move applied to the cluster fixpoint, so
    * [[qClusterAppend]] can replay a layout BUILT from a subset (graph,
    * mutual edges, components, and labels all read `$t` only) while the
    * surrounding query still sees every vector of `e`. */
  private def semanticClustersCteOn(t: String, extra: String = ""): String =
    s"""$quantCte,${capcCte + extra}
      |${dualCellCtes(t)},
      |m AS (
      |  SELECT ce.vec_id, ce.cell, t0.q
      |  FROM cell ce JOIN $t t0 ON t0.vec_id = ce.vec_id
      |),
      |p AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |         CAST(list_sum(list_transform(generate_series(1, len(a.q)),
      |                i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |),
      |knn AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |           row_number() OVER (PARTITION BY src
      |                              ORDER BY dot DESC, dst ASC) AS rnk
      |    FROM p) WHERE rnk <= $GraphK
      |),
      |mut AS MATERIALIZED (
      |  SELECT k1.src AS a, k1.dst AS b
      |  FROM knn k1 JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src
      |  WHERE k1.src < k1.dst
      |),
      |e2 AS (SELECT a AS s, b AS d FROM mut
      |       UNION ALL SELECT b, a FROM mut),
      |walk(id, lbl) AS (
      |  SELECT vec_id, vec_id FROM $t
      |  UNION
      |  SELECT e2.d, w.lbl FROM walk w JOIN e2 ON e2.s = w.id
      |),
      |labels AS (
      |  SELECT id AS vec_id, MIN(lbl) AS cluster_id FROM walk GROUP BY id
      |)""".stripMargin.replaceFirst("^WITH ", "WITH RECURSIVE ")

  /** Per-cluster budget for [[qClusterSample]]. */
  private val ClusterBudget = 5

  /**
   * Cluster-balanced (diversity) sampling: at most `ClusterBudget`
   * vectors per [[qSemanticClusters]] cluster, drawn as the md5-rank
   * prefix — the downsampling pass that equalizes topic coverage
   * (a head-heavy corpus keeps its tail: every cluster contributes up
   * to the same budget regardless of size, the SemDeDup/diversity-
   * sampling recipe after semantic grouping). Deterministic under any
   * partitioning via the salted-hash order; a new salt is a fresh draw.
   *
   * Scale: the rank window partitions by CLUSTER — cluster count grows
   * with the corpus (mutual-kNN components are locally bounded), so the
   * window scales out; a degenerate giant cluster costs one partition
   * of its own size, the same skew class every per-group operator in
   * this library documents.
   */
  val qClusterSample = Q(
    "q_cluster_sample",
    (s, dir) => clusterSampleOf(quantized(s, dir),
                                cellCap = DedupQueries.gateCellCap(s, dir),
                                labels0 =
                                  Some(cachedClusterLabels(s, dir, false))),
    Some(s"""$semanticClustersCte,
      |cs AS (
      |  SELECT vec_id, cluster_id,
      |         md5('cs:' || CAST(vec_id AS VARCHAR)) AS h
      |  FROM labels
      |)
      |SELECT vec_id, cluster_id,
      |       CAST(row_number() OVER (PARTITION BY cluster_id
      |                               ORDER BY h ASC, vec_id ASC) AS BIGINT)
      |         AS rn
      |FROM cs
      |QUALIFY rn <= $ClusterBudget""".stripMargin)
  )

  /** [[qClusterSample]]'s body over an ARBITRARY quantized frame. */
  private[graft] def clusterSampleOf(e: DataFrame, k: Int = GraphK,
                                     cellCap: Long = DeriveCap,
                                     budget: Int = ClusterBudget,
                                     labels0: Option[DataFrame] = None)
      : DataFrame = {
    val wRank = Window.partitionBy("cluster_id")
      .orderBy(col("h").asc, col("vec_id").asc)
    semanticClustersOf(e, k, cellCap, labels0)
      .withColumn("h", md5(concat(lit("cs:"), col("vec_id").cast("string"))))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= budget)
      .select("vec_id", "cluster_id", "rn")
  }

  /** Physical bucket count for [[writeClustersOf]]: cluster_id hashes
    * into a BOUNDED number of partition directories. Partitioning by
    * raw cluster_id would create one directory per cluster — cluster
    * count grows with the corpus (mutual-kNN components are locally
    * bounded), so at 100 TB that is millions of tiny dirs and a
    * metadata-bound scan; 64 hash buckets keep every cluster's rows
    * CO-LOCATED in exactly one prunable directory at any corpus size. */
  private[graft] val ClusterBuckets = 64

  /**
   * Materialize the trained semantic-cluster assignment as a physical
   * layout — the cluster-family twin of [[writeIvfLayout]]: every
   * vector written with its [[semanticClustersOf]] label under its
   * cluster's hash-bucket partition directory
   * (`<outDir>/members/cbucket=<b>/`), vector payload alongside the
   * label so in-cluster passes (SemDeDup cosine budgets) read one
   * bucket, not the corpus. At scale this is the production shape for
   * the whole cluster family: the expensive artifact (kNN graph +
   * mutual symmetrization + component fixpoint — recomputed per call
   * by the self-contained [[qClusterSample]] gate, 41.5 s at the 200 k
   * soak) is built ONCE, and every consumer — membership probes,
   * balanced sampling, per-cluster budgets — is a scan over stored
   * labels: [[probeClusters]] is partition-pruned scan+filter with
   * zero shuffles (plan-asserted in `ClusterLayoutSpec`),
   * [[clusterSampleFromLayout]] is one bounded rank window.
   */
  def writeClusters(s: SparkSession, dir: String, outDir: String,
                    withCentroids: Boolean = true): Unit =
    writeClustersOf(quantized(s, dir), outDir, withCentroids = withCentroids)

  /** [[writeClusters]] over an ARBITRARY quantized `(vec_id, label, q)`
    * frame — the build step for any non-testdata caller. Alongside the
    * bucketed member table it stores the per-cluster CENTROIDS
    * (`<outDir>/centroids`, same bucketing): the floor-mean vector each
    * downstream pass scores against — SemDeDup keeps the
    * lowest-cosine-to-centroid member per near-dup group, and
    * [[clusterStaleness]] reads them as the REBUILD trigger. Computed
    * from the checkpointed labeled frame the members write also reads,
    * not by re-running the label join. */
  def writeClustersOf(e: DataFrame, outDir: String, k: Int = GraphK,
                      cellCap: Long = DeriveCap,
                      withCentroids: Boolean = true,
                      labels0: Option[DataFrame] = None): Unit = {
    // one label join, not two: semanticClustersOf's (vec_id, cluster_id)
    // projection would force joining e BACK on vec_id to recover the
    // payload; joining the component labels against full-width e
    // directly is the same left join with the payload already aboard
    val labels = labels0.getOrElse(graft.operators.ConnectedComponents.labels(
      mutualEdgesOf(e, k, cellCap)))
    val labeled0 = e.join(labels, col("vec_id") === col("id"), "left")
      .select(col("vec_id"), col("label"), col("q"),
              coalesce(col("lbl"), col("vec_id")).as("cluster_id"))
      .withColumn("cbucket",
              pmod(xxhash64(col("cluster_id")), lit(ClusterBuckets.toLong)))
    // With centroids, the labeled frame has TWO consumers (members write
    // + centroid aggregate) → checkpoint, then submit the two INDEPENDENT
    // writes from two threads: the centroid aggregate back-fills executors
    // freed by the members write's tail (OPTIMIZATION_r22.md).
    val labeled = if (withCentroids) checkpointCompact(labeled0) else labeled0
    def writeMembers(): Unit =
      labeled
        // cluster rows by the partition column before the partitioned
        // write — same rationale as writeIvfLayoutOf. The within-task
        // sort leads with cbucket ON PURPOSE: the dynamic-partition
        // writer requires partition-column ordering and would re-sort by
        // cbucket alone (destroying any bare vec_id order — Spark's sort
        // is not stable); leading with it satisfies that requirement by
        // prefix, so the vec_id order SURVIVES into each bucket's files.
        // vec_id-sorted files give tight per-row-group min/max on
        // vec_id, which is what lets probeClusters' point lookup skip
        // row groups instead of scanning every bucket file end-to-end
        // (round-14 VERDICT item 8; ClusterLayoutSpec asserts the
        // physical order and the footer stats).
        .repartition(col("cbucket"))
        .sortWithinPartitions("cbucket", "vec_id")
        .write.mode("overwrite").partitionBy("cbucket")
        .parquet(s"$outDir/members")
    def writeCentroids(): Unit =
      clusterCentroidsOf(labeled.select("cluster_id", "cbucket", "q"))
        .repartition(col("cbucket"))
        .write.mode("overwrite").partitionBy("cbucket")
        .parquet(s"$outDir/centroids")
    if (withCentroids) {
      // A thread created per call inherits the caller's Spark local
      // properties (job group, scheduler pool), so the centroid jobs are
      // attributed to the same build as the members jobs.
      var centroidFailure: Option[Throwable] = None
      val centroids = new Thread(() =>
        try writeCentroids()
        catch { case t: Throwable => centroidFailure = Some(t) },
        "graft-cluster-centroids")
      centroids.setDaemon(true)
      centroids.start()
      // a members-write failure must not leave the centroid job dangling
      // in the background (it writes into this build's private dir):
      // always wait for it; rethrow its own failure after.
      try writeMembers() finally centroids.join()
      centroidFailure.foreach(t => throw t)
    } else {
      // opt-out for consumers that only probe/sample members: they skip
      // the checkpoint, the (cluster, dim) aggregate and the second write
      writeMembers()
    }
    // atomic publish AFTER both halves: everything outside this
    // function reads only the committed snapshot
    graft.sources.AtomicPublish.commit(e.sparkSession, outDir)
  }

  /** Per-cluster floor-mean centroid over a `(cluster_id, cbucket, q)`
    * members frame — [[ivfTrain]]'s exact-arithmetic centroid shape
    * (sums/counts < 2⁵³ ⇒ the double divide has exact inputs, FLOOR is
    * engine-identical) keyed by cluster: `(cluster_id, cbucket, cq, cn,
    * n_members)`. The (cluster, dim)-keyed aggregate scales out — never
    * a per-cluster collect — and cluster count rides the same bounded
    * bucketing as the members. */
  private[graft] def clusterCentroidsOf(members: DataFrame): DataFrame = {
    // n_members counts MEMBER ROWS, not exploded positions: a member
    // with a null/empty q contributes zero posexplode rows, and ragged
    // vector lengths make the per-dim cnt vary by pos — so the former
    // max(cnt) undercounted relative to the members table and
    // clusterStaleness's count(*) (round-14 ADVICE). The row count is
    // its own aggregate on the same (cluster_id, cbucket) grouping; the
    // join is cluster-cardinality-sized on both sides, and clusters
    // whose every member lacks a vector still (correctly) have no
    // centroid row — the inner join preserves that.
    val counts = members.groupBy("cluster_id", "cbucket")
      .agg(count(lit(1)).as("n_members"))
    members
      .select(col("cluster_id"), col("cbucket"), posexplode(col("q")))
      .groupBy("cluster_id", "cbucket", "pos")
      .agg(sum("col").as("sv"), count(lit(1)).as("cnt"))
      .withColumn("m", floor(col("sv").cast("double") / col("cnt")).cast("long"))
      .groupBy("cluster_id", "cbucket")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .join(counts, Seq("cluster_id", "cbucket"))
      .select(col("cluster_id"), col("cbucket"),
              transform(col("pm"), x => x.getField("m")).as("cq"),
              col("n_members"))
      .withColumn("cn", VectorOps.intNormSq(col("cq")))
  }

  /** The staleness metric for a stored cluster layout — the cluster
    * twin of [[ivfStaleness]], and the REBUILD trigger that replaces
    * incremental maintenance here: mutual-kNN components are a global
    * fixpoint, so unlike IVF cells they cannot absorb appends against
    * frozen state without changing semantics — the production cadence
    * is probe/sample from the layout, watch this metric, re-cluster
    * when drift passes tolerance. Per cluster: member count and mean
    * cosine DISTANCE (1 − cos) to the stored centroid. One
    * (cbucket, cluster_id) equi-join between two tables bucketed the
    * same way + one aggregation; zero-norm members carry a null
    * distance (excluded from the mean by `avg`). */
  def clusterStaleness(s: SparkSession, layoutDir: String): DataFrame = {
    val cents = graft.sources.AtomicPublish
      .readCommitted(s, layoutDir, "centroids")
      .select(col("cluster_id"), col("cbucket"), col("cq"), col("cn"))
    graft.sources.AtomicPublish.readCommitted(s, layoutDir, "members")
      .select(col("cluster_id"), col("cbucket"), col("q"))
      .join(cents, Seq("cbucket", "cluster_id"))
      .withColumn("qn", VectorOps.intNormSq(col("q")))
      .withColumn(
        "cos_dist",
        when(col("qn") > 0 && col("cn") > 0,
             lit(1.0) - VectorOps.intDot(col("q"), col("cq")).cast("double") /
               (sqrt(col("qn").cast("double")) * sqrt(col("cn").cast("double")))))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
           avg(col("cos_dist")).as("mean_cos_dist"))
  }

  /**
   * Membership probe over a materialized cluster layout: all vectors
   * sharing `vecId`'s cluster. Two scans, ZERO shuffles: a
   * column-pruned point lookup resolves (cluster_id, cbucket) for the
   * probe vector (pushed `vec_id =` filter + parquet row-group stats;
   * driver receives one row — the [[probeIvfLayout]] centroid-collect
   * discipline), then the members scan carries `cbucket = b AND
   * cluster_id = c`, so partition pruning drops every other bucket
   * directory and query cost scales with bucket size, not corpus size.
   */
  def probeClusters(s: SparkSession, layoutDir: String,
                    vecId: Long): DataFrame = {
    val members = graft.sources.AtomicPublish
      .readCommitted(s, layoutDir, "members")
    val rows = members.filter(col("vec_id") === vecId)
      .select(col("cluster_id"), col("cbucket")).head(1)
    require(rows.nonEmpty,
            s"vec_id $vecId is not in the cluster layout at $layoutDir " +
              "(probe an existing member, or rebuild the layout)")
    val at = rows.head
    val cid = at.getLong(0)
    val bucket = at.getAs[Number](1).intValue()
    members
      .filter(col("cbucket") === bucket && col("cluster_id") === cid)
      .select("vec_id", "cluster_id")
  }

  /**
   * INCREMENTAL cluster-layout maintenance — [[appendToIvfLayout]]'s
   * frozen-state pattern applied to the cluster family: arriving
   * vectors are assigned to the nearest STORED cluster centroid (no
   * re-clustering) and appended under their cluster's hash-bucket
   * partition, covering the continuous-ingest window between full
   * rebuilds. Mutual-kNN components are a global fixpoint, so unlike
   * IVF cells the labels genuinely drift as appends accumulate —
   * [[clusterStaleness]] stays the rebuild trigger
   * ([[writeClustersOf]]); this path bounds the drift window, it does
   * not replace the rebuild.
   *
   * Scale shape — the centroid table is CLUSTER-COUNT-sized
   * (unbounded: singletons label themselves), so nearest-centroid
   * cannot be one broadcast argmax like the IVF append. The assignment
   * goes hierarchical with a seed ROUTER over the centroids
   * themselves: a stride-sampled ≤ `MaxCents` seed subset (md5-hash
   * stride, not `% id` — cluster ids are sparse min-ids, an id-modulo
   * stride can select zero seeds) broadcasts and routes both centroids
   * and arrivals to cells as a codegen'd projection
   * ([[ivfAssign1]]); each arrival then ranks only its cell's
   * centroids — per-arrival work is O(C/MaxCents), never O(C). Every
   * cell always contains at least its own seed centroid (the
   * augmentation below), so no arrival can land in an empty cell and
   * drop. Zero-norm centroids are excluded as assignment targets (no
   * cosine direction — the [[ivfTrain]] rule).
   *
   * @param newVecs quantized `(vec_id, label, q)` rows, vec_ids
   *                disjoint from the layout's (the
   *                [[appendToIvfLayout]] contract)
   */
  /** The frozen ROUTING artifacts of a stored cluster layout —
    * `(seeds, ccell)`: the stride-sampled ≤ [[MaxCents]] seed router
    * (ordered LIMIT cap, localCheckpointed — the bounded broadcast)
    * and every usable centroid assigned to its router cell, each cell
    * augmented with its own seed so no assignment can land in an empty
    * cell. Extracted from [[appendToClusters]] so the streaming
    * assign-at-ingest face derives its per-cell candidate arrays from
    * the IDENTICAL router — any drift between the two faces' routing
    * is a construction impossibility, not a test hope. */
  private[queries] def clusterRouter(s: SparkSession,
                                     layoutDir: String)
      : (DataFrame, DataFrame) = {
    val cents = graft.sources.AtomicPublish
      .readCommitted(s, layoutDir, "centroids")
      .select(col("cluster_id"), col("cq"), col("cn"))
      .filter(col("cn") > 0)
    // router stride computed IN the plan (the ivfSeeds discipline):
    // ~MaxCents seeds at any centroid count, selected by portable
    // md5-hash stride + the unconditional ordered LIMIT cap
    val rst = cents.agg(
      greatest(lit(1L),
               ceil(count(lit(1)).cast("double") / MaxCents).cast("long"))
        .as("__rstride"))
    val seeds = cents.crossJoin(broadcast(rst))
      .filter(graft.text.TextOps.md5Prefix32(
                md5(col("cluster_id").cast("string"))) % col("__rstride") === 0)
      .select(col("cluster_id").as("c_id"), col("cq"), col("cn"))
      .orderBy(col("c_id").asc)
      .limit(MaxCents.toInt)
      .localCheckpoint()
    require(!seeds.isEmpty,
            s"cluster layout at $layoutDir has no usable centroids " +
              "(empty build, or every centroid is zero-norm) — rebuild it")
    // centroids -> router cells, each cell augmented with its own seed
    // so the arrival join below can never empty out
    val ccell = cents
      .join(ivfAssign1(cents.select(col("cluster_id").as("vec_id"),
                                    col("cq").as("q")), seeds)
              .select(col("vec_id").as("cv"), col("c_id").as("rcell")),
            col("cluster_id") === col("cv"))
      .select(col("rcell"), col("cluster_id"), col("cq"), col("cn"))
      .unionByName(seeds.select(col("c_id").as("rcell"),
                                col("c_id").as("cluster_id"),
                                col("cq"), col("cn")))
      .dropDuplicates("rcell", "cluster_id")
    (seeds, ccell)
  }

  def appendToClusters(s: SparkSession, layoutDir: String,
                       newVecs: DataFrame): Unit = {
    val (seeds, ccell) = clusterRouter(s, layoutDir)
    val arr = newVecs.select("vec_id", "label", "q")
    val arrCell = arr
      .join(ivfAssign1(arr, seeds)
              .select(col("vec_id").as("av"), col("c_id").as("rcell")),
            col("vec_id") === col("av"))
      .select(col("vec_id"), col("label"), col("q"), col("rcell"))
    val wNear = Window.partitionBy("vec_id")
      .orderBy(col("ckey").desc, col("cluster_id").asc)
    arrCell.join(ccell, Seq("rcell"))
      .withColumn("cdot", VectorOps.intDot(col("q"), col("cq")))
      .withColumn("ckey",
                  col("cdot").cast("double") / sqrt(col("cn").cast("double")))
      .withColumn("rn", row_number().over(wNear))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("q"), col("cluster_id"))
      .withColumn("cbucket",
                  pmod(xxhash64(col("cluster_id")), lit(ClusterBuckets.toLong)))
      .repartition(col("cbucket"))
      // appended files keep the build's vec_id order discipline (see
      // writeClustersOf) so probe row-group skipping stays effective
      // over the mixed layout
      .sortWithinPartitions("cbucket", "vec_id")
      .write.mode("append").partitionBy("cbucket")
      .parquet(s"$layoutDir/members")
    // publish the grown snapshot (the appendToIvfLayout discipline):
    // a crash before this line leaves the appended files invisible
    graft.sources.AtomicPublish.commit(s, layoutDir)
  }

  /** Cluster-balanced sampling OVER STORED LABELS — [[clusterSampleOf]]
    * with the graph+component recompute replaced by a members scan:
    * one bounded rank window (partitioned by cluster — scales out) on
    * top of the layout. Must draw the IDENTICAL sample: the gate
    * reuses [[qClusterSample]]'s oracle verbatim, so any drift between
    * the stored labels and the from-scratch clustering hash-mismatches. */
  def clusterSampleFromLayout(s: SparkSession, layoutDir: String,
                              budget: Int = ClusterBudget): DataFrame = {
    val wRank = Window.partitionBy("cluster_id")
      .orderBy(col("h").asc, col("vec_id").asc)
    graft.sources.AtomicPublish.readCommitted(s, layoutDir, "members")
      .select(col("vec_id"), col("cluster_id"))
      .withColumn("h", md5(concat(lit("cs:"), col("vec_id").cast("string"))))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= budget)
      .select("vec_id", "cluster_id", "rn")
  }

  /** The cluster PHYSICAL layout behind the driver gate: write the
    * bucketed member layout, then answer one membership probe (vec 0's
    * cluster) THROUGH it — point lookup, then partition-pruned
    * scan+filter, zero shuffles. The oracle replays the stored labels
    * from the shared [[semanticClustersCte]] fixpoint and selects the
    * probe cluster's members, so a regression in the write's label
    * join, the bucket derivation, or the pruning filter all
    * hash-mismatch here. The layout is the per-process
    * [[sharedClusterLayout]] — built once per process by whichever
    * consumer gate runs first, so the CURRENT code's build is always
    * what is probed ([[qIvfProbe]] rule, amortized per process). */
  val qClusterProbe = Q(
    "q_cluster_probe",
    (s, dir) => probeClusters(s, sharedClusterLayout(s, dir), ProbeVecId),
    Some(s"""$semanticClustersCte
      |SELECT vec_id, cluster_id FROM labels
      |WHERE cluster_id = (SELECT cluster_id FROM labels
      |                    WHERE vec_id = $ProbeVecId)""".stripMargin)
  )

  /** Balanced sampling THROUGH the stored layout behind its own gate —
    * same draw, same ORACLE ([[qClusterSample]]'s SQL verbatim): the
    * layout is a pure materialization, so any drift between
    * sample-from-storage and sample-from-recompute is a label bug this
    * row exists to catch (the [[DedupQueries.qDedupBloom]] discipline). */
  val qClusterSampleStored = Q(
    "q_cluster_sample_stored",
    (s, dir) => clusterSampleFromLayout(s, sharedClusterLayout(s, dir)),
    qClusterSample.oracle
  )

  /**
   * Incremental cluster maintenance behind the driver gate — the
   * [[qIvfAppend]] replay applied to the cluster family: build the
   * layout (labels + centroids) from the EVEN vec_ids, [[appendToClusters]]
   * the odd half against the frozen stored centroids, then return the
   * whole post-append membership READ BACK THROUGH the layout. The
   * oracle recomputes the build-half fixpoint
   * ([[semanticClustersCteOn]]), derives the stored centroids
   * (per-dimension floor-mean — the [[clusterCentroidsOf]]
   * arithmetic), and replays the hierarchical assignment — router
   * stride, seed selection, cell routing, in-cell argmax — so a
   * regression in the centroid write, the router, the assignment
   * ranking, or the partitioned append all hash-mismatch here.
   * Build plus append is this gate's own memoized artifact; the
   * even-half fixpoint comes from the shared [[cachedClusterLabels]],
   * so only the layout write repeats [[evenClusterLayout]]'s work.
   */
  val qClusterAppend = Q(
    "q_cluster_append",
    (s, dir) => {
      val out = LayoutQueries.memo(s, dir, "clusters-append") { out =>
        writeEvenClusters(s, dir, out)
        appendToClusters(s, out,
                         quantized(s, dir).filter(col("vec_id") % 2 =!= 0))
      }
      graft.sources.AtomicPublish.readCommitted(s, out, "members")
        .select("vec_id", "cluster_id")
    },
    Some(s"""${semanticClustersCteOn(
               "eb",
               "\n      |eb AS (SELECT * FROM e WHERE vec_id % 2 = 0),")},
      |bmem AS (
      |  SELECT l.vec_id, l.cluster_id, t0.q
      |  FROM labels l JOIN eb t0 ON t0.vec_id = l.vec_id
      |),
      |cdim AS (
      |  SELECT cluster_id, unnest(generate_series(1, len(q))) AS pos,
      |         unnest(q) AS v
      |  FROM bmem
      |),
      |cflo AS (
      |  SELECT cluster_id, pos,
      |         CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mv
      |  FROM cdim GROUP BY cluster_id, pos
      |),
      |cc0 AS (
      |  SELECT cluster_id, list(mv ORDER BY pos) AS ccq
      |  FROM cflo GROUP BY cluster_id
      |),
      |ccz AS (
      |  SELECT cluster_id, ccq,
      |         CAST(list_sum(list_transform(ccq, x -> x * x)) AS BIGINT) AS ccn
      |  FROM cc0
      |),
      |ccnz AS (SELECT * FROM ccz WHERE ccn > 0),
      |rst AS (
      |  SELECT GREATEST(1, CAST(CEIL(COUNT(*) / $MaxCents.0) AS BIGINT)) AS stride
      |  FROM ccnz
      |),
      |rs AS (
      |  SELECT cluster_id AS s_id, ccq AS scq, ccn AS scn FROM (
      |    SELECT cluster_id, ccq, ccn,
      |           ROW_NUMBER() OVER (ORDER BY cluster_id ASC) AS srn
      |    FROM ccnz
      |    WHERE ${DedupQueries.hex32("md5(CAST(cluster_id AS VARCHAR))")}
      |            % (SELECT stride FROM rst) = 0
      |  ) WHERE srn <= $MaxCents
      |),
      |ccell AS (
      |  SELECT rcell, cluster_id, ccq, ccn FROM (
      |    SELECT r.s_id AS rcell, c.cluster_id, c.ccq, c.ccn,
      |           ROW_NUMBER() OVER (PARTITION BY c.cluster_id
      |             ORDER BY CAST(list_sum(list_transform(
      |                        generate_series(1, len(c.ccq)),
      |                        i -> c.ccq[i] * r.scq[i])) AS BIGINT)
      |                      / sqrt(CAST(r.scn AS DOUBLE)) DESC,
      |                      r.s_id ASC) AS rn
      |    FROM ccnz c CROSS JOIN rs r
      |  ) WHERE rn = 1
      |),
      |cellm AS (
      |  SELECT DISTINCT rcell, cluster_id, ccq, ccn FROM (
      |    SELECT rcell, cluster_id, ccq, ccn FROM ccell
      |    UNION ALL
      |    SELECT s_id AS rcell, s_id AS cluster_id, scq AS ccq, scn AS ccn
      |    FROM rs
      |  )
      |),
      |arrv AS (SELECT vec_id, q FROM e WHERE vec_id % 2 <> 0),
      |acell AS (
      |  SELECT vec_id, q, rcell FROM (
      |    SELECT a.vec_id, a.q, r.s_id AS rcell,
      |           ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |             ORDER BY CAST(list_sum(list_transform(
      |                        generate_series(1, len(a.q)),
      |                        i -> a.q[i] * r.scq[i])) AS BIGINT)
      |                      / sqrt(CAST(r.scn AS DOUBLE)) DESC,
      |                      r.s_id ASC) AS rn
      |    FROM arrv a CROSS JOIN rs r
      |  ) WHERE rn = 1
      |),
      |asg AS (
      |  SELECT vec_id, cluster_id FROM (
      |    SELECT a.vec_id, cm.cluster_id,
      |           ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |             ORDER BY CAST(list_sum(list_transform(
      |                        generate_series(1, len(a.q)),
      |                        i -> a.q[i] * cm.ccq[i])) AS BIGINT)
      |                      / sqrt(CAST(cm.ccn AS DOUBLE)) DESC,
      |                      cm.cluster_id ASC) AS rn
      |    FROM acell a JOIN cellm cm ON cm.rcell = a.rcell
      |  ) WHERE rn = 1
      |)
      |SELECT vec_id, cluster_id FROM labels
      |UNION ALL
      |SELECT vec_id, cluster_id FROM asg""".stripMargin)
  )

  /** Per-cluster cohesion over a STORED layout — the quality half of
    * [[clusterStaleness]] under the gate's exact-integer discipline:
    * member count, k-means-style inertia (sum of squared integer
    * distances member→stored centroid), its floor-mean, and the
    * squared radius (max). Squared L2 instead of cosine ON PURPOSE —
    * dist² = Σ(qᵢ−cᵢ)² is pure int64 arithmetic (≤ dim·(2·scale)²·n
    * < 2⁵³ by the quantization bound), so the oracle replays it
    * bit-exactly, where a cosine mean would drag `sqrt` rounding into
    * the hash compare (cosine stays [[clusterStaleness]]'s job as an
    * ungated monitor). One (cbucket, cluster_id) equi-join between the
    * two same-bucketed tables + one map-combinable aggregate; members
    * with no vector carry a null dist² (excluded from inertia/max,
    * counted in n_members — both engines' null-skipping aggregates). */
  def clusterQualityOf(s: SparkSession, layoutDir: String): DataFrame = {
    val cents = graft.sources.AtomicPublish
      .readCommitted(s, layoutDir, "centroids")
      .select(col("cluster_id"), col("cbucket"), col("cq"))
    graft.sources.AtomicPublish.readCommitted(s, layoutDir, "members")
      .select(col("cluster_id"), col("cbucket"), col("q"))
      .join(cents, Seq("cbucket", "cluster_id"))
      .withColumn("dist2", VectorOps.intL2Sq(col("q"), col("cq")))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
           sum("dist2").as("inertia"),
           floor(sum("dist2").cast("double") / count(lit(1)))
             .cast("long").as("mean_dist2"),
           max("dist2").as("max_dist2"))
  }

  /**
   * Cluster QUALITY through the materialized layout, behind the driver
   * gate: build the layout (labels + centroids), then report
   * [[clusterQualityOf]] per cluster — the dashboard a corpus owner
   * reads next to [[clusterStaleness]] to decide rebuild-vs-append
   * (inertia growing under stable membership = drift; a ballooning
   * radius = a cluster absorbing junk). The oracle recomputes the
   * cluster fixpoint ([[semanticClustersCteOn]]), derives the stored
   * centroids (the [[clusterCentroidsOf]] floor-mean arithmetic), and
   * replays the squared distances — so a regression in the centroid
   * write, the member/centroid bucketing, or the distance arithmetic
   * all hash-mismatch here.
   */
  val qClusterQuality = Q(
    "q_cluster_quality",
    (s, dir) => clusterQualityOf(s, sharedClusterLayout(s, dir)),
    Some(s"""$semanticClustersCte,
      |bmem AS (
      |  SELECT l.vec_id, l.cluster_id, t0.q
      |  FROM labels l JOIN e t0 ON t0.vec_id = l.vec_id
      |),
      |cdim AS (
      |  SELECT cluster_id, unnest(generate_series(1, len(q))) AS pos,
      |         unnest(q) AS v
      |  FROM bmem
      |),
      |cflo AS (
      |  SELECT cluster_id, pos,
      |         CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mv
      |  FROM cdim GROUP BY cluster_id, pos
      |),
      |cc AS (
      |  SELECT cluster_id, list(mv ORDER BY pos) AS cq
      |  FROM cflo GROUP BY cluster_id
      |),
      |md AS (
      |  SELECT m.cluster_id,
      |         CAST(list_sum(list_transform(generate_series(1, len(m.q)),
      |                i -> (m.q[i] - c.cq[i]) * (m.q[i] - c.cq[i])))
      |           AS BIGINT) AS dist2
      |  FROM bmem m JOIN cc c ON c.cluster_id = m.cluster_id
      |)
      |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
      |       CAST(SUM(dist2) AS BIGINT) AS inertia,
      |       CAST(FLOOR(CAST(SUM(dist2) AS DOUBLE) / COUNT(*)) AS BIGINT)
      |         AS mean_dist2,
      |       CAST(MAX(dist2) AS BIGINT) AS max_dist2
      |FROM md GROUP BY cluster_id""".stripMargin)
  )

  /**
   * Embedding-space profiling: per-label member counts and the
   * integer-exact squared-norm distribution (floor-mean, min, max over
   * the quantized vectors) — the first-look corpus health pass for an
   * embedding table (collapsed labels, dead/zero vectors, and norm
   * drift between ingestion batches all show up here before any index
   * is built). One map-side-combinable aggregate over (label); sums
   * stay under 2⁵³ by the quantization bound, so the floor-divide mean
   * replays exactly.
   */
  val qEmbedStats = Q(
    "q_embed_stats",
    (s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
                VectorOps.intNormSq(VectorOps.quantize(col("embedding")))
                  .as("nsq"))
      e.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
             expr("sum(nsq) div count(1)").as("mean_nsq"),
             min("nsq").as("min_nsq"), max("nsq").as("max_nsq"))
    },
    Some("""WITH n AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |         CAST(list_sum(list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
      |                * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
      |           AS BIGINT) AS nsq
      |  FROM embeddings
      |)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |       CAST(SUM(nsq) AS BIGINT) // COUNT(*) AS mean_nsq,
      |       MIN(nsq) AS min_nsq, MAX(nsq) AS max_nsq
      |FROM n GROUP BY label""".stripMargin)
  )

  /** Fixed-point scale for [[qPagerank]] ranks (1.0 ≡ 1e6). */
  private[graft] val PrScale = 1000000L
  /** (1 − d)·[[PrScale]] for damping d = 0.85. */
  private[graft] val PrBase = 150000L
  /** Power-iteration count for [[qPagerank]]. */
  private[graft] val PrIters = 3

  /**
   * PAGERANK over the [[qKnnGraph]] edges — centrality scoring of the
   * embedding corpus (hub/prototype detection for curation: which
   * vectors sit at the center of their neighborhood graph), by `PrIters`
   * rounds of damped power iteration (d = 0.85). Ranks are FIXED-POINT
   * integers (1.0 ≡ 1e6, integer division throughout) — the quantized-
   * dot discipline applied to the iteration itself: every contribution
   * `r(u) div outdeg(u)` and every damped update is exact integer
   * arithmetic, so the sum is associative under ANY partitioning and
   * the oracle replays it bit-equal where a floating formulation would
   * diverge in the third decimal after one shuffle-order change.
   * Dangling mass (vectors whose cell had no mates emit no edges)
   * deliberately leaks rather than redistributing — the standard
   * simplification, stated; ranks remain a valid relative ordering.
   *
   * Scale shape per round: one equi-join of the (n·K)-bounded edge list
   * with the rank frame on src, one map-side-combinable sum into the
   * node domain, one left join back to nodes — no all-pairs, no driver
   * state, lineage bounded by the fixed round count. The edge list is
   * checkpointed compact once; iteration cost is independent of corpus
   * text size.
   */
  val qPagerank = Q(
    "q_pagerank",
    (s, dir) => pageRankOf(quantized(s, dir),
                           qz0 = Some(gateQuantizer(s, dir)),
                           cellCap = DedupQueries.gateCellCap(s, dir)),
    Some(s"""$ivfCteDerived,
      |m AS (
      |  SELECT ce.vec_id, ce.cell, e.q
      |  FROM cell ce JOIN e ON e.vec_id = ce.vec_id
      |),
      |p AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |         CAST(list_sum(list_transform(generate_series(1, len(a.q)),
      |                i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |),
      |knn AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |           row_number() OVER (PARTITION BY src
      |                              ORDER BY dot DESC, dst ASC) AS rnk
      |    FROM p) WHERE rnk <= $GraphK
      |),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM knn GROUP BY 1),
      |nd AS (SELECT vec_id AS id FROM e),
      |r0 AS (SELECT id, CAST($PrScale AS BIGINT) AS r FROM nd),
      |c1 AS (SELECT k.dst AS id, CAST(SUM(r0.r // deg.d) AS BIGINT) AS sc
      |       FROM knn k JOIN deg ON k.src = deg.src
      |       JOIN r0 ON r0.id = k.src GROUP BY 1),
      |r1 AS (SELECT nd.id,
      |              CAST($PrBase + (85 * COALESCE(c1.sc, 0)) // 100 AS BIGINT) AS r
      |       FROM nd LEFT JOIN c1 ON nd.id = c1.id),
      |c2 AS (SELECT k.dst AS id, CAST(SUM(r1.r // deg.d) AS BIGINT) AS sc
      |       FROM knn k JOIN deg ON k.src = deg.src
      |       JOIN r1 ON r1.id = k.src GROUP BY 1),
      |r2 AS (SELECT nd.id,
      |              CAST($PrBase + (85 * COALESCE(c2.sc, 0)) // 100 AS BIGINT) AS r
      |       FROM nd LEFT JOIN c2 ON nd.id = c2.id),
      |c3 AS (SELECT k.dst AS id, CAST(SUM(r2.r // deg.d) AS BIGINT) AS sc
      |       FROM knn k JOIN deg ON k.src = deg.src
      |       JOIN r2 ON r2.id = k.src GROUP BY 1),
      |r3 AS (SELECT nd.id,
      |              CAST($PrBase + (85 * COALESCE(c3.sc, 0)) // 100 AS BIGINT) AS r
      |       FROM nd LEFT JOIN c3 ON nd.id = c3.id)
      |SELECT id AS vec_id, r AS rank_fp FROM r3""".stripMargin)
  )

  /** [[qPagerank]]'s body over an ARBITRARY quantized frame — the
    * library entry point (`iters`, `k`, `cellCap` free). */
  private[graft] def pageRankOf(e: DataFrame, iters: Int = PrIters,
                                k: Int = GraphK,
                                cellCap: Long = DeriveCap,
                                qz0: Option[CellQuantizer] = None): DataFrame =
    pageRankOnEdges(e.select(col("vec_id").as("id")),
                    knnGraphOf(e, k, cellCap, qz0).select("src", "dst"),
                    iters)
      .select(col("id").as("vec_id"), col("rank_fp"))

  /** The damped fixed-point power iteration itself, over an EXPLICIT
    * `(id)` node frame and `(src, dst)` edge frame — the seam the graph
    * construction is independent of (and the one the spec pins with
    * hand-computed ranks). */
  private[graft] def pageRankOnEdges(nodes: DataFrame, edgeList: DataFrame,
                                     iters: Int): DataFrame = {
    // edge list + out-degrees + NODES materialized ONCE (compact rows):
    // every round re-reads all three, and without the pins each round
    // would re-run the whole upstream construction — for the TextRank
    // caller the node frame alone is a corpus tokenize + df-filter
    val edges = checkpointCompact(edgeList)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    val withDeg = checkpointCompact(edges.join(deg, "src"))
    val pinnedNodes = checkpointCompact(nodes)
    var r = pinnedNodes.withColumn("r", lit(PrScale))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(r, col("src") === col("id"))
        .select(col("dst").as("id"), expr("r div d").as("c"))
        .groupBy("id").agg(sum("c").as("sc"))
      r = pinnedNodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
                (lit(PrBase) +
                   expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100"))
                  .as("r"))
    }
    r.select(col("id"), col("r").as("rank_fp"))
  }

  /**
   * TRIANGLE participation counts over the mutual-kNN graph — the
   * local-density / community-cohesion signal (a vector in many
   * triangles sits in a tight clique; triangle-free vectors are chain
   * or hub artifacts), and the classic test that a graph pipeline
   * handles the 3-way self-join shape. Canonical a < b < c enumeration
   * — each triangle found exactly once by two equi-joins over the
   * (n·K-bounded, checkpointed-once) mutual edge list — then each
   * corner credits its vertex; vectors in no triangle report 0, so the
   * output is total (n rows) and row-count drift catches a lost
   * corner. Never all-pairs: the first join fans out only along
   * existing edges (Σ deg² bounded by the mutual cap K per side), the
   * closing join is an equi-join on the (a, c) pair key.
   */
  val qTriangleCount = Q(
    "q_triangle_count",
    (s, dir) => triangleCountOf(quantized(s, dir),
                                qz0 = Some(gateQuantizer(s, dir)),
                                cellCap = DedupQueries.gateCellCap(s, dir)),
    Some(s"""$ivfCteDerived,
      |m AS (
      |  SELECT ce.vec_id, ce.cell, e.q
      |  FROM cell ce JOIN e ON e.vec_id = ce.vec_id
      |),
      |p AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |         CAST(list_sum(list_transform(generate_series(1, len(a.q)),
      |                i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |),
      |knn AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |           row_number() OVER (PARTITION BY src
      |                              ORDER BY dot DESC, dst ASC) AS rnk
      |    FROM p) WHERE rnk <= $GraphK
      |),
      |mut AS (
      |  SELECT k1.src AS a, k1.dst AS b
      |  FROM knn k1 JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src
      |  WHERE k1.src < k1.dst
      |),
      |tri AS (
      |  SELECT e1.a, e1.b, e2.b AS c
      |  FROM mut e1
      |  JOIN mut e2 ON e1.b = e2.a
      |  JOIN mut e3 ON e3.a = e1.a AND e3.b = e2.b
      |),
      |corner AS (
      |  SELECT a AS vec_id FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri
      |),
      |cnt AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
      |        FROM corner GROUP BY vec_id)
      |SELECT e.vec_id, COALESCE(cnt.n_triangles, 0) AS n_triangles
      |FROM e LEFT JOIN cnt ON e.vec_id = cnt.vec_id""".stripMargin)
  )

  /** [[qTriangleCount]]'s body over an ARBITRARY quantized frame. */
  private[graft] def triangleCountOf(e: DataFrame, k: Int = GraphK,
                                     cellCap: Long = DeriveCap,
                                     qz0: Option[CellQuantizer] = None)
      : DataFrame =
    trianglesOnMutual(e.select(col("vec_id")),
                      checkpointCompact(mutualEdgesOf(e, k, cellCap, qz0)))

  /** The triangle enumeration itself over EXPLICIT `(vec_id)` nodes and
    * `(a_id < b_id)` undirected edges — the spec's seam: canonical
    * a < b < c wedges closed by a semi-join on the (a, c) pair key,
    * corners credited per vertex, absent vertices report 0. */
  private[graft] def trianglesOnMutual(nodes: DataFrame,
                                       mut: DataFrame): DataFrame = {
    val tri = mut.as("e1")
      .join(mut.as("e2"), col("e1.b_id") === col("e2.a_id"))
      .select(col("e1.a_id").as("a"), col("e1.b_id").as("b"),
              col("e2.b_id").as("c"))
      .join(mut.as("e3"),
            col("a") === col("e3.a_id") && col("c") === col("e3.b_id"),
            "left_semi")
    // one explode, not a 3-branch union: the wedge+close join is the
    // dominant Σdeg² stage and a union would re-execute it per corner
    val corners = tri.select(
      explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
    val cnt = corners.groupBy("vec_id").agg(count(lit(1)).as("n_triangles"))
    nodes.select(col("vec_id").as("v"))
      .join(cnt, col("v") === col("vec_id"), "left")
      .select(col("v").as("vec_id"),
              coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  val all: Seq[Q] = Seq(qSimSearch, qSimSearchLsh, qSimSearchMp, qSimSearchIvf, qIvfProbe,
                        qIvfAppend, qKnnGraph, qSemanticClusters,
                        qClusterSample, qClusterProbe, qClusterSampleStored,
                        qClusterAppend, qClusterQuality,
                        qEmbedStats, qPagerank, qTriangleCount,
                        qHardNegatives, qCellAssignHier, qCellAssignStored)
}
