package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.vector.VectorOps

/**
 * Product-quantization ANN (SURVEY.md §7.4 extension; Jégou/Douze/Schmid,
 * "Product Quantization for Nearest Neighbor Search", TPAMI 2011): split
 * each quantized vector into [[M]] subspaces of dim/M dims each,
 * train a per-subspace codebook of ≤ [[KCents]] codewords (stride-seeded +
 * one relational Lloyd iteration — the [[SimQueries.ivfTrain]] discipline,
 * all integer/exact-double arithmetic so DuckDB replays it bit-for-bit),
 * encode every vector as [[M]] small codes, then answer queries by
 * ASYMMETRIC DISTANCE COMPUTATION: the query precomputes one (m, k) →
 * partial-dot table against the codebooks, and each candidate's
 * approximate dot is M table lookups over its codes — the corpus scan
 * never touches the full vectors.
 *
 * Why this is THE memory/IO scale path at 100 TB: [[SimQueries]]' IVF
 * prunes WHICH vectors a probe scans, but the probed cells still read
 * full vectors (dim × 8 bytes each). PQ codes are M bytes per vector
 * (M values in [0,256) — parquet dictionary+bitpack stores each in one
 * byte), so the ADC scan reads ~64× less than the 64-long raw-vector
 * scan, and a billion-vector cell index fits where raw vectors cannot. The ADC join itself is a broadcast of the per-query tables
 * (n_q · M · K longs — KB-scale) against the codes scan; no shuffle of
 * corpus data at any size. Recall is recovered by the standard two-stage
 * shape: ADC shortlist of [[ShortR]] candidates per query, then exact
 * integer-dot re-rank of the shortlist only (a broadcast semi-join back
 * to the full vectors — ShortR · n_q rows, never the corpus).
 *
 * Exactness/oracle design: codeword assignment minimizes exact integer
 * squared-L2 ([[VectorOps.intL2Sq]], codeword id tiebreak); trained
 * codewords are per-dimension FLOOR-means (sums/counts < 2⁵³ ⇒ the
 * double divide has exact inputs, FLOOR is engine-identical); partial
 * dots and ADC sums are exact integers — so shortlist membership and the
 * final ranking are deterministic and the DuckDB oracle replays the whole
 * chain, training included.
 */
object PqQueries {

  /** Subspace count (codes per vector). Sub-vector width is dim/M —
    * derived from the data, so the chain runs on any dimensionality
    * whose dim is a multiple of M (fixture embeddings 64-dim ⇒ 8-wide
    * subspaces; the 16-dim soak corpus ⇒ 2-wide). A deployment sizes M
    * to its recall/compression point (8 codes/vector ≈ dim·8/M× scan-
    * byte reduction vs raw longs). */
  private[queries] val M = 8

  /** Codewords per subspace — HARD cap, the [[SimQueries.ivfSeeds]]
    * discipline: the seed stride grows with the corpus
    * (max(1, ⌈n/K⌉)) and an ordered LIMIT makes the bound unconditional,
    * so the codebook broadcast is O(M · K · dim/M) at ANY corpus size. */
  private[queries] val KCents = 256

  /** ADC shortlist size per query (the re-rank budget). */
  private[queries] val ShortR = 50

  private val TopK = 10

  /** One row per (vec_id, m): the m-th dim/M-wide slice of the quantized
    * vector. A generator projection — pipelines inside the scan's
    * whole-stage codegen, no shuffle. */
  private[queries] def subspaces(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(sequence(lit(0), lit(M - 1))).as("m"),
             col("q"))
      .withColumn("sd", (size(col("q")) / M).cast("int"))
      .withColumn("sv", slice(col("q"), col("m") * col("sd") + 1, col("sd")))
      .drop("q", "sd")

  /** Seed vector ids, stride-sampled and HARD-capped at [[KCents]]
    * (ordered LIMIT ⇒ TakeOrderedAndProject — partitions keep local
    * top-K heads, the driver merges tiny heads; an adversarial
    * stride-aligned id space cannot blow the bound). One seed-id set for
    * ALL subspaces — every vector contributes a sub-vector to every m,
    * so seed k ids align across subspaces by construction. */
  private[queries] def pqSeedIds(e: DataFrame): DataFrame = {
    val st = e.agg(greatest(lit(1L),
      ceil(count(lit(1)).cast("double") / KCents).cast("long"))
      .as("__stride"))
    e.crossJoin(broadcast(st))
      .filter(col("vec_id") % col("__stride") === 0)
      .select("vec_id")
      .orderBy(col("vec_id").asc)
      .limit(KCents)
      // ≤ KCents rows survive the limit — the unpartitioned rank window
      // is a single tiny task, not a scale hazard
      .withColumn("k",
        (row_number().over(Window.orderBy(col("vec_id").asc)) - 1)
          .cast("int"))
  }

  /** Nearest codeword per (vec_id, m) against a broadcast codebook —
    * exact integer squared-L2, codeword id tiebreak (lowest k). The one
    * n·M·K pass; K is capped so the broadcast and per-row work are
    * constants in corpus size. Reused for the Lloyd pass and the final
    * encode; output keeps `sv` so training's mean pass needs no rejoin.
    *
    * Shape matters here, measured at sf0.1 (100 k vectors): the rank-
    * window argmin was 33.5 s end-to-end; replacing it with a
    * `min(struct(dist, k))` aggregate (map-side combine) cut the row
    * explosion's exchange but still burned ~13 s in the two n·M·K
    * passes' interpreted struct comparisons. This formulation has NO
    * row explosion at all: the codebook is flattened to one
    * K·subDim array per subspace (M = 8 broadcast rows), and the
    * whole K×subDim argmin loop runs row-locally inside whole-stage
    * codegen ([[VectorOps.pqNearest]] / [[graft.expr.PqNearestCode]])
    * over the n·M sub-vector rows — end-to-end 5.5 s. Same integers,
    * same tiebreak: the expression's strict `<` keeps the first (lowest
    * k) minimum, and `array_sort` on (k, cw) structs orders the flat
    * layout by k. */
  private def nearest(sub: DataFrame, cb: DataFrame): DataFrame = {
    val flat = cb
      .groupBy("m")
      .agg(array_sort(collect_list(struct(col("k"), col("cw")))).as("kc"))
      .select(col("m"),
              flatten(transform(col("kc"), x => x.getField("cw"))).as("cws"))
    sub.join(broadcast(flat), Seq("m"))
      .select(col("vec_id"), col("m"), col("sv"),
              VectorOps.pqNearest(col("sv"), col("cws")).as("k"))
  }

  /** Train the per-subspace codebooks: stride seeds → one Lloyd
    * iteration (per-(m,k,pos) FLOOR-mean of assigned sub-vectors) →
    * DENSE re-key of surviving cells (row_number per m over seed k), so
    * code values index a holeless per-subspace table — the ADC lookup
    * is `tab[code]` with no id translation. Empty seed cells simply
    * vanish; the re-key keeps both engines' tables aligned. */
  private[queries] def pqCodebook(e: DataFrame): DataFrame = {
    val sub = subspaces(e)
    val seedCb = sub.join(broadcast(pqSeedIds(e)), Seq("vec_id"))
      .select(col("m"), col("k"), col("sv").as("cw"))
    nearest(sub, seedCb)
      .select(col("m"), col("k"), posexplode(col("sv")))
      .groupBy("m", "k", "pos")
      .agg(sum("col").as("sv_sum"), count(lit(1)).as("cnt"))
      .withColumn("mv",
        floor(col("sv_sum").cast("double") / col("cnt")).cast("long"))
      .groupBy("m", "k")
      .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
      .select(col("m"), col("k"),
              transform(col("pm"), x => x.getField("mv")).as("cw"))
      // dense re-key: ≤ M·K rows, the per-m window is trivially small
      .withColumn("k",
        (row_number().over(Window.partitionBy("m").orderBy(col("k").asc)) - 1)
          .cast("int"))
  }

  /** Encode a corpus: per vector, the m-ordered array of its [[M]]
    * codeword ids — the compact representation the ADC scan reads. */
  private[queries] def pqCodes(sub: DataFrame, cb: DataFrame): DataFrame =
    nearest(sub, cb)
      .drop("sv")
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("k")))).as("mk"))
      .select(col("vec_id"),
              transform(col("mk"), x => x.getField("k")).as("codes"))

  /** Per-query ADC tables: ptab[m][k] = ⟨query sub-vector m, codeword
    * (m,k)⟩ (exact integer). n_q · M · K longs — broadcast-scale at any
    * corpus size. */
  /** `qIds`: the query id frame — the full `% 100` pool for the
    * cell-pruned IVF-PQ gate, the [[SimQueries.bruteQueries]] budget
    * draw for the flat-ADC gate (whose scan is corpus × queries). */
  private[queries] def pqQueryTables(sub: DataFrame, cb: DataFrame,
                                     qIds: DataFrame): DataFrame =
    sub.join(broadcast(qIds), sub("vec_id") === qIds("q_id"))
      .select(col("q_id"), col("m"), col("sv"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("pdot", VectorOps.intDot(col("sv"), col("cw")))
      .groupBy("q_id", "m")
      .agg(array_sort(collect_list(struct(col("k"), col("pdot")))).as("kp"))
      .withColumn("tab", transform(col("kp"), x => x.getField("pdot")))
      .groupBy("q_id")
      .agg(array_sort(collect_list(struct(col("m"), col("tab")))).as("mt"))
      .select(col("q_id"),
              transform(col("mt"), x => x.getField("tab")).as("ptab"))

  /** The ADC approximate dot of a codes row against a ptab row: M table
    * lookups + a sum, UNROLLED over the [[M]] compile-time subspaces into
    * builtin `element_at`/`+` expressions. The obvious
    * `aggregate(zip_with(...))` formulation is NOT usable in this hot
    * path: Spark's higher-order functions are `CodegenFallback`, so every
    * candidate row (n_q × cell-size rows — the largest row count in the
    * chain) would pay an interpreted closure eval AND sever the scan's
    * whole-stage-codegen span. Measured on the 50 k-vector soak corpus
    * (25 M flat-ADC candidates): q_pq_search 112.0 s → see BASELINE.md
    * round-12 ADC section for the unrolled number. Null semantics match
    * the HOF version: any missing/NULL lookup nulls the sum. */
  private[queries] def adcDot(ptab: org.apache.spark.sql.Column,
                              codes: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (0 until M).map { m =>
      element_at(element_at(ptab, m + 1), element_at(codes, m + 1) + 1)
    }.reduce(_ + _)

  /** Collapse (q_id, vec_id, adot) ADC candidate rows to the [[ShortR]]
    * best per query — the bounded top-k AGGREGATE, not a rank window:
    * the window would shuffle every (q_id, candidate) row at full width
    * where the aggregate's map-side combine ships ≤ ShortR rows per
    * (q_id, task). Same (adot desc, vec_id asc) total order, so the
    * oracles' ROW_NUMBER replay is unchanged. */
  private def adcShortlist(cand: DataFrame): DataFrame =
    cand.groupBy("q_id")
      .agg(graft.operators.TopK.topK(ShortR)(col("adot"), col("vec_id"))
        .as("top"))
      .select(col("q_id"), explode(col("top.items")).as("it"))
      .select(col("q_id"), col("it.id").as("vec_id"))

  /** Exact integer-dot re-rank of a (q_id, vec_id) shortlist against the
    * full vectors — ShortR·n_q rows through two broadcast joins, never
    * the corpus. Output shape matches the sibling ANN gates. */
  private def rerank(e: DataFrame, short: DataFrame): DataFrame = {
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("q").as("qq"))
    val wRank = Window.partitionBy("q_id")
      .orderBy(col("dot").desc, col("vec_id").asc)
    e.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("dot", VectorOps.intDot(col("qq"), col("q")))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= TopK)
      .select("q_id", "vec_id", "dot", "rnk")
  }

  /** PQ/ADC two-stage ANN behind the driver gate: train → encode → ADC
    * shortlist ([[ShortR]] per query, approximate-dot rank, vec_id
    * tiebreak) → exact integer-dot re-rank of the shortlist only. Output
    * shape matches the sibling ANN gates (q_id, vec_id, exact dot, rnk).
    * The oracle replays codebook training, encoding, the ADC scores, the
    * shortlist cut, AND the re-rank — a regression anywhere in the chain
    * (seed stride, floor-mean, dense re-key, table order, lookup index
    * base) hash-mismatches here. */
  /** The (codebook, codes) pair for a testdata dir, trained and encoded
    * AT MOST ONCE per process ([[LayoutQueries.memo]] —
    * round 22): the flat-ADC and IVF-PQ gates each trained an IDENTICAL
    * codebook and encoded the IDENTICAL corpus per call. Deterministic
    * in (code, input); both gates' oracles replay training + encoding
    * from scratch, so the memo cannot mask a regression — the
    * [[SimQueries.gateQuantizer]]/dsirFeatureFrame discipline. At 100 TB
    * this memo IS the production artifact: the codes table is the stored
    * index, written once and probed by every search. */
  private def sharedPqArtifacts(s: SparkSession,
                                dir: String): (DataFrame, DataFrame) = {
    val out = LayoutQueries.memo(s, dir, "pq-codebook") { out =>
      val e = SimQueries.quantizedFrame(s, dir)
      val cb = pqCodebook(e).localCheckpoint()
      cb.write.mode("overwrite").parquet(s"$out/cb")
      pqCodes(subspaces(e), cb).write.mode("overwrite")
        .parquet(s"$out/codes")
    }
    (s.read.parquet(s"$out/cb"), s.read.parquet(s"$out/codes"))
  }

  val qPqSearch = Q(
    "q_pq_search",
    (s, dir) => {
      val e = SimQueries.quantizedFrame(s, dir)
      val sub = subspaces(e)
      val (cb, codes) = sharedPqArtifacts(s, dir)
      // budget-sampled queries: the flat ADC scan is corpus × queries —
      // unbounded it was 263 s at the 200 k soak (round-18 VERDICT #3);
      // the IVF-pruned sibling below keeps the full pool
      val ptab = pqQueryTables(
        sub, cb, SimQueries.bruteQueries(e).select("q_id"))
      val cand = codes.join(broadcast(ptab), col("vec_id") =!= col("q_id"))
        .withColumn("adot", adcDot(col("ptab"), col("codes")))
      rerank(e, adcShortlist(cand))
    },
    Some(s"""${SimQueries.quantCte},
      |$pqCteBody,
      |${pqTablesCteOn(SimQueries.bruteQuerySql)},
      |padc AS (
      |  SELECT t.q_id, c.vec_id, CAST(SUM(t.pdot) AS BIGINT) AS adot
      |  FROM pcodes c JOIN pqtab t ON t.m = c.m AND t.k = c.k
      |  WHERE c.vec_id <> t.q_id
      |  GROUP BY t.q_id, c.vec_id
      |),
      |$pqSqlTail""".stripMargin)
  )

  /** DuckDB replay of [[pqQueryTables]] — per-query (m, k) partial dots;
    * assumes `psub`/`pcb` from [[pqCteBody]] are in scope. */
  private[queries] lazy val pqTablesCte: String =
    pqTablesCteOn("SELECT vec_id FROM e WHERE vec_id % 100 = 0")

  /** [[pqTablesCte]] with the query-id set parameterized (a bare id
    * subquery) — the flat-ADC gate passes the budget draw
    * ([[SimQueries.bruteQuerySql]]). */
  private[queries] def pqTablesCteOn(qsel: String): String =
    s"""pqs AS (SELECT vec_id AS q_id, m, sv AS qsv FROM psub
      |        WHERE vec_id IN ($qsel)),
      |pqtab AS (
      |  SELECT q.q_id, c.m, c.k,
      |         CAST(list_sum(list_transform(generate_series(1, len(q.qsv)),
      |                i -> q.qsv[i] * c.cw[i])) AS BIGINT) AS pdot
      |  FROM pqs q JOIN pcb c ON c.m = q.m
      |)""".stripMargin

  /** DuckDB replay of [[adcShortlist]] + [[rerank]] — assumes a `padc`
    * CTE (q_id, vec_id, adot) and `e` are in scope. The final SELECT of
    * both PQ gates. */
  private[queries] lazy val pqSqlTail: String =
    s"""pshort AS (
      |  SELECT q_id, vec_id FROM padc
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
      |            ORDER BY adot DESC, vec_id ASC) <= $ShortR
      |),
      |pexact AS (
      |  SELECT sh.q_id, sh.vec_id,
      |         CAST(list_sum(list_transform(generate_series(1, len(a.q)),
      |                i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      |  FROM pshort sh
      |  JOIN e a ON a.vec_id = sh.vec_id
      |  JOIN e b ON b.vec_id = sh.q_id
      |)
      |SELECT q_id, vec_id, dot,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |              ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
      |FROM pexact
      |QUALIFY rnk <= $TopK""".stripMargin

  /** IVF-PQ composed index (the billion-vector shape: FAISS IVF*,PQ* with
    * `by_residual=false`): the IVF coarse quantizer
    * ([[SimQueries.ivfTrain]], ≤ 256 trained cells, frozen stride cap)
    * routes each query to its [[SimQueries.NProbe]] nearest cells, and
    * the ADC scan runs ONLY over the codes of vectors assigned to those
    * cells — so query cost scales with cell size (corpus/cells ×
    * nprobe), not corpus size, AND each scanned candidate costs M bytes
    * instead of dim·8. Non-residual encoding (codebooks trained on raw
    * vectors, one global codebook set) keeps the entire chain exact
    * integers, so DuckDB replays BOTH trainings, the routing, the
    * cell-restricted ADC, the shortlist, and the re-rank; residual
    * encoding (FAISS's default) trades that replayability for recall at
    * equal M — a deployment flips to it by subtracting the cell centroid
    * before [[pqCodes]] and adding ⟨q, centroid⟩ to the ADC score.
    *
    * At 100 TB the codes+cell table is the stored index — written once,
    * partitioned by cell exactly like [[SimQueries.writeIvfLayout]]'s
    * raw-vector layout but ~64× smaller, probed with partition pruning. */
  val qIvfPqSearch = Q(
    "q_ivfpq_search",
    (s, dir) => {
      val e = SimQueries.quantizedFrame(s, dir)
      val sub = subspaces(e)
      val cents = SimQueries.sharedIvfCents(s, dir)
      val cells = SimQueries.ivfAssign1(e, cents)
        .select(col("vec_id"), col("c_id").as("cell"))
      val (cb, codes0) = sharedPqArtifacts(s, dir)
      val codes = codes0.join(cells, Seq("vec_id"))
      val probes = SimQueries.ivfAssign(e.filter(col("vec_id") % 100 === 0),
                                        cents)
        .select(col("vec_id").as("q_id"), col("c_id").as("p_cell"))
      val ptab = pqQueryTables(
        sub, cb,
        e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id")))
      val cand = codes
        .join(broadcast(probes),
              col("cell") === col("p_cell") && col("vec_id") =!= col("q_id"))
        .join(broadcast(ptab), Seq("q_id"))
        .withColumn("adot", adcDot(col("ptab"), col("codes")))
      rerank(e, adcShortlist(cand))
    },
    Some(s"""${SimQueries.ivfCte},
      |$pqCteBody,
      |$pqTablesCte,
      |qprobe AS (
      |  SELECT vec_id AS q_id, c_id AS p_cell FROM rk
      |  WHERE vec_id % 100 = 0 AND crn <= ${SimQueries.NProbe}
      |),
      |padc AS (
      |  SELECT p.q_id, c.vec_id, CAST(SUM(t.pdot) AS BIGINT) AS adot
      |  FROM qprobe p
      |  JOIN cell cl ON cl.cell = p.p_cell
      |  JOIN pcodes c ON c.vec_id = cl.vec_id AND c.vec_id <> p.q_id
      |  JOIN pqtab t ON t.q_id = p.q_id AND t.m = c.m AND t.k = c.k
      |  GROUP BY p.q_id, c.vec_id
      |),
      |$pqSqlTail""".stripMargin)
  )

  /** DuckDB replay of train → encode, assuming a CTE `e` (vec_id, q) is
    * in scope (prepend [[SimQueries.quantCte]] or [[SimQueries.ivfCte]]).
    * Defines: psub (sub-vectors), pst (seed stride), psids (capped seed
    * ids), pscb (seed codebook), pa0 (Lloyd assignment), ptcw (trained
    * floor-mean codewords), pcb (dense-rekeyed codebook), pcodes (per
    * (vec_id, m) final codes). All CTE names are `p`-prefixed so the
    * block composes beside the IVF CTEs without collision. */
  private[queries] lazy val pqCteBody: String =
    s"""pms AS (SELECT unnest(generate_series(0, ${M - 1})) AS m),
      |psub AS (
      |  SELECT vec_id, m,
      |         list_transform(generate_series(m * (len(q) // $M) + 1,
      |                                        (m + 1) * (len(q) // $M)),
      |                        i -> q[i]) AS sv
      |  FROM e CROSS JOIN pms
      |),
      |pst AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*) / $KCents.0) AS BIGINT)) AS stride
      |        FROM e),
      |psids AS (
      |  SELECT vec_id, CAST(rn - 1 AS INT) AS k FROM (
      |    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS rn
      |    FROM e WHERE vec_id % (SELECT stride FROM pst) = 0
      |  ) WHERE rn <= $KCents
      |),
      |pscb AS (SELECT s.m, i.k, s.sv AS cw
      |         FROM psub s JOIN psids i ON i.vec_id = s.vec_id),
      |pa0 AS (
      |  SELECT vec_id, m, k FROM (
      |    SELECT s.vec_id, s.m, c.k,
      |           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
      |             CAST(list_sum(list_transform(generate_series(1, len(s.sv)),
      |                    i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])))
      |                  AS BIGINT) ASC,
      |             c.k ASC) AS rn
      |    FROM psub s JOIN pscb c ON c.m = s.m
      |  ) WHERE rn = 1
      |),
      |pmem AS (
      |  SELECT a.m, a.k, unnest(generate_series(1, len(s.sv))) AS pos,
      |         unnest(s.sv) AS v
      |  FROM pa0 a JOIN psub s ON s.vec_id = a.vec_id AND s.m = a.m
      |),
      |ptcw AS (
      |  SELECT m, k,
      |         list(CAST(FLOOR(CAST(sv_sum AS DOUBLE) / cnt) AS BIGINT)
      |              ORDER BY pos) AS cw
      |  FROM (SELECT m, k, pos, CAST(SUM(v) AS BIGINT) AS sv_sum,
      |               COUNT(*) AS cnt
      |        FROM pmem GROUP BY m, k, pos)
      |  GROUP BY m, k
      |),
      |pcb AS (
      |  SELECT m,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY m ORDER BY k ASC) - 1
      |              AS INT) AS k,
      |         cw
      |  FROM ptcw
      |),
      |pcodes AS (
      |  SELECT vec_id, m, k FROM (
      |    SELECT s.vec_id, s.m, c.k,
      |           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
      |             CAST(list_sum(list_transform(generate_series(1, len(s.sv)),
      |                    i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])))
      |                  AS BIGINT) ASC,
      |             c.k ASC) AS rn
      |    FROM psub s JOIN pcb c ON c.m = s.m
      |  ) WHERE rn = 1
      |)""".stripMargin

  val all: Seq[Q] = Seq(qPqSearch, qIvfPqSearch)
}
