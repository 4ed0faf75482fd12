package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.TextOps
import graft.vector.VectorOps

/**
 * Deduplication operators over `documents.parquet` / `embeddings.parquet`
 * (SURVEY.md §7.4) — the LLM-training-data dedup family: exact
 * (content-hash), MinHash+LSH banding, n-gram Jaccard verification,
 * SimHash, and embedding-cosine near-dup.
 *
 * 100 TB posture, per operator:
 *  - exact dedup groups on a 128-bit content hash, never on the text
 *    itself — the shuffle carries 16-byte keys, not documents;
 *  - near-dup candidates come from LSH **banding** (docs sharing a band
 *    signature bucket), so the join is an equi-join on (band, signature) —
 *    never an O(n²) cross join; candidate count is tunable via bands×rows
 *    (here b=8, r=2 ⇒ P(candidate) ≈ J², keeping the pair set sparse);
 *  - the exact-Jaccard verify stage runs only on LSH candidates, so its
 *    cost is bounded by the banding, not by n²;
 *  - embedding near-dup buckets by `label` (standing in for any coarse
 *    partition key — an IVF cell id at scale) and only intra-bucket pairs
 *    are scored.
 *
 * Exactness: hashes are md5 hex strings and similarity math is integer
 * (see [[graft.text.TextOps]] / [[graft.vector.VectorOps]]) — the DuckDB
 * oracle replays every computation bit-for-bit.
 */

/**
 * A corpus Bloom sketch whose keys are `xxhash64(contentHash)` LONGS —
 * the scheme [[DedupQueries.bloomProbe]]'s native
 * `BloomFilterMightContain` probes with. The wrapper exists to make the
 * key scheme a compile-time contract: a Bloom false NEGATIVE in the
 * dedup pre-filter is a correctness bug (true duplicates skip the
 * anti-join and survive), and the only way to get one is a build/probe
 * key-scheme mismatch. The constructor is library-private — the sole
 * public mint is [[DedupQueries.bloomOf]], so an externally-built
 * string-keyed `BloomFilter` no longer type-checks into
 * [[DedupQueries.dedupAgainstIndexBloom]] (round-14 ADVICE: the scheme
 * change from string keys was documented but not enforced).
 *
 * SEALED ABSTRACT case class on purpose: a plain case class with a
 * `private[graft]` constructor still exposes the PUBLIC synthetic
 * `apply` and `copy` (verified against scalac 2.13 — an
 * outside-package `XxKeyedBloom(rawSketch)` compiled cleanly), which
 * would let a caller mint the type around [[DedupQueries.bloomOf]]
 * and defeat the whole contract. The abstract form suppresses both
 * synthetics; pattern matching and field access keep working.
 */
sealed abstract case class XxKeyedBloom private[graft] (
    sketch: org.apache.spark.util.sketch.BloomFilter)

object DedupQueries {

  private val NumBands = 8

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  /** Documents hash-distributed by doc_id BEFORE the explode-heavy stages.
    * The shingle×band fanout multiplies each doc ~400×; without this
    * exchange a compact scan (one small parquet split) would run the whole
    * blowup in one task. The pre-explode shuffle moves only the compact doc
    * rows; AQE is free to coalesce it (measured RIGHT for this family's
    * compute density: pinning the count via [[graft.queries.distributeBy]]
    * cost q_dedup_minhash 0.86→1.06 s warm — the round-11 A/B; contrast
    * [[qExactOverlap]], whose denser gram stage pins the count), and on a
    * real multi-file corpus it additionally balances the explode factor
    * across executors. */
  private[queries] def docsDistributed(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).repartition(col("doc_id"))

  /** (doc_id, shingle) — word-3-gram shingles, one row per occurrence.
    *
    * Single projection: the codegen'd [[graft.expr.WordShingles]] binds
    * its child ONCE per row. (History: the r1–r3 HOF shape needed a
    * separate token-materialization step because Catalyst does not CSE
    * inside interpreted lambda bodies — `shingles(split(text))` re-ran
    * the split per element_at, O(tokens²), measured 8× slower; the native
    * expression removed that hazard along with the interpretation.) */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    docsDistributed(s, dir)
      .select(col("doc_id"),
              explode(TextOps.shingles(TextOps.tokens(col("text")))).as("shingle"))

  /** Shared DuckDB CTE prefix: shingles per doc (matches [[shingled]]). */
  private val shingleCte: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      |  FROM d
      |)""".stripMargin

  /** Universal-hashing multipliers/offsets for the b×r MinHash family:
    * h_{band,row}(x) = (A·x + C) mod 2³², A odd and < 2³⁰ so A·x < 2⁶²
    * never overflows BIGINT in either engine (DuckDB errors on int64
    * overflow rather than wrapping). Index = band·2 + row. */
  private val HashA: Seq[Long] = Seq(
    0x2545F491L, 0x34D01A4DL, 0x1B873593L, 0x2E1F6B75L,
    0x27D4EB2FL, 0x165667B1L, 0x9E3779B1L & 0x3FFFFFFFL, 0x61C88647L & 0x3FFFFFFFL,
    0x38495AB5L, 0x2B7E1517L, 0x13198A2FL, 0x243F6A89L,
    0x31A6D1C5L, 0x1F83D9ABL, 0x2ED55D17L, 0x3C6EF373L)
  private val HashC: Seq[Long] = Seq(
    0x85EBCA6BL, 0xC2B2AE35L, 0x27220A95L, 0x165667919L & 0xFFFFFFFFL,
    0xD3A2646CL, 0xFD7046C5L, 0xB55A4F09L, 0x8F462907L,
    0xCA62C1D6L, 0x5A827999L, 0x6ED9EBA1L, 0x8F1BBCDCL,
    0x76543210L, 0x0FEDCBA9L, 0x89ABCDEFL, 0x13579BDFL)
  private val Mod32 = 4294967296L // 2^32

  /**
   * MinHash band signatures via one md5 per shingle + b×r universal-hash
   * permutations (the standard one-hash MinHash family): the 32-bit md5
   * prefix is the base hash, and each (band, row) applies (A·x+C) mod 2³².
   * One md5 per shingle occurrence instead of 2·b salted md5s — 16× less
   * hashing — and the MIN is over BIGINTs, so the aggregate stays a
   * HashAggregate and the signature shuffle carries 8-byte keys. Docs
   * agreeing on a full band signature (sig0, sig1) become candidates.
   */
  private def bandSignatures(shingleFrame: DataFrame): DataFrame = {
    def perm(band: Column, row: Int, base: Column): Column = {
      val a = element_at(array(HashA.map(lit): _*), band * 2 + row + 1)
      val c = element_at(array(HashC.map(lit): _*), band * 2 + row + 1)
      (base * a + c) % Mod32
    }
    shingleFrame
      // base hash materialized BEFORE the band explode: one md5 per
      // shingle, reused by all 8 bands
      .select(col("doc_id"),
              TextOps.md5Prefix32(md5(col("shingle"))).as("base"))
      .withColumn("band", explode(sequence(lit(0), lit(NumBands - 1))))
      .groupBy("doc_id", "band")
      .agg(
        min(perm(col("band"), 0, col("base"))).as("sig0"),
        min(perm(col("band"), 1, col("base"))).as("sig1")
      )
  }

  /** Batch band signatures for an ARBITRARY (doc_id, text) frame — the
    * [[bandSignatures]] pipeline without the testdata reader, so static
    * index builds (e.g. the eval side of streaming decontamination,
    * [[graft.streaming.StreamingDecontam]]) reuse the exact hash family. */
  private[graft] def bandSignaturesOf(docs: DataFrame): DataFrame =
    bandSignatures(docs.select(
      col("doc_id"),
      explode(TextOps.shingles(TextOps.tokens(col("text")))).as("shingle")))

  /** Per-ROW band signatures as `array<struct<band,sig0,sig1>>` — the
    * STATELESS formulation of [[bandSignatures]] (higher-order functions
    * over the shingle array; no explode, no groupBy), which is what a
    * streaming face needs in append mode: signature computation becomes a
    * per-row projection, so no state store and no shuffle. Same hash
    * family, same constants; equivalence with the batch aggregation is
    * asserted in `StreamingDecontamSpec`. Docs with no shingles (< 3
    * tokens) yield an empty array — `array_min` of the empty base set is
    * null and the filter drops those band structs, matching the batch
    * groupBy emitting no rows. A null text ALSO yields an EMPTY array
    * (not null): the outer `transform` runs over a literal
    * `sequence(0, NumBands-1)`, so null only nulls each struct's sig
    * fields, and the filter then drops all `NumBands` structs — callers
    * must not rely on `.isNull`; a downstream `explode` drops the
    * empty array identically to the batch side (pinned in
    * `StreamingDecontamSpec`). */
  private[graft] def bandSigArrayCol(text: Column): Column = {
    val bases = transform(TextOps.shingles(TextOps.tokens(text)),
                          s => TextOps.md5Prefix32(md5(s)))
    def aAt(i: Column) = element_at(array(HashA.map(lit): _*), i + 1)
    def cAt(i: Column) = element_at(array(HashC.map(lit): _*), i + 1)
    filter(
      transform(sequence(lit(0), lit(NumBands - 1)), b =>
        struct(
          b.as("band"),
          array_min(transform(bases,
            x => (x * aAt(b * 2) + cAt(b * 2)) % Mod32)).as("sig0"),
          array_min(transform(bases,
            x => (x * aAt(b * 2 + 1) + cAt(b * 2 + 1)) % Mod32)).as("sig1"))),
      s => s.getField("sig0").isNotNull)
  }

  /** DuckDB replay of [[TextOps.md5Prefix32]] over a hex-string column. */
  private[queries] def hex32(h: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 8),
       |   k -> CAST(strpos('0123456789abcdef', $h[k]) - 1 AS BIGINT)
       |        * CAST(POWER(16, 8 - k) AS BIGINT))) AS BIGINT)""".stripMargin

  private val bandSigCte: String = {
    def sqlList(xs: Seq[Long]) = xs.mkString("[", ", ", "]")
    s"""$shingleCte,
      |shb AS (
      |  SELECT doc_id, ${hex32("md5(shingle)")} AS base FROM sh
      |), sbb AS (
      |  SELECT doc_id, b.band AS band, base,
      |         (${sqlList(HashA)})[b.band * 2 + 1] AS a0,
      |         (${sqlList(HashC)})[b.band * 2 + 1] AS c0,
      |         (${sqlList(HashA)})[b.band * 2 + 2] AS a1,
      |         (${sqlList(HashC)})[b.band * 2 + 2] AS c1
      |  FROM shb, (SELECT unnest(generate_series(0, ${NumBands - 1})) AS band) b
      |), sig AS (
      |  SELECT doc_id, band,
      |         MIN((base * a0 + c0) % $Mod32) AS sig0,
      |         MIN((base * a1 + c1) % $Mod32) AS sig1
      |  FROM sbb
      |  GROUP BY doc_id, band
      |)""".stripMargin
  }

  /** Rows in buckets above this size are excluded from pair expansion
    * (and accounted via `observe`) — the skew guard's default threshold.
    * At the test SFs the largest real bucket is orders of magnitude
    * smaller, so the guard never fires on oracle-checked runs. */
  private[graft] val MaxBucket = 512

  /**
   * Bucket-local pair expansion with a skew guard.
   *
   * Every near-dup pair stage buckets rows by a band key and emits
   * intra-bucket pairs — O(k²) per bucket. LSH bucket sizes are small by
   * construction on real corpora, but nothing *enforces* that: a
   * degenerate corpus (say, thousands of byte-identical documents that
   * exact-dedup would have removed first) piles into one bucket, and a
   * single reducer would then hold the whole bucket as a list and emit k²
   * pairs. The guard: a window count sizes each bucket on the same hash
   * partitioning the pairing aggregation needs (so it costs a sort, not an
   * extra exchange), rows in buckets larger than `maxBucket` are dropped
   * BEFORE any per-bucket list is materialized, and the drop is accounted
   * via `observe` (`<guard>.skewed_rows` / `.max_bucket`) — the same
   * drop-accounting contract the TSV parser metrics established
   * ([[graft.ingest.HitParser.parseWithMetrics]]).
   *
   * `item` must be a struct whose FIRST field is the unique orderable id:
   * struct comparison is field-lexicographic, so `a < b` canonicalizes
   * pair orientation exactly as `a_id < b_id` does.
   */
  private[queries] def boundedBucketPairs(
      buckets: DataFrame, keyNames: Seq[String], item: Column,
      maxBucket: Int = MaxBucket,
      guard: String = "graft_skew_guard"): DataFrame = {
    val keys = keyNames.map(col)
    buckets
      .select(keys :+ item.as("it"): _*)
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(keys: _*)))
      .observe(guard,
               sum(when(col("bucket_n") > maxBucket, 1L).otherwise(0L))
                 .as("skewed_rows"),
               max(col("bucket_n")).as("max_bucket"))
      .filter(col("bucket_n") <= maxBucket)
      .groupBy(keys: _*)
      .agg(collect_list(col("it")).as("xs"))
      .filter(size(col("xs")) > 1)
      .withColumn("a", explode(col("xs")))
      .withColumn("b", explode(col("xs")))
      .filter(col("a") < col("b"))
      .drop("xs") // output: key columns + the (a, b) item pair
  }

  /** Connectivity-preserving STAR edges per bucket: (bucket-min, member)
    * instead of all C(k,2) pairs — k−1 edges where [[boundedBucketPairs]]
    * emits k(k−1)/2, with IDENTICAL reachability (a bucket's clique and
    * its star connect the same vertex set, so connected components over
    * the union across buckets are equal — the DuckDB oracles, which state
    * the fixpoint over the full pair edges, gate exactly this
    * equivalence). This is the edge set the CLUSTERING consumers must
    * use at scale: at the 500 k-doc soak the full pair list is 24.4 M
    * directed edges (150-member family buckets emit ~11 k pairs each)
    * versus ~2 M star edges — the difference between the components
    * loop's shuffle regime and its broadcast regime. Pair-OUTPUT queries
    * (q_dedup_minhash, q_ngram_jaccard, q_decontaminate) keep the full
    * expansion: their contract is the pair list itself.
    * Same window, skew guard, and cap as [[boundedBucketPairs]] — the
    * bucket-min rides the bucket_n window, no extra shuffle. */
  private[queries] def boundedBucketStars(
      buckets: DataFrame, keyNames: Seq[String], item: Column,
      maxBucket: Int = MaxBucket,
      guard: String = "graft_skew_guard"): DataFrame = {
    val keys = keyNames.map(col)
    val w = Window.partitionBy(keys: _*)
    buckets
      .select(keys :+ item.as("it"): _*)
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("mn", min(col("it")).over(w))
      .observe(guard,
               sum(when(col("bucket_n") > maxBucket, 1L).otherwise(0L))
                 .as("skewed_rows"),
               max(col("bucket_n")).as("max_bucket"))
      .filter(col("bucket_n") <= maxBucket)
      .filter(col("it") =!= col("mn"))
      .select(col("mn").as("a"), col("it").as("b")) // a < b by min-ness
  }

  /** Per-process parquet memo of the FULL corpus's band signatures
    * `(doc_id, band, sig0, sig1)` — signatures are PER-DOC (shingle →
    * minhash, no corpus statistics), so every subset face filters the
    * shared frame instead of re-signing its slice: q_minhash_incremental
    * alone signed the corpus FOUR times per run (build 4/5, probe 1/5,
    * the probe's own candidate pairs, append survivors), and
    * q_dedup_minhash + the component memo's star edges re-signed it
    * again (round-19 VERDICT item 2). The [[cachedDedupComponents]]
    * discipline: parquet under [[LayoutQueries.memo]], oracles
    * unchanged and independently replayed. */
  private def cachedBandSigs(s: SparkSession, dir: String): DataFrame = {
    val out = LayoutQueries.memo(s, dir, "band-sigs") { out =>
      bandSignaturesOf(docsDistributed(s, dir).select("doc_id", "text"))
        .write.mode("overwrite").parquet(s"$out/sigs")
    }
    s.read.parquet(s"$out/sigs")
  }

  /** [[candidatePairs]] over an ALREADY-SIGNED `(doc_id, band, sig0,
    * sig1)` frame — the seam that lets the gate path reuse
    * [[cachedBandSigs]]; same bucketing, cap, and skew guard. */
  private def candidatePairsSigned(sigs: DataFrame): DataFrame =
    boundedBucketPairs(sigs, Seq("band", "sig0", "sig1"),
                       struct(col("doc_id")),
                       guard = "graft_minhash_skew")
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** [[candidateStars]] over an already-signed frame — the
    * [[candidatePairsSigned]] sibling for components-bound consumers. */
  private def candidateStarsSigned(sigs: DataFrame): DataFrame =
    boundedBucketStars(sigs, Seq("band", "sig0", "sig1"),
                       struct(col("doc_id")),
                       guard = "graft_minhash_skew")
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** [[boundedBucketStars]] over the band signatures — the near-dup edge
    * set for [[components]]-bound consumers ([[qDedupClusters]],
    * candidate-mode [[dedupedCorpus]]). */
  private def candidateStars(shingleFrame: DataFrame): DataFrame =
    boundedBucketStars(bandSignatures(shingleFrame),
                       Seq("band", "sig0", "sig1"), struct(col("doc_id")),
                       guard = "graft_minhash_skew")
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** [[candidateStars]] over an ARBITRARY `(doc_id, text)` frame — the
    * clustering edge set behind [[dedupedCorpusOf]]. */
  private def candidateStarsOf(docsDf: DataFrame): DataFrame =
    boundedBucketStars(bandSignaturesOf(docsDf.select("doc_id", "text")),
                       Seq("band", "sig0", "sig1"), struct(col("doc_id")),
                       guard = "graft_minhash_skew")
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** LSH candidate pairs (a_id < b_id) from band-signature agreement.
    *
    * Bucket-local pairing rather than a sig⋈sig self-join: grouping by
    * (band, sig) computes the signature pipeline ONCE (a self-join would
    * recompute the whole shingle+md5 DAG per side) and emits pairs inside
    * each bucket. Bucket sizes are the LSH knob (b×r) — tiny by
    * construction — and [[boundedBucketPairs]] guards the degenerate
    * corpus where they aren't. */
  private def candidatePairs(shingleFrame: DataFrame): DataFrame =
    boundedBucketPairs(bandSignatures(shingleFrame),
                       Seq("band", "sig0", "sig1"), struct(col("doc_id")),
                       guard = "graft_minhash_skew")
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** [[candidatePairs]] over an ARBITRARY `(doc_id, text)` frame — the
    * entry point the SQL TVF surface (`graft_dedup`) and any non-testdata
    * caller use; identical banding, bucketing, and skew guard. */
  private[graft] def candidatePairsOf(docsDf: DataFrame): DataFrame =
    boundedBucketPairs(bandSignaturesOf(docsDf.select("doc_id", "text")),
                       Seq("band", "sig0", "sig1"), struct(col("doc_id")),
                       guard = "graft_minhash_skew")
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  private val candidateCte: String =
    s"""$bandSigCte,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM sig a JOIN sig b
      |    ON a.band = b.band AND a.sig0 = b.sig0 AND a.sig1 = b.sig1
      |       AND a.doc_id < b.doc_id
      |)""".stripMargin

  /** Exact dedup on the md5 of normalized text: one group per distinct
    * content, canonical id = min doc_id. The 16-byte hash is the shuffle
    * key — at 100 TB the text never leaves the map side. */
  val qDedupExact = Q(
    "q_dedup_exact",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextOps.contentHash(col("text")).as("content_hash"))
        .groupBy("content_hash")
        .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies")),
    Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
      |       MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1""".stripMargin)
  )

  /** MinHash LSH near-dup candidates: b=8 bands × r=2 rows of salted-md5
    * minima; pairs sharing any full band signature. */
  val qDedupMinhash = Q(
    "q_dedup_minhash",
    (s, dir) => candidatePairsSigned(cachedBandSigs(s, dir)),
    Some(s"""$candidateCte
      |SELECT a_id, b_id FROM cand""".stripMargin)
  )

  /** Exact word-3-gram Jaccard verification of the LSH candidates:
    * distinct-shingle intersection/union as exact integers plus a
    * near_dup flag at J ≥ 0.5. The verify stage's cost is bounded by the
    * banding — it never sees a non-candidate pair. */
  val qNgramJaccard = Q(
    "q_ngram_jaccard",
    (s, dir) => {
      // The scan+tokenize+shingle chain runs ONCE: per-doc DISTINCT
      // shingle sets (one array row per doc, built by a collect_set that
      // clusters on the doc_id partitioning docsDistributed established —
      // no exchange) are materialized via localCheckpoint, and BOTH stages
      // read them: the LSH candidates re-explode the sets (MinHash minima
      // over distinct shingles ≡ minima over occurrences, so signatures
      // are identical), and the verify stage joins the arrays directly
      // with a codegen'd array_intersect. History: r2 measured a
      // (doc, shingle)-keyed distinct() routing 3.5x slower — that shape
      // paid a full distinct SHUFFLE of every shingle string, which the
      // clustered collect_set does not; r3 ran the chain 4x (candidates +
      // sizes + both exploded join sides, 3.85s at sf0.1). Lifecycle: the
      // checkpoint blocks are freed by the ContextCleaner once the
      // returned frame becomes unreachable — per-invocation storage, not
      // a session-lifetime cache. NOTE for PLANS.md readers: the
      // materialization job (scan+shingle+collect_set, incl. its
      // repartition exchange) runs eagerly here, BEFORE the audited final
      // plan — the audit row shows only the post-checkpoint shuffles.
      // `shs` (the distinct shingle STRINGS) feeds the banding path —
      // signatures are md5-of-string, so this must stay the oracle's
      // representation. `hshs` is the same set as 64-bit xxhash64s for
      // the verify join: per PAIR the join otherwise shuffles two
      // ~n_sh-element string arrays (~2.8 KB/pair — ~126 GB through the
      // exchange at the 2 M-doc soak's 45 M pairs, where it went
      // spill-bound superlinear: 7.3× time at 4× pairs), and hashing
      // cuts that ~8×. |intersect(hashes)| = |intersect(strings)| unless
      // two DISTINCT shingles of one pair's union collide in 64 bits
      // (P ≈ n_union²/2⁶⁵ ≈ 10⁻¹⁶ per pair) — the same birthday-bound
      // argument the 128-bit gram key documents, here with per-pair sets
      // of ~10²–10⁴ grams, far under the bound at any corpus size.
      val ssets = checkpointCompact(
        shingled(s, dir)
          .groupBy("doc_id")
          .agg(collect_set(col("shingle")).as("shs"))
          .withColumn("hshs", transform(col("shs"), x => xxhash64(x))))
      val cand = candidatePairs(
        ssets.select(col("doc_id"), explode(col("shs")).as("shingle")))
      val a = ssets.select(col("doc_id").as("sa_id"), col("hshs").as("sa_shs"))
      val b = ssets.select(col("doc_id").as("sb_id"), col("hshs").as("sb_shs"))
      cand
        .join(a, col("a_id") === col("sa_id"))
        .join(b, col("b_id") === col("sb_id"))
        .select(col("a_id"), col("b_id"),
                size(array_intersect(col("sa_shs"), col("sb_shs")))
                  .cast("long").as("n_inter"),
                size(col("sa_shs")).cast("long").as("na_sh"),
                size(col("sb_shs")).cast("long").as("nb_sh"))
        // a candidate with ZERO shared distinct shingles (possible only via
        // a 32-bit base-hash collision between different shingles) is not a
        // verified pair — the oracle's shingle-equality join drops it, and
        // so must we
        .filter(col("n_inter") > 0)
        .select(
          col("a_id"), col("b_id"), col("n_inter"),
          (col("na_sh") + col("nb_sh") - col("n_inter")).as("n_union"),
          (col("n_inter") * 2 >= col("na_sh") + col("nb_sh") - col("n_inter"))
            .cast("int").as("near_dup")
        )
    },
    Some(s"""$candidateCte,
      |ss AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM ss GROUP BY doc_id),
      |iv AS (
      |  SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
      |  FROM cand c
      |  JOIN ss sa ON sa.doc_id = c.a_id
      |  JOIN ss sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
      |  GROUP BY c.a_id, c.b_id
      |)
      |SELECT i.a_id, i.b_id, CAST(i.n_inter AS BIGINT) AS n_inter,
      |       CAST(za.n_sh + zb.n_sh - i.n_inter AS BIGINT) AS n_union,
      |       CAST(2 * i.n_inter >= za.n_sh + zb.n_sh - i.n_inter AS INT) AS near_dup
      |FROM iv i
      |JOIN sz za ON za.doc_id = i.a_id
      |JOIN sz zb ON zb.doc_id = i.b_id""".stripMargin)
  )

  /** 64-bit SimHash frame (doc_id, sim_lo, sim_hi): per-bit majority
    * vote over the first 64 token-md5 bits, weighted by occurrence count.
    * The hash is carried as two 32-bit words (bits 0–31 / 32–63) so all
    * arithmetic stays in non-negative BIGINT range in both engines — no
    * sign-bit hazards on shifts or comparisons.
    *
    * Shape (fixing the r3 verdict's top finding): tokens are first
    * aggregated to DISTINCT (doc_id, tok) counts and the md5 is
    * materialized ONCE per distinct token BEFORE any bit work — the old
    * shape exploded bit positions per token *occurrence* and re-hashed
    * the token inside every exploded row. The per-bit vote is one
    * 64-column pivot aggregate: no bit-level row explosion at all, and
    * each bit extraction is integer nibble arithmetic over 16 hex digits
    * decoded once per token. Both aggregations cluster on doc_id, so
    * after the docsDistributed repartition the whole pipeline runs
    * without further exchange. Results are bit-identical to the
    * per-occurrence formulation (Σ_occurrences (2·bit−1) ≡
    * Σ_distinct cnt·(2·bit−1)), so the oracle SQL replays the simpler
    * per-occurrence math unchanged. */
  private def simhashFrame(s: SparkSession, dir: String): DataFrame = {
    val tokCounts = docsDistributed(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), md5(col("tok")).as("h"), col("cnt"))
    // the 16 hex nibbles holding md5 bits 0..63, decoded once per token
    val nibbles = tokCounts.select(
      Seq(col("doc_id"), col("cnt")) ++
        (1 to 16).map(p => TextOps.hexDigitVal(substring(col("h"), p, 1)).as(s"n$p")): _*)
    // w_j = Σ_tok cnt·(2·bit_j−1); bit j lives in nibble FLOOR(j/4)+1 at
    // position j%4 — the same mapping as TextOps.md5Bit / the oracle SQL
    val votes = (0 until 64).map { j =>
      val bitSet = col(s"n${j / 4 + 1}").bitwiseAND(lit(1 << (j % 4))) > 0
      sum(when(bitSet, col("cnt")).otherwise(-col("cnt"))).as(s"w$j")
    }
    def word(base: Int): Column = (0 until 32)
      .map(k => when(col(s"w${base + k}") > 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    nibbles
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), word(0).as("sim_lo"), word(32).as("sim_hi"))
  }

  private val simhashCte: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), tb AS (
      |  SELECT doc_id, tok, unnest(generate_series(0, 63)) AS j FROM tok
      |), bt AS (
      |  SELECT doc_id, j,
      |    CAST(FLOOR((strpos('0123456789abcdef',
      |                       substring(md5(tok), CAST(FLOOR(j / 4) AS INT) + 1, 1)) - 1)
      |               / POWER(2, j % 4)) AS INT) % 2 AS bit
      |  FROM tb
      |), w AS (
      |  SELECT doc_id, j, SUM(2 * bit - 1) AS w FROM bt GROUP BY doc_id, j
      |), sim AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN j < 32 AND w > 0
      |                       THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sim_lo,
      |         CAST(SUM(CASE WHEN j >= 32 AND w > 0
      |                       THEN CAST(POWER(2, j - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS sim_hi
      |  FROM w GROUP BY doc_id
      |)""".stripMargin

  /** Per-doc 64-bit SimHash signatures (two 32-bit words); the
    * hamming-pair stage buckets on their four 16-bit blocks. */
  val qDedupSimhash = Q(
    "q_dedup_simhash",
    (s, dir) => simhashFrame(s, dir),
    Some(s"""$simhashCte
      |SELECT doc_id, sim_lo, sim_hi FROM sim""".stripMargin)
  )

  /** Pairs at or under this hamming distance are emitted — and the band
    * family below finds ALL of them (exactness, not recall). */
  private[queries] val SimhashHammingMax = 3

  /** Hamming-pair stage over a (doc_id, sim_lo, sim_hi) frame via the
    * Manku/Jain/Sarma block-permutation family (WWW'07): the 64-bit hash
    * splits into b = 4 contiguous 16-bit blocks, and each of the 4 bands
    * keys on ONE block (d = 1). Any pair differing in k ≤ b − d = 3 bits
    * touches at most 3 blocks, so at least one block is clean and the
    * pair shares that band's key — the family is EXACT for hamming ≤
    * [[SimhashHammingMax]], and the final `bit_count` filter removes
    * band-collision false positives, so candidate = result = the full
    * ≤ 3-diff pair set. (This replaces the r5 32-bit quarter-pair
    * family, which was exact only for hamming ≤ 2 with a documented
    * residual miss at 3–4 spread diffs: widening the hash to 64 bits
    * buys whole-block keys that are both selective — 16-bit entropy,
    * the property that matters at 100 TB — and complete at k = 3.)
    * Candidate cost stays bucket-local and skew-guarded — never n².
    * [[qSimhashPairs]] is this over [[simhashFrame]]. */
  private[graft] def simhashPairs(sim: DataFrame,
                                    maxBucket: Int = MaxBucket): DataFrame = {
    def block(b: Int): Column = b match {
      case 0 => col("sim_lo").bitwiseAND(lit(65535L))
      case 1 => shiftright(col("sim_lo"), 16).bitwiseAND(lit(65535L))
      case 2 => col("sim_hi").bitwiseAND(lit(65535L))
      case _ => shiftright(col("sim_hi"), 16).bitwiseAND(lit(65535L))
    }
    val banded = sim
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
              explode(array((0 until 4).map { b =>
                struct(lit(b).as("band"), block(b).as("bkey"))
              }: _*)).as("bk"))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
              col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // Pair dedup is a distinct() over the (small) pair set. A canonical-
    // band emission ("keep the row whose band is the pair's FIRST clean
    // band" — a per-row predicate that would save this shuffle) was tried
    // and REVERTED: it composes unsoundly with the skew guard. The
    // canonical band is computed from the XOR mask alone, but if that
    // band's bucket was skew-dropped the pair only surfaces in a LATER
    // surviving band — whose row the filter then deletes, silently losing
    // a pair the guard accounting doesn't cover (regression-tested:
    // "skew-dropped canonical band" in DedupQueriesSpec).
    boundedBucketPairs(banded, Seq("band", "bkey"),
                       struct(col("doc_id"), col("sim_lo"), col("sim_hi")),
                       maxBucket = maxBucket, guard = "graft_simhash_skew")
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
              (bit_count(col("a.sim_lo").bitwiseXOR(col("b.sim_lo"))) +
                 bit_count(col("a.sim_hi").bitwiseXOR(col("b.sim_hi"))))
                .cast("long").as("hamming"))
      .filter(col("hamming") <= SimhashHammingMax)
      .distinct()
  }

  val qSimhashPairs = Q(
    "q_simhash_pairs",
    (s, dir) => simhashPairs(simhashFrame(s, dir)),
    // the band family is exact for hamming <= 3, so the oracle states the
    // semantics with no band condition at all: every <= 3-diff pair
    Some(s"""$simhashCte
      |SELECT a_id, b_id, hamming FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |         CAST(bit_count(xor(a.sim_lo, b.sim_lo))
      |              + bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT) AS hamming
      |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      |)
      |WHERE hamming <= $SimhashHammingMax""".stripMargin)
  )

  /**
   * Dedup cluster resolution: connected components over the LSH candidate
   * pairs, one row per document with its canonical `cluster_id` = the
   * smallest doc_id reachable through near-dup edges (singletons map to
   * themselves). Pairs alone don't dedup a corpus — A~B and B~C must
   * collapse to ONE keeper even when A~C was never a candidate; this is
   * the step that turns the pair stages into an actual dedup decision.
   *
   * Execution picks one of three regimes by measured edge volume:
   *  - pair list within the broadcast budget (the common case — the loop
   *    runs on the LSH OUTPUT, orders below the corpus): path-compressed
   *    union-find ON THE DRIVER — the edge list is by definition no more
   *    data than one broadcast would ship to every executor, and the
   *    resolution costs zero shuffle rounds instead of diameter/hops
   *    full job cycles;
   *  - beyond that: iterative min-label propagation (the Pregel pattern,
   *    what GraphX connected-components does under the hood): every doc
   *    starts labeled with itself; each round labels flow across edges
   *    and each node keeps the minimum; fixpoint after ≤ diameter
   *    rounds. Near-dup components are band-bucket cliques chained by
   *    overlap, so diameters are tiny (single digits at any scale). Per
   *    round the work is up to 3 fused map-side hop joins (edges
   *    broadcast when they fit an executor budget; hop count bounded by
   *    the measured worst-hub degree) closed by ONE min-aggregate — all
   *    shuffles on the label key, never any pair blowup;
   *  - edges beyond broadcast scale: the same loop with shuffle hop
   *    joins and an aggregate per hop.
   * The propagation loop is a CONVERGENCE loop, not a data loop — the
   * only values reaching the driver there are the one-row graph-stats
   * read and one label checksum per round.
   *
   * Two load-bearing mechanics of iterating DataFrames:
   *  - each round's labels are `localCheckpoint`ed — a persist() would
   *    cache the DATA but leave the logical plan nesting the previous
   *    round's plan (the tree triples per round; analysis alone went
   *    exponential — measured 1.3s → 82s/round by round 7 before OOM).
   *    localCheckpoint truncates lineage to the materialized partitions.
   *    On a cluster you'd use reliable checkpoint() to survive executor
   *    loss; same loop.
   *  - convergence is a label-sum checksum, not a prev⋈next diff join:
   *    labels only ever decrease, so the sum (exact, decimal) is strictly
   *    monotone until fixpoint — one cheap aggregate per round instead of
   *    a join.
   */
  /** Pair lists at or under this row count (≤ ~16 MB of (long, long)
    * rows — the same volume the loop regimes would `broadcast()` to
    * every executor) are resolved by union-find ON THE DRIVER: identical
    * data movement to one broadcast, zero shuffle rounds. */
  private[queries] val DriverEdgeLimit = 1L << 20

  /** Directed-edge lists at or under this row count are `broadcast()` in
    * the propagation loop (≤ ~128 MB — an executor-memory budget, not a
    * driver one) — the map-side-join regime. Above it, the hop join
    * falls back to a shuffle join and aggregation runs after every hop. */
  private[queries] val BroadcastEdgeLimit = 1L << 23

  /** Budget for the UNAGGREGATED path fan-out of a fused multi-hop round:
    * rows ≤ nNodes · maxDeg^hops must stay under this before the round's
    * single min-aggregate collapses them. */
  private val FanoutRowBudget = 1e8

  /** Regime observability for [[components]]: the last run's regime
    * choice and (for the loop regimes) fused-hop width and round count,
    * kept in-process AND echoed to stderr with a greppable tag — the
    * scale soak's evidence that the propagation regime actually ran
    * (VERDICT r9 asked for it observed, not just spec-forced). */
  private[graft] object CcObservability {
    // THREAD-LOCAL, not process-global: components() is synchronous, so a
    // caller always reads its own run's record even when other threads run
    // components() concurrently (parallel suites, multi-threaded apps) —
    // the stderr echo remains the process-global trace for the soak grep.
    private val lastTl = new ThreadLocal[String] { override def initialValue = "" }
    def last: String = lastTl.get
    private[queries] def record(msg: String): Unit = {
      lastTl.set(msg)
      System.err.println(s"[graft-cc] $msg")
    }
  }

  /** Min-label-propagation connected components over (a_id, b_id) pair
    * edges: one (id, lbl) row per NODE THAT HAS AN EDGE, lbl = smallest id
    * in its component. See [[qDedupClusters]] for the full mechanics and
    * the three execution regimes. Limits are parameters so tests can
    * force each regime on one fixture. */
  private[graft] def components(
      pairs: DataFrame,
      driverEdgeLimit: Long = DriverEdgeLimit,
      broadcastEdgeLimit: Long = BroadcastEdgeLimit): DataFrame = {
      val session = pairs.sparkSession
      import session.implicits._
      // materialized once — every consumer reuses the pair list without
      // re-running the chain that produced it (the union below would
      // otherwise run that chain TWICE, once per direction — measured
      // ~1 s at sf0.1)
      val pairs0 = checkpointCompact(
        pairs.select(col("a_id").cast("long").as("a_id"),
                     col("b_id").cast("long").as("b_id")))
      val nPairs = pairs0.count() // on materialized partitions — cheap
      if (nPairs == 0L)
        return pairs0.select(col("a_id").as("id"), col("b_id").as("lbl"))
      if (nPairs <= driverEdgeLimit) {
        // Driver union-find regime. This is NOT the driver-side-loop
        // anti-pattern: by regime definition the edge list is at most the
        // bytes the loop regimes would broadcast to EVERY executor, so
        // collecting it once to the driver moves strictly less data — and
        // path-compressed union-find resolves it in O(E α(E)) with zero
        // shuffle rounds, where the loop pays diameter/hops full job
        // cycles (measured at sf0.1: ~0.1 s vs ~3 s of loop rounds).
        // GraphX-style iterative propagation remains the path for edge
        // lists beyond broadcast scale.
        val edges = pairs0.as[(Long, Long)].collect()
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // min-root union: the smaller root wins, so every root IS its
          // component's min id — the fixpoint the loop regimes compute
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        CcObservability.record(s"regime=driver edges=$nPairs")
        return session.createDataset(parent.keys.toSeq.map(k => (k, find(k))))
          .toDF("id", "lbl")
      }
      val edges0 = pairs0.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs0.select(col("b_id").as("src"), col("a_id").as("dst")))
      // seed labels AND graph stats from ONE groupBy over the edges:
      // seeding with min(self, neighbors) starts every label one hop
      // ahead, and the per-node degree rides the same shuffle — the
      // stats read below then aggregates the tiny seed frame instead of
      // paying a second pass over the edges
      val seed = edges0.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("mn"), count(lit(1)).as("d"))
        .select(col("id"), least(col("id"), col("mn")).as("lbl"), col("d"))
        .localCheckpoint()
      val stats = seed.agg(count(lit(1)).as("n_nodes"), sum("d").as("n_edges"),
                           max("d").as("max_deg")).first()
      val (nNodes, nEdges, maxDeg) =
        (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      // Regime choice, measured not guessed:
      //  - broadcast-scale edge list: broadcast it, so a hop join is
      //    map-side and the only shuffle per round is the min-aggregate;
      //  - fuse up to 3 hops per materialization with ONE aggregate at the
      //    round end (profiled r5 at sf0.1: 1.8 s vs 2.9 s for agg-per-hop —
      //    the per-hop groupBy shuffle, not the join, dominated; deeper
      //    fusion re-measured SLOWER: the unaggregated frontier grows per
      //    hop, 8.2 s at h=5 vs 5.7 s at h=3). Unaggregated paths multiply
      //    by node degree per hop, so fused hops are bounded by the
      //    measured worst hub: largest h with nNodes·maxDeg^h within
      //    budget (a capped-bucket clique has maxDeg ≈ MaxBucket; h drops
      //    to 1 and the round degenerates to the classic agg-per-hop form).
      val smallGraph = nEdges <= broadcastEdgeLimit
      // Shuffle-loop regime: hash-partition the edge list by src ONCE and
      // materialize it — localCheckpoint preserves outputPartitioning, so
      // every round's hop join reuses the layout and only the NODE-sized
      // label frame exchanges per round. Unpartitioned, the full edge
      // frame re-shuffled on every round (24 M rows × 18 rounds at the
      // 500 k-doc soak) — the dominant cost of the regime. The broadcast
      // regime needs neither: its hop join is map-side by construction.
      val edges =
        if (smallGraph) broadcast(edges0)
        else checkpointCompact(distributeBy(edges0, col("src")))
      val fusedHops =
        if (!smallGraph) 1
        else (3 to 1 by -1).find { h =>
          nNodes.toDouble * math.pow(math.max(maxDeg, 1L).toDouble, h.toDouble) <=
            FanoutRowBudget
        }.getOrElse(1)
      // only docs with at least one near-dup edge enter the loop: the
      // iteration scales with the LSH OUTPUT (paired docs + edges), never
      // the corpus — singletons (the vast majority of any real corpus)
      // join back once at the end
      var labels = seed.select("id", "lbl")
      var prevSum: Any = None
      var converged = false
      var rounds = 0
      // one label-flow step: push labels across edges (no aggregation —
      // the round's closing min collapses all ≤ fusedHops-length paths)
      def push(l: DataFrame): DataFrame =
        l.join(edges, col("id") === col("src"))
          .select(col("dst").as("id"), col("lbl"))
          .union(l)
      def round(l: DataFrame): DataFrame = {
        var frontier = l
        (1 to fusedHops).foreach { _ => frontier = push(frontier) }
        // materialized before the shortcut self-join so the hop+agg chain
        // runs once, not once per join side
        val hopped = frontier.groupBy("id").agg(min("lbl").as("lbl"))
          .localCheckpoint()
        // Pointer-jumping shortcut: lbl ← lbl(lbl). Labels are node ids,
        // so the label's own row carries a label at least as small; one
        // NODE-sized self-join per round makes the effective hop distance
        // DOUBLE each round instead of advancing fusedHops linearly —
        // rounds drop from O(diameter) to O(log diameter). This is what
        // bounds the shuffle-loop regime on collision-chained graphs: the
        // 500 k-doc soak's component diameter stretched to ~17 via chained
        // band-collision singletons (18 one-hop rounds over a 24 M-edge
        // join); the shortcut join touches only the nodes frame (~1 % of
        // the edge volume), so trading it for edge-join rounds is the
        // right exchange at any scale where edges ≫ nodes. j_lbl ≤ lbl
        // by monotonicity, so coalesce (null only if an invariant broke)
        // needs no least().
        hopped.join(
            hopped.select(col("id").as("j_id"), col("lbl").as("j_lbl")),
            col("lbl") === col("j_id"), "left")
          .select(col("id"), coalesce(col("j_lbl"), col("lbl")).as("lbl"))
      }
      while (!converged && rounds < 50) {
        // labels travel fusedHops per round; since labels only ever
        // decrease, sum-stability still detects the fixpoint exactly
        labels = round(labels).localCheckpoint()
        val sumNow = labels.agg(sum(col("lbl").cast("decimal(38,0)"))).first().get(0)
        converged = sumNow == prevSum
        prevSum = sumNow
        rounds += 1
      }
      require(converged, s"label propagation did not converge in $rounds rounds")
      CcObservability.record(
        s"regime=${if (smallGraph) "broadcast-loop" else "shuffle-loop"} " +
          s"nodes=$nNodes edges=$nEdges maxDeg=$maxDeg " +
          s"fusedHops=$fusedHops rounds=$rounds")
      labels
  }

  val qDedupClusters = Q(
    "q_dedup_clusters",
    (s, dir) => {
      val labels = components(candidateStars(shingled(s, dir)))
      docs(s, dir).select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
                coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
    },
    // the oracle states the fixpoint directly: min label reachable through
    // the undirected candidate edges (recursive CTE, UNION-distinct; the
    // RECURSIVE keyword must head the whole WITH list in DuckDB)
    Some(s"""${candidateCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
      |e2 AS (SELECT a_id AS s, b_id AS d FROM cand
      |       UNION ALL SELECT b_id, a_id FROM cand),
      |walk(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e2.d, w.lbl FROM walk w JOIN e2 ON e2.s = w.id
      |)
      |SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY id""".stripMargin)
  )

  /** (doc_id, cluster_id) for EVERY document under the FULL dedup
    * component structure — exact normalized-content edges ∪ LSH-candidate
    * near edges, the same fixpoint [[dedupedCorpus]] keys its survivor
    * rule on — singletons labeled as their own cluster. [[qDedupClusters]]
    * is the near-edge-only diagnostic; this is the composition-grade
    * labeling behind the group-aware split
    * ([[CurationQueries.qSplitCluster]]). */
  private[queries] def clusterIds(s: SparkSession, dir: String): DataFrame =
    labelAll(docs(s, dir), cachedDedupComponents(s, dir))

  /** Per-process parquet memo of the TEXT-dedup component labels
    * `(id, lbl)` over the candidate-star ∪ exact edge set — the
    * `cachedClusterLabels` discipline applied to the text family:
    * SIX gates (deduped/canonical/curated/pretrain corpus, dedup
    * report, split-by-cluster) each re-ran the banding + component
    * fixpoint per bench pass (round-19 VERDICT item 2). Deterministic
    * in (code, input); every consumer's oracle still replays the whole
    * fixpoint independently, so the memo cannot mask a regression —
    * the first consumer's hash would catch it. Arbitrary-frame
    * surfaces ([[clusterIdsOf]], [[dedupedCorpusOf]],
    * [[canonicalCorpusOf]]) stay self-contained. */
  private def cachedDedupComponents(s: SparkSession, dir: String): DataFrame = {
    val out = LayoutQueries.memo(s, dir, "dedup-components") { out =>
      components(dedupEdges(docs(s, dir),
                            candidateStarsSigned(cachedBandSigs(s, dir))))
        .write.mode("overwrite").parquet(s"$out/labels")
    }
    s.read.parquet(s"$out/labels")
  }

  /** [[clusterIds]] over an ARBITRARY `(doc_id, text, …)` frame — the
    * `graft_split_cluster` TVF's labeling (identical edge set to
    * [[dedupedCorpusOf]]). */
  private[graft] def clusterIdsOf(docsDf: DataFrame): DataFrame =
    labelAll(docsDf, components(dedupEdges(docsDf, candidateStarsOf(docsDf))))

  /** Extend a [[components]] labels frame (edge-bearing nodes only) to
    * the WHOLE corpus: singletons become their own cluster. */
  private def labelAll(docsDf: DataFrame, labels: DataFrame): DataFrame =
    docsDf.select(col("doc_id"))
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
              coalesce(col("lbl"), col("doc_id")).as("cluster_id"))

  /**
   * The end-to-end dedup decision as one library call: the full corpus
   * minus near-duplicates — every document whose doc_id IS its cluster's
   * canonical id (cluster members with larger ids are the removed dupes;
   * singletons are their own canonical and always survive). This is the
   * composition a training-data pipeline actually runs:
   * exact normalized-content edges ∪ near-dup edges (shingle → MinHash
   * bands → candidate pairs) → connected components → keep one per
   * cluster. Exact (case/whitespace-normalized) duplicates are ALWAYS
   * edges, in both modes — they are duplicates by definition and raw-
   * token shingles can miss them. With `verify = true` the NEAR edges
   * are the Jaccard-VERIFIED pairs (J ≥ 0.5) instead of raw LSH
   * candidates — the precision knob: LSH false positives can chain
   * unrelated documents into one component and silently over-delete,
   * which verification bounds at the cost of the intersection stage
   * (exact edges are outside that knob by design).
   * Driver-gated via [[qDedupedCorpus]] (LSH-candidate mode) and
   * contract-tested in `DedupQueriesSpec`.
   */
  def dedupedCorpus(s: SparkSession, dir: String,
                    verify: Boolean = false): DataFrame = {
    if (verify)
      dedupeWithPairs(docs(s, dir),
                      qNgramJaccard.fn(s, dir)
                        .filter(col("near_dup") === 1).select("a_id", "b_id"))
    else // the candidate-mode fixpoint is the shared per-process memo
      dedupeWithComponents(docs(s, dir), cachedDedupComponents(s, dir))
  }

  /** [[dedupedCorpus]] (LSH-candidate mode) over an ARBITRARY
    * `(doc_id, text, …)` frame — the `graft_dedup('t', 'lsh')` TVF
    * delegate. Returns the surviving rows with all input columns. */
  def dedupedCorpusOf(docsDf: DataFrame): DataFrame =
    dedupeWithPairs(docsDf, candidateStarsOf(docsDf))

  /** Exact (normalized-content) dedup over an ARBITRARY
    * `(doc_id, text, …)` frame: keep the min-doc_id row per distinct
    * content — the `graft_dedup('t', 'exact')` TVF delegate. The
    * left-semi join ships only (hash, id) pairs; text never shuffles.
    * Null-text rows have NO content hash and are all kept — absent
    * content is not evidence of duplication, and this is exactly what
    * the 'lsh' composition does (its exact-edge equi-join on `h` never
    * matches nulls), so `graft_dedup`'s 'exact' mode can never remove a
    * row the documented superset 'lsh' mode keeps. */
  def exactDedupOf(docsDf: DataFrame): DataFrame =
    docsDf.join(
      docsDf.select(col("doc_id"), TextOps.contentHash(col("text")).as("h"))
        .filter(col("h").isNotNull)
        .groupBy("h").agg(min("doc_id").as("doc_id"))
        .select("doc_id"),
      Seq("doc_id"), "left_semi")
      .unionByName(docsDf.filter(TextOps.contentHash(col("text")).isNull))

  /** The shared dedup composition core: near-dup edges ∪ exact
    * (normalized-content) edges → connected components → drop every doc
    * that is not its component's min. One body behind [[dedupedCorpus]]
    * (both modes) and [[dedupedCorpusOf]], so the corpus-level and
    * arbitrary-frame surfaces cannot drift. */
  private def dedupeWithPairs(docsDf: DataFrame,
                              nearPairs: DataFrame): DataFrame =
    dedupeWithComponents(docsDf, components(dedupEdges(docsDf, nearPairs)))

  /** The min-survivor rule over an ALREADY-RESOLVED component frame —
    * the seam that lets the gate path reuse
    * [[cachedDedupComponents]]: paired docs that are NOT their
    * component's min are the removals; everything else (canonical ids
    * + singletons) survives. */
  private def dedupeWithComponents(docsDf: DataFrame,
                                   comp: DataFrame): DataFrame = {
    val removed = comp
      .filter(col("id") =!= col("lbl")).select(col("id"))
    docsDf.join(removed, col("doc_id") === col("id"), "left_anti")
  }

  /** Near edges ∪ exact edges — the ONE edge-set definition under every
    * dedup composition ([[dedupeWithPairs]] min-survivor and
    * [[canonicalCorpus]] quality-survivor).
    *
    * Exact (normalized-content) duplicates are ALWAYS edges — they are
    * duplicates by definition, no LSH recall or Jaccard verification
    * applies. LSH shingles run over RAW tokens, so a case/whitespace
    * variant of a doc can evade the near-dup bands entirely; without
    * this union the composition would keep both copies. One 16-byte
    * hash groupBy + equi-join — the cheap stage, exactly the
    * "exact-dedup removes those first" convention the skew guard's
    * scaladoc already relies on. localCheckpoint: the self-join's two
    * inputs differ below their exchanges (one aggregates), so
    * ReuseExchange can't dedup them — unmaterialized, the corpus scan
    * and the normalize+md5 would run twice. */
  private def dedupEdges(docsDf: DataFrame,
                         nearPairs: DataFrame): DataFrame = {
    val hashes = checkpointCompact(
      docsDf.select(col("doc_id"), TextOps.contentHash(col("text")).as("h")))
    val exactPairs = hashes
      .join(hashes.groupBy("h").agg(min("doc_id").as("a_id")), "h")
      .filter(col("doc_id") =!= col("a_id"))
      .select(col("a_id"), col("doc_id").as("b_id"))
    nearPairs.union(exactPairs)
  }

  /** Cross-corpus decontamination over ARBITRARY train/eval frames (each
    * `(doc_id, text, …)`): every LSH band collision between a train and
    * an eval document, deduped to distinct `(train_id, eval_id)` pairs —
    * the `graft_decontaminate('train', 'eval')` TVF delegate and the
    * two-table generalization of [[qDecontaminate]] (which derives the
    * two sides from one corpus's split column). Signatures are computed
    * PER SIDE, so doc_ids may collide across the two tables without
    * merging documents; the pairing is a (band, sig) equi-join — AQE
    * broadcasts the eval side when it is benchmark-suite-sized (the
    * normal case; see [[graft.streaming.StreamingDecontam]]'s contract) —
    * with each side capped at `MaxBucket` rows per band key (hot-set
    * broadcast anti-join) so a degenerate corpus can't blow up the
    * join's per-key fanout. */
  def decontaminatePairs(train: DataFrame, eval: DataFrame): DataFrame = {
    // Skew guard, map-side formulation: a degenerate corpus (thousands of
    // byte-identical docs sharing a band key with even one eval doc)
    // would otherwise fan out k_train × k_eval rows through single tasks.
    // The HOT key set is tiny by construction (keys above the cap), so a
    // broadcast ANTI join drops their rows without shuffling the
    // signature frame at all — the hot-set dual of boundedBucketPairs'
    // cap, with the same threshold; dropped-key volume is `observe`-
    // accounted on the hot frame (`<guard>.skewed_keys` / `.max_bucket`).
    def capped(sigs: DataFrame, guard: String): DataFrame = {
      val hot = sigs.groupBy("band", "sig0", "sig1")
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > MaxBucket)
        .observe(guard, count(lit(1)).as("skewed_keys"),
                 max(col("__n")).as("max_bucket"))
        .select("band", "sig0", "sig1")
      sigs.join(broadcast(hot), Seq("band", "sig0", "sig1"), "left_anti")
    }
    capped(bandSignaturesOf(train.select("doc_id", "text"))
             .select(col("band"), col("sig0"), col("sig1"),
                     col("doc_id").as("train_id")),
           "graft_decontam_train_skew")
      .join(capped(bandSignaturesOf(eval.select("doc_id", "text"))
                     .select(col("band"), col("sig0"), col("sig1"),
                             col("doc_id").as("eval_id")),
                   "graft_decontam_eval_skew"),
            Seq("band", "sig0", "sig1"))
      .select("train_id", "eval_id")
      .distinct()
  }

  /** The exact-edge ∪ near-edge → components → min-survivor tail of the
    * dedup composition oracles, parameterized by the near-pair relation
    * (`cand` for LSH-candidate mode, `ver` for Jaccard-verified mode) so
    * both modes state the SAME fixpoint over different edge sets. */
  private def keptSuffix(near: String): String =
    s"""${walkSuffix(near)},
      |kept AS (SELECT id AS doc_id FROM walk GROUP BY id HAVING MIN(lbl) = id)""".stripMargin

  /** The exact-edge ∪ near-edge → components fixpoint, ending at `walk`
    * (id → every reachable label) — factored from [[keptSuffix]] so the
    * quality-aware canonical pick ([[qCanonicalCorpus]]) states the SAME
    * component structure and only swaps the survivor rule. */
  private def walkSuffix(near: String): String =
    s"""eh AS (
      |  SELECT doc_id,
      |         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
      |  FROM documents
      |),
      |em AS (SELECT h, MIN(doc_id) AS m_id FROM eh GROUP BY h),
      |ep AS (SELECT em.m_id AS a_id, eh.doc_id AS b_id
      |       FROM eh JOIN em ON eh.h = em.h WHERE eh.doc_id <> em.m_id),
      |alle AS (SELECT a_id, b_id FROM $near UNION SELECT a_id, b_id FROM ep),
      |e2 AS (SELECT a_id AS s, b_id AS d FROM alle
      |       UNION ALL SELECT b_id, a_id FROM alle),
      |walk(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e2.d, w.lbl FROM walk w JOIN e2 ON e2.s = w.id
      |)""".stripMargin

  /** Shared oracle prefix for the dedup COMPOSITIONS: the recursive-CTE
    * fixpoint of [[qDedupClusters]] extended with the exact
    * normalized-content edges, ending in `kept` — the canonical
    * (id = min reachable label) doc_ids [[dedupedCorpus]] keeps.
    * [[qDedupedCorpus]] reads it directly;
    * [[CurationQueries.qCuratedCorpus]] layers the quality gate and split
    * assignment on top, so the two gates can never drift on the dedup
    * semantics. */
  private[queries] val dedupedKeptCte: String =
    s"""${candidateCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
      |${keptSuffix("cand")}""".stripMargin

  /** Oracle prefix replaying [[clusterIds]]: the exact∪near fixpoint
    * ending in `clus (doc_id, cluster_id)` — every document labeled,
    * singletons as their own cluster. */
  private[queries] val clusterIdsCte: String =
    s"""${candidateCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
      |${walkSuffix("cand")},
      |clus AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
      |         FROM walk GROUP BY id)""".stripMargin

  /** The flagship composition behind the driver's correctness gate: the
    * doc_ids [[dedupedCorpus]] keeps (LSH-candidate mode) — the one-call
    * API users actually run, driver-checked end-to-end rather than only
    * contract-tested. */
  val qDedupedCorpus = Q(
    "q_deduped_corpus",
    (s, dir) => dedupedCorpus(s, dir).select(col("doc_id")),
    Some(s"""$dedupedKeptCte
      |SELECT doc_id FROM kept""".stripMargin)
  )

  /** [[dedupedCorpus]]'s PRECISION mode (`verify = true`) as its own
    * gated query: near edges are the Jaccard-VERIFIED pairs (J ≥ 0.5)
    * instead of raw LSH candidates; exact normalized-content edges stay
    * unconditional. The knob is not hypothetical — at the 500 k-doc soak
    * (64-word vocabulary, so band-collision false positives are dense)
    * candidate mode over-deleted 58 465 of 350 000 singletons and chained
    * 103 of 1 000 planted families into shared components, while this
    * mode kept exactly the right set in LESS wall time (85.5 s vs
    * 107.3 s): the verified edge set is ~10× smaller, so the components
    * stage gets cheaper than the intersection stage costs (BASELINE.md
    * round-12 soak). At 100 TB this is the mode a production pipeline
    * should default to; candidate mode remains the recall-max variant. */
  val qDedupedVerified = Q(
    "q_deduped_verified",
    (s, dir) => dedupedCorpus(s, dir, verify = true).select(col("doc_id")),
    Some(s"""${candidateCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
      |ss AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM ss GROUP BY doc_id),
      |iv AS (
      |  SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
      |  FROM cand c
      |  JOIN ss sa ON sa.doc_id = c.a_id
      |  JOIN ss sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
      |  GROUP BY c.a_id, c.b_id
      |),
      |ver AS (
      |  SELECT i.a_id, i.b_id FROM iv i
      |  JOIN sz za ON za.doc_id = i.a_id
      |  JOIN sz zb ON zb.doc_id = i.b_id
      |  WHERE 2 * i.n_inter >= za.n_sh + zb.n_sh - i.n_inter
      |),
      |${keptSuffix("ver")}
      |SELECT doc_id FROM kept""".stripMargin)
  )

  /**
   * Quality-aware canonical selection — the dedup composition with the
   * survivor rule production pipelines actually want: per duplicate
   * component keep the member with the MOST CONTENT (max n_chars,
   * min doc_id tiebreak), not the smallest id. First-occurrence keeping
   * ([[qDedupedCorpus]]) silently discards the longest/cleanest copy
   * whenever a truncated variant happens to carry the smaller id — on
   * real crawls (snippet pages, AMP mirrors, paywall stubs duplicating
   * full articles) that is the COMMON case, and the kept corpus is
   * measurably worse for it. Same edge set, same components fixpoint —
   * only the per-component argmax differs, stated as two exact integer
   * aggregates (max n_chars, then min doc_id among the maximal) so no
   * engine-divergent struct/argmax comparison is involved.
   *
   * Scale shape: reuses [[dedupEdges]] + [[components]]; the membership
   * join hashes on doc_id, the argmax is two map-combinable aggregates
   * keyed by component label — nothing beyond [[dedupedCorpus]]'s cost
   * but one extra tiny agg. Output one row per surviving component
   * (singletons included: a doc absent from the pair set is its own
   * component) with its size — the cluster accounting a curation report
   * wants alongside the kept ids.
   */
  def canonicalCorpus(s: SparkSession, dir: String): DataFrame =
    canonicalCorpusOf(docs(s, dir),
                      comp0 = Some(cachedDedupComponents(s, dir)))

  /** [[canonicalCorpus]] over an ARBITRARY `(doc_id, text, n_chars, …)`
    * frame — the `graft_canonical_dedup('t')` TVF delegate. */
  def canonicalCorpusOf(d: DataFrame,
                        comp0: Option[DataFrame] = None): DataFrame = {
    val comp = comp0.getOrElse(components(dedupEdges(d, candidateStarsOf(d))))
    val mem = d.select(col("doc_id"), col("n_chars"))
      .join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), col("n_chars"),
              coalesce(col("lbl"), col("doc_id")).as("comp"))
    val mx = mem.groupBy("comp")
      .agg(max("n_chars").as("mc"), count(lit(1)).as("n_members"))
    mem.join(mx, Seq("comp"))
      .filter(col("n_chars") === col("mc"))
      .groupBy("comp", "n_members")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id", "n_members")
  }

  /** Shared oracle prefix ending in `ckept(doc_id, n_members)` — the
    * quality-aware canonical survivors. One statement, two gated
    * consumers ([[qCanonicalCorpus]] and the
    * [[CurationQueries.qPretrainCorpus]] composition — the
    * [[dedupedKeptCte]] discipline). CTE names are c-prefixed so the
    * composition can layer [[CurationQueries.repSignalCtes]] (whose
    * relations are `d`/`<p>u`/…) on top without collision. */
  private[queries] val canonicalKeptCte: String =
    s"""${candidateCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
      |${walkSuffix("cand")},
      |cm AS (SELECT id, MIN(lbl) AS comp FROM walk GROUP BY id),
      |cmem AS (
      |  SELECT d.doc_id, d.n_chars, cm.comp
      |  FROM documents d JOIN cm ON d.doc_id = cm.id
      |),
      |cmx AS (
      |  SELECT comp, MAX(n_chars) AS mc,
      |         CAST(COUNT(*) AS BIGINT) AS n_members
      |  FROM cmem GROUP BY comp
      |),
      |ckept AS (
      |  SELECT MIN(cmem.doc_id) AS doc_id, cmx.n_members
      |  FROM cmem JOIN cmx ON cmem.comp = cmx.comp AND cmem.n_chars = cmx.mc
      |  GROUP BY cmx.comp, cmx.n_members
      |)""".stripMargin

  val qCanonicalCorpus = Q(
    "q_canonical_corpus",
    (s, dir) => canonicalCorpus(s, dir),
    Some(s"""$canonicalKeptCte
      |SELECT doc_id, n_members FROM ckept""".stripMargin)
  )

  /**
   * Train/eval decontamination — the leak check every LLM pipeline runs
   * before training: near-duplicate pairs (LSH candidates) whose two
   * documents landed on OPPOSITE sides of the train/eval split boundary.
   * Exact duplicates can never straddle it (the split keys on normalized
   * content, [[CurationQueries.qSplitAssign]]), but near-duplicates hash
   * to independent buckets — these pairs are exactly the eval
   * contamination a pipeline must remove or re-split. One row per
   * contaminating pair, oriented (train_id, eval_id, eval_split).
   *
   * Scale shape: the split frame is corpus-sized but the candidate set
   * is the (small) LSH output, so both joins hash on doc_id with the
   * candidate side broadcast-eligible; nothing new shuffles the corpus.
   */
  val qDecontaminate = Q(
    "q_decontaminate",
    (s, dir) => {
      val splits = docs(s, dir).select(
        col("doc_id"),
        CurationQueries.splitName(
          CurationQueries.splitBucket(col("text"))).as("split"))
      val cand = candidatePairs(shingled(s, dir))
      val a = splits.select(col("doc_id").as("sa_id"), col("split").as("a_split"))
      val b = splits.select(col("doc_id").as("sb_id"), col("split").as("b_split"))
      cand.join(a, col("a_id") === col("sa_id"))
        .join(b, col("b_id") === col("sb_id"))
        // exactly one side in train: train↔val and train↔test pairs leak;
        // val↔test pairs don't touch training data
        .filter((col("a_split") === "train") =!= (col("b_split") === "train"))
        .select(
          when(col("a_split") === "train", col("a_id"))
            .otherwise(col("b_id")).as("train_id"),
          when(col("a_split") === "train", col("b_id"))
            .otherwise(col("a_id")).as("eval_id"),
          when(col("a_split") === "train", col("b_split"))
            .otherwise(col("a_split")).as("eval_split"))
    },
    Some(s"""$candidateCte,
      |sp AS (
      |  SELECT doc_id,
      |         CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM (SELECT doc_id,
      |               ${hex32(
                         "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))")}
      |                 % 10 AS b
      |        FROM documents)
      |),
      |j AS (
      |  SELECT c.a_id, c.b_id, sa.split AS a_split, sb.split AS b_split
      |  FROM cand c
      |  JOIN sp sa ON sa.doc_id = c.a_id
      |  JOIN sp sb ON sb.doc_id = c.b_id
      |  WHERE (sa.split = 'train') <> (sb.split = 'train')
      |)
      |SELECT CASE WHEN a_split = 'train' THEN a_id ELSE b_id END AS train_id,
      |       CASE WHEN a_split = 'train' THEN b_id ELSE a_id END AS eval_id,
      |       CASE WHEN a_split = 'train' THEN b_split ELSE a_split END AS eval_split
      |FROM j""".stripMargin)
  )

  /** Winnowing-style document fingerprints: shingle stream partitioned by
    * position mod 4; fingerprint = min shingle hash per partition. Four
    * 128-bit fingerprints per doc — the compact sketch a plagiarism/overlap
    * index would join on at scale. */
  val qDocFingerprint = Q(
    "q_doc_fingerprint",
    (s, dir) =>
      docsDistributed(s, dir)
        .select(col("doc_id"),
                posexplode(TextOps.shingles(TextOps.tokens(col("text")))))
        .select(col("doc_id"), (col("pos") % 4).cast("long").as("band"),
                md5(col("col")).as("h"))
        .groupBy("doc_id", "band")
        .agg(min("h").as("fp")),
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |d2 AS (
      |  SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sl
      |  FROM d
      |), sh AS (
      |  SELECT doc_id, unnest(sl) AS shingle,
      |         unnest(generate_series(0, len(sl) - 1)) AS pos
      |  FROM d2
      |)
      |SELECT doc_id, pos % 4 AS band, MIN(md5(shingle)) AS fp
      |FROM sh GROUP BY doc_id, pos % 4""".stripMargin)
  )

  /** Embedding near-dup: quantized-integer cosine ≥ 0.3 between intra-label
    * pairs (label ≡ the coarse bucket an IVF index provides at scale). */
  val qDedupEmbed = Q(
    "q_dedup_embed",
    (s, dir) => {
      // repartition: the pair fanout (intra-label cross) and 64-dim dots
      // must not run inside one compact-scan task (see docsDistributed)
      val e = Tables.read(s, dir, "embeddings")
        .repartition(col("vec_id"))
        .select(col("vec_id"), col("label"),
                VectorOps.quantize(col("embedding")).as("q"))
        .withColumn("nsq", VectorOps.intNormSq(col("q")))
      val a = e.select(col("vec_id").as("a_id"), col("label"),
                       col("q").as("qa"), col("nsq").as("na"))
      val b = e.select(col("vec_id").as("b_id"), col("label").as("label_b"),
                       col("q").as("qb"), col("nsq").as("nb"))
      // The filter inlines into the join condition (PushPredicateThrough-
      // NonJoin), so `dot` is evaluated up to 3x per CANDIDATE pair. r2
      // fenced that with a monotonically_increasing_id barrier when the dot
      // was an interpreted HOF; the dot is now the codegen'd IntDotProduct
      // (a tight 64-int primitive loop), and re-measuring without the fence
      // showed no regression — the fence (a nondeterministic column fighting
      // the optimizer) is gone.
      a.join(b, col("label") === col("label_b") && col("a_id") < col("b_id"))
        .withColumn("dot", VectorOps.intDot(col("qa"), col("qb")))
        .filter(VectorOps.cosAtLeast(col("dot"), col("na"), col("nb"), 3, 10))
        .select("a_id", "b_id", "dot")
    },
    Some("""WITH e AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, label, q,
      |         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nsq
      |  FROM e
      |), p AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.nsq AS na, b.nsq AS nb,
      |         CAST(list_sum(list_transform(generate_series(1, len(a.q)),
      |                i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      |)
      |SELECT a_id, b_id, dot FROM p
      |WHERE dot > 0 AND dot * dot * 100 >= na * nb * 9""".stripMargin)
  )

  /**
   * SemDeDup-style SEMANTIC dedup: near-duplicate pruning over embedding
   * space, bucketed by TRAINED IVF cells rather than a given label —
   * the difference from [[qDedupEmbed]] is exactly the difference between
   * "someone already gave me coarse buckets" and "the operator builds its
   * own semantic buckets from the data" (the SemDeDup recipe: k-means the
   * embeddings, then prune near-dups inside each cluster only). A vector
   * is dropped iff some LOWER-id member of its own cell is cosine-similar
   * above the threshold — deterministic under any partitioning (min-id
   * survivor, the same convention as exact dedup), no greedy sequential
   * scan. Output: the kept (vec_id, cell) rows.
   *
   * 100 TB posture: the pair stage is an equi-join on cell id with
   * ~ (n/k)² pairs per cell — never all-pairs — and k is AUTO-SIZED to
   * hold cell occupancy at ~[[SemTargetCell]] members
   * ([[semanticCellCap]]: pair work stays LINEAR in the corpus, where
   * the former fixed `MaxCents` cap let it grow n²/256); the shuffles
   * carry (vec_id, cell, q) rows, never documents. The trained
   * centroids and the member frame are each materialized once
   * (checkpoint) because they feed multiple consumers; cell skew is
   * bounded by the same Lloyd-pass mass-balancing the ANN index relies
   * on. Threshold τ = 0.3 via integer cross-multiplication
   * ([[VectorOps.cosAtLeast]]) — the oracle replays it exactly on top of
   * the shared trained-IVF CTEs ([[SimQueries.ivfCte]]).
   */
  val qSemanticDedup = Q(
    "q_semantic_dedup",
    (s, dir) => semanticDedup(SimQueries.quantizedFrame(s, dir),
                              gateCellCap(s, dir),
                              qz0 = Some(SimQueries.gateQuantizer(s, dir))),
    Some(s"""${SimQueries.ivfCteDerived},
      |m AS (
      |  SELECT ce.vec_id, ce.cell, e.q,
      |         CAST(list_sum(list_transform(e.q, x -> x * x)) AS BIGINT) AS nsq
      |  FROM cell ce JOIN e ON e.vec_id = ce.vec_id
      |),
      |p AS (
      |  SELECT b.vec_id AS b_id, a.nsq AS na, b.nsq AS nb,
      |         CAST(list_sum(list_transform(generate_series(1, len(a.q)),
      |                i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |),
      |dup AS (
      |  SELECT DISTINCT b_id FROM p
      |  WHERE dot > 0 AND dot * dot * 100 >= na * nb * 9
      |)
      |SELECT vec_id, cell FROM m
      |WHERE vec_id NOT IN (SELECT b_id FROM dup)""".stripMargin)
  )

  /** Sentinel `cellCap`: size the cap from the corpus count
    * ([[semanticCellCap]]) — the default for every semantic pass. */
  private[graft] val DeriveCellCap = 0L

  /** Target per-cell occupancy for the semantic pair stages (alias —
    * the value lives in [[SimQueries]] next to `CentStride` for
    * init-order safety; see its scaladoc). The semantic oracles
    * replay the derivation in SQL ([[SimQueries.ivfCteDerived]]), so
    * derived caps above `MaxCents` no longer fall outside the
    * oracle-replayable surface. */
  private[graft] def SemTargetCell: Long = SimQueries.SemTargetCell

  /** Cell cap for an n-vector semantic pass: `max(MaxCents,
    * ⌈n/SemTargetCell⌉)` — hold CELL SIZE (not cell count) constant, so
    * in-cell pair work is ~n·SemTargetCell, LINEAR in the corpus. The
    * former fixed `MaxCents` default meant pair work grew ~n²/256: the
    * 200 k-vector soak measured the pair stage up ~16× at 4× vectors
    * (BASELINE.md round-13) — exactly the growth this flattens
    * (round-14 ADVICE/VERDICT item 2).
    *
    * Beyond `MaxCents` cells the quantizer is HIERARCHICAL
    * ([[SimQueries.trainCellQuantizer]]): a `√cap`-cell coarse level
    * routes each vector to a per-coarse-cell fine quantizer, so the
    * assignment pass costs ~2√cap dot products per vector instead of
    * the flat cap — the n·k (= n²/200) flat argmax was the one
    * superlinear stage left in the semantic family (round-18 VERDICT
    * item 1). Broadcasts stay KB-to-MB at every level: one coarse
    * matrix ≤ MaxCents·(dim+2) longs, fine matrices cap·(dim+2) longs
    * total. The ANN search surface keeps the hard `MaxCents` cap — its
    * contract is a bounded DRIVER collect at probe time, not bounded
    * pair work. */
  private[graft] def semanticCellCap(n: Long): Long =
    math.max(SimQueries.MaxCents, (n + SemTargetCell - 1) / SemTargetCell)

  /** Resolve a caller cap: explicit wins; the [[DeriveCellCap]] sentinel
    * counts the frame. The count is one extra action over the compact
    * quantized projection — a deployment that already tracks corpus
    * cardinality passes it via [[semanticCellCap]] explicitly (the
    * GATES do: [[gateCellCap]] counts the raw source instead, skipping
    * the quantized frame's repartition shuffle). */
  private def resolveCellCap(cellCap: Long, e: DataFrame): Long =
    SimQueries.resolveCap(e, cellCap) // one resolver repo-wide

  /** The gate-side cap: derived from a cheap count of the RAW
    * embeddings table (metadata-backed parquet count — no quantize
    * projection, no repartition exchange; the derived-default count on
    * the quantized frame cost ~1 s of pure shuffle at sf0.1). The
    * semantic oracles replay the SAME derivation in SQL
    * ([[SimQueries.ivfCteDerived]]'s `capc` CTE — `GREATEST(MaxCents,
    * ⌈n/SemTargetCell⌉)` over the same source), so the gates run at
    * ANY corpus size — the former `require(cap == MaxCents)` refusal
    * past 51 200 vectors (round-17 VERDICT #3) is gone because the
    * bound it guarded is gone. */
  private[graft] def gateCellCap(s: SparkSession, dir: String): Long =
    semanticCellCap(Tables.read(s, dir, "embeddings").count())

  /** [[qSemanticDedup]]'s body over an ARBITRARY quantized
    * `(vec_id, label, q)` frame — factored so specs and non-testdata
    * callers run the exact pipeline the gate runs.
    *
    * `cellCap` is SemDeDup's recall/cost knob: cells average n/cellCap
    * members, so the pair stage does ~n²/cellCap dot products — holding
    * CELL SIZE constant (cellCap ∝ n) keeps the pass linear, at the
    * price of missing τ-near-dups that land in different cells (more
    * cells = finer semantic buckets = lower recall). The default
    * DERIVES the cap from the corpus count ([[semanticCellCap]]); at
    * fixture scale that is exactly the gated `MaxCents` the oracle
    * replays. */
  private[graft] def semanticDedup(
      e: DataFrame, cellCap: Long = DeriveCellCap,
      qz0: Option[SimQueries.CellQuantizer] = None): DataFrame = {
    val qz = qz0.getOrElse(
      SimQueries.trainCellQuantizer(e, resolveCellCap(cellCap, e)))
    // (vec_id, cell, q, nsq) — checkpointed: feeds both self-join sides
    // AND the anti-join left, i.e. 3 consumers of the assignment (which
    // is broadcast-only in both quantizer regimes — the former n·k
    // flat argmax beyond MaxCents cells was the one superlinear stage
    // left in the semantic family, round-18 VERDICT item 1)
    val m = checkpointCompact(
      SimQueries.assignCells(e.select(col("vec_id"), col("q")), qz)
        .select(col("vec_id"), col("c_id").as("cell"), col("q"),
                VectorOps.intNormSq(col("q")).as("nsq")))
    val a = m.select(col("vec_id").as("a_id"), col("cell"),
                     col("q").as("qa"), col("nsq").as("na"))
    val b = m.select(col("vec_id").as("b_id"), col("cell").as("cell_b"),
                     col("q").as("qb"), col("nsq").as("nb"))
    val dup = a
      .join(b, col("cell") === col("cell_b") && col("a_id") < col("b_id"))
      .withColumn("dot", VectorOps.intDot(col("qa"), col("qb")))
      .filter(VectorOps.cosAtLeast(col("dot"), col("na"), col("nb"), 3, 10))
      .select(col("b_id")).distinct()
    m.join(dup, col("vec_id") === col("b_id"), "left_anti")
      .select("vec_id", "cell")
  }

  /**
   * SEMANTIC decontamination: train/eval overlap in EMBEDDING space —
   * the paraphrase-robust complement to [[qDecontaminate]] (13-gram /
   * LSH catches lexical overlap; a reworded eval question sails past
   * both, but its embedding doesn't move). The SemDeDup bucketing
   * applied across the split: IVF cells trained over all embeddings,
   * and only (train, eval) pairs sharing a cell are cosine-scored —
   * the same (n/k)²-per-cell pair bound as [[qSemanticDedup]], never
   * train×eval all-pairs. Output: the contaminated (train_id, eval_id,
   * dot) pairs, the audit row a curation pipeline joins back to drop
   * or flag training documents.
   *
   * Threshold τ = 0.3 via exact integer cross-multiplication
   * ([[VectorOps.cosAtLeast]]) — fixture-scaled like the other
   * embedding gates (synthetic embeddings are near-orthogonal; a
   * deployment with a real encoder raises τ to ~0.8 through the
   * `minCosNum/minCosDen` knobs). Cell-miss recall and the cellCap
   * cost knob are exactly [[semanticDedup]]'s, documented there.
   *
   * Deployment shape: the eval side is a frozen benchmark suite
   * (bounded — the [[graft.streaming.StreamingDecontam]] contract), so
   * its per-cell index broadcasts and arriving train batches pay one
   * assignment pass + a broadcast join; the gate's 80/20 replay keeps
   * both sides engine-scale so the oracle can replay everything.
   */
  val qSemanticDecontam = Q(
    "q_semantic_decontam",
    (s, dir) => semanticDecontam(SimQueries.quantizedFrame(s, dir),
                                 gateCellCap(s, dir),
                                 qz0 =
                                   Some(SimQueries.gateQuantizer(s, dir))),
    Some(s"""${SimQueries.ivfCteDerived},
      |m AS (
      |  SELECT ce.vec_id, ce.cell, e.q,
      |         CAST(list_sum(list_transform(e.q, x -> x * x)) AS BIGINT) AS nsq
      |  FROM cell ce JOIN e ON e.vec_id = ce.vec_id
      |),
      |p AS (
      |  SELECT a.vec_id AS train_id, b.vec_id AS eval_id,
      |         a.nsq AS na, b.nsq AS nb,
      |         CAST(list_sum(list_transform(generate_series(1, len(a.q)),
      |                i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      |  FROM m a JOIN m b ON a.cell = b.cell
      |   AND a.vec_id % 5 <> 4 AND b.vec_id % 5 = 4
      |)
      |SELECT train_id, eval_id, dot FROM p
      |WHERE dot > 0 AND dot * dot * 100 >= na * nb * 9""".stripMargin)
  )

  /** [[semanticDecontam]] over TWO separate quantized frames — the
    * library/TVF entry point (decontamination is an offline audit
    * where both corpora are known, so cells train on the union).
    * Caller contract: vec_ids disjoint across the two frames (the
    * [[dedupAgainstIndex]] rule — they key the output pairs). */
  private[graft] def semanticDecontamBetween(
      train: DataFrame, eval0: DataFrame,
      cellCap: Long = DeriveCellCap,
      minCosNum: Int = 3, minCosDen: Int = 10): DataFrame = {
    val union = train.select("vec_id", "q")
      .unionByName(eval0.select("vec_id", "q"))
    val qz = SimQueries.trainCellQuantizer(union,
                                           resolveCellCap(cellCap, union))
    def assigned(e: DataFrame): DataFrame =
      SimQueries.assignCells(e.select("vec_id", "q"), qz)
        .select(col("vec_id"), col("c_id").as("cell"), col("q"),
                VectorOps.intNormSq(col("q")).as("nsq"))
    val t = assigned(train)
      .select(col("vec_id").as("train_id"), col("cell"),
              col("q").as("qa"), col("nsq").as("na"))
    val ev = assigned(eval0)
      .select(col("vec_id").as("eval_id"), col("cell").as("cell_b"),
              col("q").as("qb"), col("nsq").as("nb"))
    t.join(ev, col("cell") === col("cell_b"))
      .withColumn("dot", VectorOps.intDot(col("qa"), col("qb")))
      .filter(VectorOps.cosAtLeast(col("dot"), col("na"), col("nb"),
                                   minCosNum, minCosDen))
      .select("train_id", "eval_id", "dot")
  }

  /** [[qSemanticDecontam]]'s body over an ARBITRARY quantized
    * `(vec_id, label, q)` frame: eval = `vec_id % 5 = 4` (the
    * [[qDedupIncremental]] replay convention), τ = num/den. */
  private[graft] def semanticDecontam(
      e: DataFrame, cellCap: Long = DeriveCellCap,
      minCosNum: Int = 3, minCosDen: Int = 10,
      qz0: Option[SimQueries.CellQuantizer] = None): DataFrame = {
    val qz = qz0.getOrElse(
      SimQueries.trainCellQuantizer(e, resolveCellCap(cellCap, e)))
    val m = checkpointCompact(
      SimQueries.assignCells(e.select(col("vec_id"), col("q")), qz)
        .select(col("vec_id"), col("c_id").as("cell"), col("q"),
                VectorOps.intNormSq(col("q")).as("nsq")))
    val train = m.filter(col("vec_id") % 5 =!= 4)
      .select(col("vec_id").as("train_id"), col("cell"),
              col("q").as("qa"), col("nsq").as("na"))
    val eval = m.filter(col("vec_id") % 5 === 4)
      .select(col("vec_id").as("eval_id"), col("cell").as("cell_b"),
              col("q").as("qb"), col("nsq").as("nb"))
    train.join(eval, col("cell") === col("cell_b"))
      .withColumn("dot", VectorOps.intDot(col("qa"), col("qb")))
      .filter(VectorOps.cosAtLeast(col("dot"), col("na"), col("nb"),
                                   minCosNum, minCosDen))
      .select("train_id", "eval_id", "dot")
  }

  /** Non-overlapping span width (tokens) for [[qSpanDedup]]. */
  private val SpanTokens = 20

  /**
   * Span-level exact dedup (the C4 / ExactSubstr family): the corpus is
   * cut into non-overlapping `SpanTokens`-token spans, every DISTINCT
   * span survives exactly once corpus-wide — first occurrence wins, by
   * (doc_id, position) — and each document is reassembled from its
   * surviving spans. Catches both cross-document boilerplate (navigation
   * chrome, license blocks, templated paragraphs) and within-document
   * repetition, at span granularity rather than [[qDedupExact]]'s
   * whole-document granularity.
   *
   * Deliberate tradeoff, documented: fixed span boundaries mean a
   * duplicate SHIFTED by less than a span width is not caught — true
   * suffix-array ExactSubstr is an offline index build, not an engine
   * operator; the fixed-boundary formulation is what runs as one
   * relational pass. At 100 TB: spans shuffle as (16-byte md5, doc_id,
   * pos) triples for the owner argmin — never the text twice — the
   * argmin is a `min(struct)` groupBy (map-side combinable, unlike a
   * per-key window), and reassembly groups by doc_id, the table's
   * natural clustering.
   */
  val qSpanDedup = Q(
    "q_span_dedup",
    (s, dir) => spanDedup(docsDistributed(s, dir)),
    Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c0 AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) > 0 THEN
      |           list_transform(
      |             generate_series(0, CAST(CEIL(len(toks) / $SpanTokens.0) AS BIGINT) - 1),
      |             i -> array_to_string(toks[i*$SpanTokens+1 : i*$SpanTokens+$SpanTokens], ' '))
      |         ELSE [] END AS chunks
      |  FROM d
      |), ch AS (
      |  SELECT doc_id, unnest(chunks) AS chunk,
      |         unnest(generate_series(0, len(chunks) - 1)) AS pos
      |  FROM c0
      |), own AS (
      |  SELECT doc_id, pos, chunk,
      |         ROW_NUMBER() OVER (PARTITION BY md5(chunk)
      |                            ORDER BY doc_id, pos) AS rn
      |  FROM ch
      |), kept AS (
      |  SELECT doc_id, pos, chunk FROM own WHERE rn = 1
      |), rb AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_chunks,
      |         string_agg(chunk, ' ' ORDER BY pos) AS clean_text
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT c0.doc_id,
      |       COALESCE(rb.clean_text, '') AS clean_text,
      |       COALESCE(rb.kept_chunks, 0) AS kept_chunks,
      |       CAST(len(c0.chunks) AS BIGINT) AS total_chunks
      |FROM c0 LEFT JOIN rb ON c0.doc_id = rb.doc_id""".stripMargin)
  )

  /**
   * INTRA-document span dedup — strip repeated spans WITHIN each
   * document (keep the first occurrence, reassemble in order): the
   * within-page boilerplate pass (repeated nav blocks, duplicated
   * paragraphs from templating bugs, copy-paste loops) that cleans a
   * document without consulting the rest of the corpus. The
   * corpus-wide [[qSpanDedup]] subsumes the REMOVALS but changes
   * cross-document ownership; this pass is what runs when the pipeline
   * wants documents cleaned independently — which is also what makes
   * it a ZERO-SHUFFLE pure projection: chunk, then keep chunk i iff
   * its first occurrence in the chunk array is at i
   * (`array_position = i+1` inside a HOF filter — per-doc work is
   * O(chunks²) with chunks = tokens/20, trivially row-local), then
   * rejoin. No explode, no groupBy, no exchange; the streaming face is
   * free. The oracle replays the same semantics through the window
   * formulation (first occurrence per (doc, span content)).
   */
  val qIntradocDedup = Q(
    "q_intradoc_dedup",
    (s, dir) => intraDocDedup(docs(s, dir)),
    Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c0 AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) > 0 THEN
      |           list_transform(
      |             generate_series(0, CAST(CEIL(len(toks) / $SpanTokens.0) AS BIGINT) - 1),
      |             i -> array_to_string(toks[i*$SpanTokens+1 : i*$SpanTokens+$SpanTokens], ' '))
      |         ELSE [] END AS chunks
      |  FROM d
      |), ch AS (
      |  SELECT doc_id, unnest(chunks) AS chunk,
      |         unnest(generate_series(0, len(chunks) - 1)) AS pos
      |  FROM c0
      |), own AS (
      |  SELECT doc_id, pos, chunk,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id, md5(chunk)
      |                            ORDER BY pos) AS rn
      |  FROM ch
      |), kept AS (
      |  SELECT doc_id, pos, chunk FROM own WHERE rn = 1
      |), rb AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_chunks,
      |         string_agg(chunk, ' ' ORDER BY pos) AS clean_text
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT c0.doc_id,
      |       COALESCE(rb.clean_text, '') AS clean_text,
      |       COALESCE(rb.kept_chunks, 0) AS kept_chunks,
      |       CAST(len(c0.chunks) AS BIGINT) AS total_chunks
      |FROM c0 LEFT JOIN rb ON c0.doc_id = rb.doc_id""".stripMargin)
  )

  /** [[qIntradocDedup]]'s body over an ARBITRARY `(doc_id, text, …)`
    * frame — stateless per row, so the streaming face applies it
    * verbatim. */
  private[graft] def intraDocDedup(d0: DataFrame): DataFrame =
    spanChunks(d0)
      .select(col("doc_id"),
        // chunks and kp [[letBound]]: the lambda references the chunk
        // array a second time (array_position) and the final struct a
        // third — as projection aliases those inline and re-evaluate
        // the chunk chain per element on long documents (the
        // spanChunks hazard class); as lambda values they bind once
        letBound(col("chunks")) { ch =>
          // First-occurrence positions via sorted-run boundaries (the
          // [[TextStatsQueries.termCountsCol]] trick): sort (chunk,
          // pos) structs, keep each run's first pos, re-sort ascending,
          // index back into the chunk array. O(n log n) per document —
          // the former array_position filter re-scanned the whole
          // array per element (O(n²)), which q_stream_intradoc applies
          // at ingest, where one very long document stalls its
          // micro-batch.
          letBound(array_sort(transform(ch, (c, i) =>
              struct(c.as("c"), i.as("p"))))) { srt =>
            letBound(array_sort(filter(transform(srt, (e, i) =>
                when(i === 0, e.getField("p"))
                  .when(element_at(srt, i).getField("c") =!= e.getField("c"),
                        e.getField("p"))),
              x => x.isNotNull))) { kpos =>
              letBound(transform(kpos, p => element_at(ch, p + 1))) { kp =>
                struct(array_join(kp, " ").as("clean_text"),
                       size(kp).cast("long").as("kept_chunks"),
                       size(ch).cast("long").as("total_chunks"))
              }
            }
          }
        }.as("o"))
      .select(col("doc_id"), col("o.clean_text").as("clean_text"),
              col("o.kept_chunks").as("kept_chunks"),
              col("o.total_chunks").as("total_chunks"))

  /** [[qSpanDedup]]'s body over an ARBITRARY `(doc_id, text)` frame.
    *
    * Shuffle discipline: document TEXT crosses no exchange after the
    * initial doc_id distribution. The span stream is reduced to compact
    * `(md5, doc_id, pos)` triples before anything wide: the owner argmin
    * shuffles 16-byte keys, the keeper set regroups as `(doc_id, [pos])`
    * int lists, and reassembly joins those lists back against the
    * doc_id-clustered chunk arrays — `element_at` re-reads the kept
    * spans in place. (The first formulation joined exploded chunk
    * STRINGS on `h` and re-grouped them by doc_id — two corpus-text
    * shuffles that this shape deletes; end-to-end parquet dump at the
    * 2 M-doc soak measured in BASELINE.md round-13.) */
  /** `(doc_id, chunks)` — the shared span chunker: non-overlapping
    * `SpanTokens`-token spans per document. The empty-token guard
    * mirrors TextOps.shinglesHof: Spark's sequence(0, -1) yields a
    * DESCENDING array, not an empty one.
    *
    * The token array is [[letBound]], not a projection alias: the
    * original `toks` column inlined into the per-chunk `slice` lambda
    * (projection collapse), re-running the split once per CHUNK —
    * O(tokens²/20) per document, invisible on short fixtures but
    * 72.7 s at the 2 000-doc × 2 000-token long-doc profile
    * (CdcProfile `synth:`) where the CDC face, already let-bound, ran
    * 8.5 s; 15.6 s let-bound, 4.9 s once [[spanDedup]] additionally
    * pins its two-consumer chunk frame. */
  private[queries] def spanChunks(d0: DataFrame): DataFrame =
    d0.select(col("doc_id"),
      letBound(TextOps.tokens(col("text"))) { toks =>
        when(size(toks) > 0,
          transform(
            sequence(lit(0),
                     ceil(size(toks) / lit(SpanTokens.toDouble)).cast("int")
                       - 1),
            i => array_join(slice(toks, i * SpanTokens + 1, lit(SpanTokens)),
                            " ")))
          .otherwise(array().cast("array<string>"))
      }.as("chunks"))

  /** `(doc_id, pos, h)` — the compact exploded span-hash triples. */
  private[queries] def spanHashes(d: DataFrame): DataFrame =
    d.select(col("doc_id"), posexplode(col("chunks")))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("h"))

  private[graft] def spanDedup(d0: DataFrame): DataFrame = {
    // two consumers (hash explode + reassembly) → pin, the
    // [[spanDedupCdc]] rule. Corpus-shape tradeoff, measured: long
    // docs 15.6 → 4.9 s (2 k×2 k profile); short docs 3.4 → 4.6 s
    // (50 k soak) — the pin buys the regime where the chunk chain is
    // expensive to re-evaluate, which is the regime that hurts.
    val d = checkpointCompact(spanChunks(d0))
    reassembleSpans(d, firstOccurrenceKeepers(spanHashes(d)))
  }

  /** Rebuild `(doc_id, clean_text, kept_chunks, total_chunks)` from the
    * chunk arrays and a `(doc_id, kept_pos)` keeper list — the shared
    * tail of [[spanDedup]] and [[spanDedupAgainstCorpus]]. */
  private[queries] def reassembleSpans(d: DataFrame, keptPos: DataFrame): DataFrame =
    d.join(keptPos, Seq("doc_id"), "left")
      .withColumn("kp", coalesce(col("kept_pos"), array().cast("array<int>")))
      // the chunks column is [[letBound]] so it references ONCE no
      // matter how the optimizer rewrites: when `d` is an unpinned
      // computed frame (the CDC chunker), projection collapse inlines
      // the chunk expression into every reference site — three here,
      // one of them INSIDE the per-kept-position lambda, which is the
      // quadratic class this file documents. Binding it as a lambda
      // value makes reassembly structurally safe for ANY chunker —
      // unpinned consumption costs one chain evaluation, never
      // per-element re-evaluation — which is what lets the
      // single-consumer sites (incremental corpus side, streaming
      // face) drop their pins and the multi-consumer sites keep them
      // on economics alone (see spanDedupCdc).
      .select(col("doc_id"),
              letBound(col("chunks")) { ch =>
                struct(
                  array_join(transform(col("kp"),
                                       p => element_at(ch, p + 1)), " ")
                    .as("clean_text"),
                  size(col("kp")).cast("long").as("kept_chunks"),
                  size(ch).cast("long").as("total_chunks"))
              }.as("o"))
      .select(col("doc_id"), col("o.clean_text").as("clean_text"),
              col("o.kept_chunks").as("kept_chunks"),
              col("o.total_chunks").as("total_chunks"))

  /**
   * INCREMENTAL span dedup: clean an ARRIVING batch against the span
   * index of an existing corpus — the span-granular sibling of
   * [[dedupAgainstCorpus]] (which drops whole duplicate documents,
   * where this strips duplicated SPANS and keeps the novel remainder —
   * the crawl-refresh case: a re-crawled page with one new paragraph
   * contributes exactly that paragraph). A batch span survives iff its
   * hash is absent from the corpus span set (compact-key anti-join —
   * the corpus side reduces to 16-byte distinct hashes, never text)
   * AND it is the batch's own first occurrence (the [[spanDedup]]
   * min-(doc_id, pos) rule, so intra-batch boilerplate dies too).
   * Output rows cover every batch document, reassembled.
   */
  private[graft] def spanDedupAgainstCorpus(corpus: DataFrame,
                                            batch: DataFrame): DataFrame =
    // per-side pins, the [[spanDedupCdcAgainstCorpus]] rule: corpus
    // frame has one consumer, batch frame two
    spanDedupAgainstCorpusWith(spanChunks,
                               df => checkpointCompact(spanChunks(df)),
                               corpus, batch)

  /** [[spanDedupAgainstCorpus]] with CONTENT-DEFINED boundaries — the
    * crawl-refresh pass that survives shifted boilerplate: a re-crawled
    * page whose navigation chrome moved by a few tokens still sheds it
    * against the corpus span index, because [[cdcChunks]] boundaries
    * re-synchronize to content (the [[qSpanCdc]] property, applied
    * incrementally). */
  private[graft] def spanDedupCdcAgainstCorpus(corpus: DataFrame,
                                               batch: DataFrame): DataFrame =
    // Pin-by-consumer-count (the checksum-mode A/B at the 50 k soak,
    // BASELINE.md round-15 session-3): the CORPUS chunk frame has ONE
    // consumer (spanHashes' posexplode), so a pin is pure
    // materialization overhead — 9.0 s pinned vs 5.7 s unpinned —
    // while the BATCH frame is consumed twice (hash explode +
    // reassembly) and the pin saves the second chain evaluation. The
    // let-binding rewrite of the chunker is what makes the unpinned
    // corpus side MERELY one-evaluation, not quadratic (the 105 s
    // alias-chain blowup this site originally pinned against,
    // CdcProfile). A production crawl-refresh pipeline persists the
    // span-hash index between batches anyway (the
    // [[dedupAgainstIndex]] discipline).
    spanDedupAgainstCorpusWith(cdcChunks,
                               df => checkpointCompact(cdcChunks(df)),
                               corpus, batch)

  /** The incremental span pass over ANY chunker: corpus side reduces to
    * 16-byte distinct span hashes (compact-key anti-join),
    * batch-internal first-occurrence rule composes on top, every batch
    * doc reassembled. Chunkers are per-side because their pin needs
    * differ (see [[spanDedupCdcAgainstCorpus]]): the corpus frame is
    * consumed once, the batch frame twice. */
  private def spanDedupAgainstCorpusWith(chunker: DataFrame => DataFrame,
                                         corpus: DataFrame,
                                         batch: DataFrame): DataFrame =
    spanDedupAgainstCorpusWith(chunker, chunker, corpus, batch)

  private def spanDedupAgainstCorpusWith(corpusChunker: DataFrame => DataFrame,
                                         batchChunker: DataFrame => DataFrame,
                                         corpus: DataFrame,
                                         batch: DataFrame): DataFrame = {
    val corpusH = spanHashes(corpusChunker(corpus)).select("h").distinct()
    val d = batchChunker(batch)
    val keptPos = firstOccurrenceKeepers(
      spanHashes(d).join(corpusH, Seq("h"), "left_anti"))
    reassembleSpans(d, keptPos)
  }

  /**
   * Corpus snapshot DIFF: compare two corpus versions by doc_id and
   * normalized content hash — the ingest-audit pass a pipeline runs
   * between crawl refreshes ("what did this drop actually change?")
   * and the input to incremental downstream recomputation (only
   * `added`/`changed` documents need re-scoring, re-embedding,
   * re-dedup). Emits one row per NON-identical document: `added`
   * (only in new), `removed` (only in old), `changed` (both, different
   * normalized content). Unchanged documents are deliberately absent —
   * at 100 TB the diff is the small output, and the comparison ships
   * 16-byte hashes through one full-outer equi-join on doc_id, never
   * document text.
   */
  private[graft] def corpusDiff(old: DataFrame, newer: DataFrame): DataFrame = {
    val o = old.select(col("doc_id"), TextOps.contentHash(col("text")).as("oh"))
    val n = newer.select(col("doc_id"), TextOps.contentHash(col("text")).as("nh"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("oh").isNull, lit("added"))
          .when(col("nh").isNull, lit("removed"))
          .when(col("oh") =!= col("nh"), lit("changed")))
      .filter(col("status").isNotNull)
      .select("doc_id", "status")
  }

  /** Deterministic version derivation for the gate: the OLD snapshot
    * drops doc_id % 7 == 1 (those become `added`) and reverses the text
    * of % 7 == 2 (those become `changed` — reversal survives the
    * case/whitespace normalization that e.g. uppercasing would not);
    * the NEW snapshot drops % 7 == 3 (those become `removed`). */
  val qCorpusDiff = Q(
    "q_corpus_diff",
    (s, dir) => {
      val docs = docsDistributed(s, dir)
      val old = docs.filter(col("doc_id") % 7 =!= 1)
        .select(col("doc_id"),
                when(col("doc_id") % 7 === 2, reverse(col("text")))
                  .otherwise(col("text")).as("text"))
      val newer = docs.filter(col("doc_id") % 7 =!= 3)
      corpusDiff(old, newer)
    },
    Some("""WITH o AS (
      |  SELECT doc_id,
      |         md5(regexp_replace(lower(trim(
      |           CASE WHEN doc_id % 7 = 2 THEN reverse(text) ELSE text END
      |         )), '\s+', ' ', 'g')) AS oh
      |  FROM documents WHERE doc_id % 7 <> 1
      |), n AS (
      |  SELECT doc_id,
      |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS nh
      |  FROM documents WHERE doc_id % 7 <> 3
      |), j AS (
      |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, oh, nh
      |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |)
      |SELECT doc_id,
      |       CASE WHEN oh IS NULL THEN 'added'
      |            WHEN nh IS NULL THEN 'removed'
      |            WHEN oh <> nh THEN 'changed' END AS status
      |FROM j
      |WHERE (oh IS NULL OR nh IS NULL OR oh <> nh)""".stripMargin)
  )

  /** The arriving-batch convention of the incremental gates: doc_id % 5
    * == 4 arrives, the rest is the standing corpus. */
  val qSpanIncremental = Q(
    "q_span_incremental",
    (s, dir) => {
      val docs = docsDistributed(s, dir)
      spanDedupAgainstCorpus(docs.filter(col("doc_id") % 5 =!= 4),
                             docs.filter(col("doc_id") % 5 === 4))
    },
    Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c0 AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) > 0 THEN
      |           list_transform(
      |             generate_series(0, CAST(CEIL(len(toks) / $SpanTokens.0) AS BIGINT) - 1),
      |             i -> array_to_string(toks[i*$SpanTokens+1 : i*$SpanTokens+$SpanTokens], ' '))
      |         ELSE [] END AS chunks
      |  FROM d
      |), ch AS (
      |  SELECT doc_id, unnest(chunks) AS chunk,
      |         unnest(generate_series(0, len(chunks) - 1)) AS pos
      |  FROM c0
      |), corpus_h AS (
      |  SELECT DISTINCT md5(chunk) AS h FROM ch WHERE doc_id % 5 <> 4
      |), fresh AS (
      |  SELECT doc_id, pos, chunk, md5(chunk) AS h
      |  FROM ch WHERE doc_id % 5 = 4
      |    AND md5(chunk) NOT IN (SELECT h FROM corpus_h)
      |), own AS (
      |  SELECT doc_id, pos, chunk,
      |         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |  FROM fresh
      |), kept AS (
      |  SELECT doc_id, pos, chunk FROM own WHERE rn = 1
      |), rb AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_chunks,
      |         string_agg(chunk, ' ' ORDER BY pos) AS clean_text
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT c0.doc_id,
      |       COALESCE(rb.clean_text, '') AS clean_text,
      |       COALESCE(rb.kept_chunks, 0) AS kept_chunks,
      |       CAST(len(c0.chunks) AS BIGINT) AS total_chunks
      |FROM c0 LEFT JOIN rb ON c0.doc_id = rb.doc_id
      |WHERE c0.doc_id % 5 = 4""".stripMargin)
  )

  /** CDC rolling-window width (tokens): a boundary decision looks at
    * exactly this many trailing tokens, so identical text re-synchronizes
    * to identical chunk boundaries within `CdcW` tokens of any shift. */
  private val CdcW = 4

  /** CDC cut divisor — a window value ≡ 0 (mod CdcD) cuts, so expected
    * chunk length ≈ CdcD tokens (geometric), commensurate with
    * [[qSpanDedup]]'s fixed `SpanTokens` = 20. */
  private val CdcD = 16L

  /** Window mixing coefficients (distinct primes < 2¹⁷). Exactness bound:
    * token bases are 32-bit ([[TextOps.md5Prefix32]]), so each product is
    * < 2⁴⁹ and the 4-term sum < 2⁵¹ — exact int64 in BOTH engines, no
    * modular reduction needed before the divisor test. */
  private val CdcA = Seq(10007L, 20011L, 40009L, 80021L)

  /**
   * Content-defined chunking (the FastCDC/rsync boundary idea, done
   * relationally): `(doc_id, chunks)` where chunk boundaries are chosen
   * by the TEXT, not by position — a cut lands after token `i` iff the
   * mixed hash of the trailing `CdcW`-token window divides `CdcD`.
   * Because the decision is a pure function of the last `CdcW` tokens,
   * equal text produces equal interior boundaries AT ANY OFFSET — the
   * property that closes [[qSpanDedup]]'s documented recall hole
   * (a duplicate shifted by < span width escapes fixed boundaries;
   * `CdcSpanSpec` plants exactly that and proves this variant catches
   * it). No min/max chunk guard: cut probability is 1/CdcD per token
   * with md5-derived window values, so chunk length is geometric with
   * mean CdcD — a degenerate run without cuts costs one long chunk,
   * never correctness (documented tradeoff: guards would reintroduce
   * boundary statefulness and with it shift-dependence).
   *
   * All array HOFs over the per-doc token array — no explode, no
   * shuffle; the per-token base hashes are computed once into `bases`
   * and each window test is 4 `element_at` + integer arithmetic.
   *
   * The whole chunker is ONE expression with the intermediates
   * (`toks`, `bases`, `cuts`, `starts`, `ends`) introduced as
   * [[letBound]] lambda variables rather than projection columns.
   * Projection-column aliases are a CORRECTNESS-of-cost hazard here:
   * Catalyst's collapse inlines an alias into every reference site,
   * and references INSIDE HOF lambda bodies re-evaluate the inlined
   * chain per element — `chunks` referencing `starts`/`ends` (each an
   * O(n)-work array) from the per-chunk lambda made the withColumn
   * formulation cubic-ish per document. Batch callers could pin the
   * frame ([[checkpointCompact]]), but a STREAMING frame cannot be
   * checkpointed, and the q_stream_span_cdc micro-batch measured
   * 42.5 s vs fixed-width's 1.6 s on identical input. A lambda
   * variable is a bound VALUE — evaluated once when the enclosing HOF
   * binds it, free to re-reference, and invisible to projection
   * collapse — so the let-bound form is linear in BOTH faces (same
   * micro-batch: 1.3 s after).
   */
  private[queries] def cdcChunks(d0: DataFrame): DataFrame =
    d0.select(col("doc_id"), cdcChunksOf(col("text")).as("chunks"))

  private def cdcChunksOf(text: Column): Column =
    letBound(TextOps.tokens(text)) { toks =>
      letBound(transform(toks, t => TextOps.md5Prefix32(md5(t)))) { bases =>
        def baseAt(i: Column, off: Int) =
          element_at(bases, i - lit(CdcW - 2 - off))
        def windowVal(i: Column) =
          CdcA.zipWithIndex.map { case (a, o) => baseAt(i, o) * lit(a) }
            .reduce(_ + _)
        // valid cut positions (0-based): [CdcW-1, n-2] — a full window
        // must precede the cut, and a cut after the last token is the
        // implicit end boundary, not a cut. sequence() guarded: Spark
        // yields a DESCENDING array when stop < start (the shinglesHof
        // gotcha), so short docs short-circuit to no cuts.
        letBound(when(size(toks) >= CdcW + 1,
            filter(sequence(lit(CdcW - 1), size(toks) - 2),
                   i => windowVal(i) % CdcD === 0))
          .otherwise(array().cast("array<int>"))) { cuts =>
          letBound(concat(cuts, array(size(toks) - 1))) { ends =>
            letBound(concat(array(lit(0)),
                            transform(cuts, c => c + 1))) { starts =>
              when(size(toks) > 0,
                transform(sequence(lit(0), size(ends) - 1), k =>
                  array_join(
                    slice(toks,
                          element_at(starts, k + 1) + 1,
                          element_at(ends, k + 1)
                            - element_at(starts, k + 1) + 1),
                    " ")))
                .otherwise(array().cast("array<string>"))
            }
          }
        }
      }
    }

  /** First-occurrence keeper list `(doc_id, kept_pos)` over a span-hash
    * triple frame — the owner-argmin shared by [[spanDedup]] and
    * [[spanDedupCdc]]: a span survives at its corpus-wide minimum
    * (doc_id, pos). `min(struct)` groupBy, map-side combinable. */
  private[queries] def firstOccurrenceKeepers(ch: DataFrame): DataFrame =
    ch.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("o"))
      .groupBy(col("o.doc_id").as("doc_id"))
      .agg(sort_array(collect_list(col("o.pos"))).as("kept_pos"))

  /** [[spanDedup]] with content-defined boundaries — same owner-argmin
    * and reassembly tail, same compact-key shuffle discipline (the text
    * never crosses an exchange after chunking; only (16-byte md5,
    * doc_id, pos) triples shuffle).
    *
    * The chunk frame keeps its pin — but for a DIFFERENT reason than
    * it was introduced. Originally it guarded the alias-chain inlining
    * blowup (127.6 s vs 3.4 s for the chunk pass at sf0.01 write mode,
    * CdcProfile); the [[letBound]] rewrite of [[cdcChunksOf]] plus
    * [[reassembleSpans]]' own chunk binding removed that hazard
    * structurally (unpinned is one-evaluation-per-consumer, never
    * quadratic). What remains is plain common-subexpression economics:
    * this frame has TWO consumers (hash explode + reassembly), so the
    * pin trades one disk round-trip for the second full chain
    * evaluation — 7.2 s pinned vs 8.5 s unpinned at the 50 k
    * checksum-mode soak. Single-consumer chunk frames (the incremental
    * corpus side, the streaming face) measurably should NOT pin —
    * see [[spanDedupCdcAgainstCorpus]]. */
  private[graft] def spanDedupCdc(d0: DataFrame): DataFrame = {
    val d = checkpointCompact(cdcChunks(d0))
    reassembleSpans(d, firstOccurrenceKeepers(spanHashes(d)))
  }

  /** The CDC boundary replay shared by [[qSpanCdc]] and
    * [[qSpanCdcIncremental]], ending in `cx(doc_id, chunks)`: per-token
    * base hashes via [[hex32]], the 4-token window via LAG, cut set
    * re-aggregated per doc. 1-based j here ↔ 0-based i = j-1 in
    * [[cdcChunks]]; valid cuts j ∈ [CdcW, n-1]. */
  private lazy val cdcCxCte: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tk AS (
      |  SELECT doc_id, unnest(toks) AS tok,
      |         unnest(generate_series(1, len(toks))) AS j
      |  FROM d
      |), tb AS (
      |  SELECT doc_id, j, ${hex32("md5(tok)")} AS base FROM tk
      |), rolled AS (
      |  SELECT doc_id, j,
      |         lag(base, 3) OVER w AS b1, lag(base, 2) OVER w AS b2,
      |         lag(base, 1) OVER w AS b3, base AS b4
      |  FROM tb WINDOW w AS (PARTITION BY doc_id ORDER BY j)
      |), cw AS (
      |  SELECT r.doc_id, r.j
      |  FROM rolled r JOIN d ON d.doc_id = r.doc_id
      |  WHERE r.j >= ${CdcW} AND r.j <= len(d.toks) - 1
      |    AND (r.b1*${CdcA(0)} + r.b2*${CdcA(1)} + r.b3*${CdcA(2)}
      |         + r.b4*${CdcA(3)}) % ${CdcD} = 0
      |), cl AS (
      |  SELECT doc_id, list_sort(list(j)) AS cuts FROM cw GROUP BY doc_id
      |), cb AS (
      |  SELECT d.doc_id, d.toks,
      |         list_concat(COALESCE(cl.cuts, CAST([] AS BIGINT[])),
      |                     [CAST(len(d.toks) AS BIGINT)]) AS ends1,
      |         list_concat([CAST(1 AS BIGINT)],
      |                     list_transform(COALESCE(cl.cuts, CAST([] AS BIGINT[])),
      |                                    x -> x + 1)) AS starts1
      |  FROM d LEFT JOIN cl ON d.doc_id = cl.doc_id
      |), cx AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) > 0 THEN
      |           list_transform(generate_series(1, len(ends1)), k ->
      |             array_to_string(toks[starts1[k]:ends1[k]], ' '))
      |         ELSE [] END AS chunks
      |  FROM cb
      |)""".stripMargin

  val qSpanCdc = Q(
    "q_span_cdc",
    (s, dir) => spanDedupCdc(docsDistributed(s, dir)),
    Some(s"""$cdcCxCte,
      |ch AS (
      |  SELECT doc_id, unnest(chunks) AS chunk,
      |         unnest(generate_series(0, len(chunks) - 1)) AS pos
      |  FROM cx
      |), own AS (
      |  SELECT doc_id, pos, chunk,
      |         ROW_NUMBER() OVER (PARTITION BY md5(chunk)
      |                            ORDER BY doc_id, pos) AS rn
      |  FROM ch
      |), kept AS (
      |  SELECT doc_id, pos, chunk FROM own WHERE rn = 1
      |), rb AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_chunks,
      |         string_agg(chunk, ' ' ORDER BY pos) AS clean_text
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT cx.doc_id,
      |       COALESCE(rb.clean_text, '') AS clean_text,
      |       COALESCE(rb.kept_chunks, 0) AS kept_chunks,
      |       CAST(len(cx.chunks) AS BIGINT) AS total_chunks
      |FROM cx LEFT JOIN rb ON cx.doc_id = rb.doc_id""".stripMargin)
  )

  /** [[qSpanIncremental]] with CDC boundaries — the %5 arrival-split
    * replay of [[spanDedupCdcAgainstCorpus]], on the shared CDC chunk
    * CTEs. */
  val qSpanCdcIncremental = Q(
    "q_span_cdc_incremental",
    (s, dir) => {
      val docs = docsDistributed(s, dir)
      spanDedupCdcAgainstCorpus(docs.filter(col("doc_id") % 5 =!= 4),
                                docs.filter(col("doc_id") % 5 === 4))
    },
    Some(s"""$cdcCxCte,
      |ch AS (
      |  SELECT doc_id, unnest(chunks) AS chunk,
      |         unnest(generate_series(0, len(chunks) - 1)) AS pos
      |  FROM cx
      |), corpus_h AS (
      |  SELECT DISTINCT md5(chunk) AS h FROM ch WHERE doc_id % 5 <> 4
      |), fresh AS (
      |  SELECT doc_id, pos, chunk, md5(chunk) AS h
      |  FROM ch WHERE doc_id % 5 = 4
      |    AND md5(chunk) NOT IN (SELECT h FROM corpus_h)
      |), own AS (
      |  SELECT doc_id, pos, chunk,
      |         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |  FROM fresh
      |), kept AS (
      |  SELECT doc_id, pos, chunk FROM own WHERE rn = 1
      |), rb AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_chunks,
      |         string_agg(chunk, ' ' ORDER BY pos) AS clean_text
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT cx.doc_id,
      |       COALESCE(rb.clean_text, '') AS clean_text,
      |       COALESCE(rb.kept_chunks, 0) AS kept_chunks,
      |       CAST(len(cx.chunks) AS BIGINT) AS total_chunks
      |FROM cx LEFT JOIN rb ON cx.doc_id = rb.doc_id
      |WHERE cx.doc_id % 5 = 4""".stripMargin)
  )

  /** Rolling-window width (tokens) for [[qSubstrDedup]] — the repo's
    * 13-gram decontamination convention ([[qExactOverlap]]) reused as
    * the minimum duplicated-region length worth stripping. */
  private val SubstrW = 13

  /**
   * EXACT-SUBSTRING dedup at token resolution — the ExactSubstr pass
   * of Lee et al., "Deduplicating Training Data Makes Language Models
   * Better" (2022), re-expressed relationally: every `SubstrW`-token
   * ROLLING window (all positions, not chunk boundaries) is hashed;
   * a window occurrence that is not the corpus-wide first occurrence
   * of its content marks its tokens covered; covered tokens are
   * stripped and the survivors reassembled in order. Any duplicated
   * region of ≥ `SubstrW` tokens has ALL its interior windows
   * duplicated, so coverage equals the full duplicated region EXACTLY
   * — at any offset and any granularity, strictly stronger than both
   * fixed spans ([[qSpanDedup]], misses shifted duplicates) and CDC
   * chunks ([[qSpanCdc]], catches shifts but only at chunk
   * granularity: a duplicated region without an interior
   * content-defined cut escapes). Regions shorter than `SubstrW`
   * survive by design — that is the threshold, not a hole. The paper's
   * suffix array is the offline-index formulation of the same
   * semantics; the rolling-window join is the one-relational-pass
   * formulation, at W× the gram rows of the chunked variants.
   *
   * Scale: grams shuffle as `(16-byte md5, doc_id, int)` triples —
   * one row per corpus TOKEN (the W× price of exactness; the chunked
   * variants shuffle one row per W/CdcD tokens), but never text. The
   * owner rule is one `row_number` window per gram hash (group size =
   * occurrence count; a mega-hot boilerplate gram is the same
   * skew class every per-key operator documents). Covered positions
   * explode only from DUPLICATE occurrences — proportional to the
   * duplicated volume, the "diff is small" discipline — and the
   * complement anti-join ships ints. Reassembly is the
   * [[reassembleSpans]] shape: kept positions regroup per doc_id and
   * `element_at` re-reads tokens in place; the token array is
   * [[letBound]] so the split never re-evaluates per kept position.
   */
  /** DuckDB replay of the full-corpus rolling-gram ExactSubstr pass at
    * window width `w` — shared verbatim by [[qSubstrDedup]] (W =
    * SubstrW) and [[qSubstrSa]] (W = SaMinLen, through the stored
    * index), so the two thresholds can never drift on strip semantics. */
  private def substrOracleSql(w: Int): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, j - 1 AS pos,
      |         md5(array_to_string(toks[j:j+${w - 1}], ' ')) AS h
      |  FROM (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks) - ${w - 1})) AS j
      |        FROM d WHERE len(toks) >= $w)
      |), dup AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |           ROW_NUMBER() OVER (PARTITION BY h
      |                              ORDER BY doc_id, pos) AS rn
      |    FROM g) WHERE rn > 1
      |), cov AS (
      |  SELECT DISTINCT doc_id, pos + k AS p
      |  FROM (SELECT doc_id, pos,
      |               unnest(generate_series(0, ${w - 1})) AS k
      |        FROM dup)
      |), ap AS (
      |  SELECT doc_id, unnest(generate_series(0, len(toks) - 1)) AS p
      |  FROM d WHERE len(toks) > 0
      |), kt AS (
      |  SELECT a.doc_id, a.p
      |  FROM ap a LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.p = c.p
      |  WHERE c.doc_id IS NULL
      |), rb AS (
      |  SELECT k.doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
      |         string_agg(d.toks[k.p + 1], ' ' ORDER BY k.p) AS clean_text
      |  FROM kt k JOIN d ON d.doc_id = k.doc_id
      |  GROUP BY k.doc_id
      |)
      |SELECT d.doc_id,
      |       COALESCE(rb.clean_text, '') AS clean_text,
      |       COALESCE(rb.kept_tokens, 0) AS kept_tokens,
      |       CAST(COALESCE(len(d.toks), 0) AS BIGINT) AS total_tokens
      |FROM d LEFT JOIN rb ON d.doc_id = rb.doc_id""".stripMargin

  val qSubstrDedup = Q(
    "q_substr_dedup",
    (s, dir) => substrDedup(docsDistributed(s, dir)),
    Some(substrOracleSql(SubstrW))
  )

  /** `(doc_id, pos, h)` — the rolling `SubstrW`-token gram triples of
    * an arbitrary `(doc_id, text)` frame, one per token position. Pure
    * projections (stateless, so the streaming face applies it
    * verbatim); the token array is [[letBound]] against per-window
    * re-splitting. */
  private[queries] def substrGrams(d0: DataFrame,
                                   w: Int = SubstrW): DataFrame =
    d0.select(col("doc_id"),
        explode(letBound(TextOps.tokens(col("text"))) { toks =>
          when(size(toks) >= w,
            transform(sequence(lit(0), size(toks) - w), i =>
              struct(i.cast("int").as("pos"),
                     // 16-byte BINARY key, not the 32-char hex string:
                     // the gram key is internal (ownership classes
                     // only — the oracle never sees it), and the owner
                     // window + anti-joins shuffle one row per corpus
                     // token, so key width is half the exchange
                     unhex(md5(array_join(slice(toks, i + 1, lit(w)),
                                          " ")))
                       .as("h"))))
            .otherwise(array().cast("array<struct<pos:int,h:binary>>"))
        }).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))

  /** The strip-and-reassemble tail shared by all [[qSubstrDedup]]
    * faces: from the DUPLICATE gram occurrences, rebuild `(doc_id,
    * clean_text, kept_tokens, total_tokens)` over every document of
    * `d0`.
    *
    * Coverage is computed ROW-LOCALLY as a merged-interval complement,
    * not by exploding each duplicate window into its `SubstrW` covered
    * positions: the explode formulation shipped 13× the duplicate-gram
    * rows through a distinct + anti-join + regroup (three corpus-scale
    * exchanges), which at the pathological 500 k-doc soak — 150-member
    * families, ~99 % duplication, the worst case for a dedup pass —
    * measured 72 s with the blowup concentrated exactly there. Here
    * the duplicate STARTS aggregate once per doc (map-combinable
    * collect, compact ints), and the interval union, its complement,
    * and the kept-token rebuild are all HOFs over the sorted starts
    * array: O(dups + tokens) per row, zero further exchanges —
    * 72 s → 26.6 s at the same soak, same oracle (the remainder is
    * the gram hash + owner window, the pass's irreducible core). */
  private[queries] def substrReassemble(d0: DataFrame, dup: DataFrame,
                                        w: Int = SubstrW): DataFrame = {
    val starts = dup.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("dstarts"))
    d0.join(starts, Seq("doc_id"), "left")
      .withColumn("dstarts",
                  coalesce(col("dstarts"), array().cast("array<int>")))
      .withColumn("out",
        letBound(coalesce(TextOps.tokens(col("text")),
                          array().cast("array<string>"))) { toks =>
          // union of [d, d+W-1] over the ASCENDING starts, LINEARLY:
          // under equal widths the running interval's end after
          // processing dᵢ₋₁ is always dᵢ₋₁+W−1, so "dᵢ extends it"
          // depends only on the CONSECUTIVE gap (dᵢ − dᵢ₋₁ ≤ W) —
          // interval starts are the gap-breaks looking back, interval
          // ends the gap-breaks looking forward, paired positionally.
          // (An aggregate() fold that rebuilt the merged array per
          // start was O(intervals²) per doc via the slice+concat copy;
          // this is O(dups). Branch ORDER is load-bearing: the i == 0 /
          // last-index arms guard the neighbor element_at from ANSI
          // out-of-bounds, and CaseWhen evaluates lazily.)
          letBound(col("dstarts")) { ds =>
            val iStarts = filter(
              transform(ds, (d, i) =>
                when(i === 0, d)
                  .when(d - element_at(ds, i) > w, d)),
              x => x.isNotNull)
            val iEnds = filter(
              transform(ds, (d, i) =>
                when(i === size(ds) - 1, d + lit(w - 1))
                  .when(element_at(ds, i + 2) - d > w,
                        d + lit(w - 1))),
              x => x.isNotNull)
            letBound(iStarts) { ss =>
              letBound(iEnds) { es =>
                // complement gaps: before each interval (bounded by
                // the previous one's end) and after the last;
                // degenerate gaps filter out, the whole-doc case falls
                // out of the empty start set
                val gaps = concat(
                  transform(ss, (st, j) =>
                    struct(
                      when(j === 0, lit(0))
                        .otherwise(element_at(es, j) + 1).as("gs"),
                      (st - 1).as("ge"))),
                  array(struct(
                    when(size(es) > 0, element_at(es, -1) + 1)
                      .otherwise(lit(0)).as("gs"),
                    (size(toks) - 1).as("ge"))))
                val kp = flatten(transform(
                  filter(gaps, g => g.getField("gs") <= g.getField("ge")),
                  g => sequence(g.getField("gs"), g.getField("ge"))))
                struct(
                  array_join(transform(kp, p => element_at(toks, p + 1)),
                             " ").as("clean_text"),
                  size(kp).cast("long").as("kept_tokens"),
                  size(toks).cast("long").as("total_tokens"))
              }
            }
          }
        })
      .select(col("doc_id"), col("out.clean_text").as("clean_text"),
              col("out.kept_tokens").as("kept_tokens"),
              col("out.total_tokens").as("total_tokens"))
  }

  /** [[qSubstrDedup]]'s body over an ARBITRARY `(doc_id, text)` frame. */
  private[graft] def substrDedup(d0: DataFrame,
                                 w: Int = SubstrW): DataFrame = {
    val wOwn = Window.partitionBy("h").orderBy(col("doc_id"), col("pos"))
    val dup = substrGrams(d0, w)
      .withColumn("rn", row_number().over(wOwn))
      .filter(col("rn") > 1)
      .select("doc_id", "pos")
    substrReassemble(d0, dup, w)
  }

  /**
   * INCREMENTAL exact-substring dedup: strip an ARRIVING batch's
   * duplicated regions against the gram index of an existing corpus —
   * the [[spanDedupAgainstCorpus]] contract at [[qSubstrDedup]]'s
   * token resolution. A batch gram occurrence is a duplicate iff its
   * hash is in the corpus gram set (all its occurrences die — compact
   * 16-byte-key membership, never text) OR it is a batch-internal
   * non-first occurrence; covered tokens strip, every batch document
   * reassembles. Equivalent to the streaming face's
   * fresh-and-first-occurrence rule (all occurrences of a
   * corpus-known gram are non-kept regardless of batch rank).
   */
  private[graft] def substrDedupAgainstCorpus(corpus: DataFrame,
                                              batch: DataFrame): DataFrame = {
    val corpusH = substrGrams(corpus).select("h").distinct()
    val wOwn = Window.partitionBy("h").orderBy(col("doc_id"), col("pos"))
    val dup = substrGrams(batch)
      .join(corpusH.withColumn("in_corpus", lit(1)), Seq("h"), "left")
      .withColumn("rn", row_number().over(wOwn))
      .filter(col("in_corpus").isNotNull || col("rn") > 1)
      .select("doc_id", "pos")
    substrReassemble(batch, dup)
  }

  /** [[qSpanIncremental]]'s %5 arrival split applied to
    * [[substrDedupAgainstCorpus]]. */
  /** DuckDB replay of the corpus-vs-batch (%5 split) incremental
    * substring strip at window width `w` — shared by
    * [[qSubstrIncremental]] (W = SubstrW, inline corpus grams) and
    * [[qSubstrSaProbe]] (W = SaMinLen, corpus grams through the stored
    * index — the replay is the same because the index IS the corpus
    * gram set). */
  private def substrIncrOracleSql(w: Int): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, j - 1 AS pos,
      |         md5(array_to_string(toks[j:j+${w - 1}], ' ')) AS h
      |  FROM (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks) - ${w - 1})) AS j
      |        FROM d WHERE len(toks) >= $w)
      |), cg AS (
      |  SELECT DISTINCT h FROM g WHERE doc_id % 5 <> 4
      |), dup AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, h,
      |           ROW_NUMBER() OVER (PARTITION BY h
      |                              ORDER BY doc_id, pos) AS rn
      |    FROM g WHERE doc_id % 5 = 4)
      |  WHERE rn > 1 OR h IN (SELECT h FROM cg)
      |), cov AS (
      |  SELECT DISTINCT doc_id, pos + k AS p
      |  FROM (SELECT doc_id, pos,
      |               unnest(generate_series(0, ${w - 1})) AS k
      |        FROM dup)
      |), ap AS (
      |  SELECT doc_id, unnest(generate_series(0, len(toks) - 1)) AS p
      |  FROM d WHERE len(toks) > 0 AND doc_id % 5 = 4
      |), kt AS (
      |  SELECT a.doc_id, a.p
      |  FROM ap a LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.p = c.p
      |  WHERE c.doc_id IS NULL
      |), rb AS (
      |  SELECT k.doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
      |         string_agg(d.toks[k.p + 1], ' ' ORDER BY k.p) AS clean_text
      |  FROM kt k JOIN d ON d.doc_id = k.doc_id
      |  GROUP BY k.doc_id
      |)
      |SELECT d.doc_id,
      |       COALESCE(rb.clean_text, '') AS clean_text,
      |       COALESCE(rb.kept_tokens, 0) AS kept_tokens,
      |       CAST(COALESCE(len(d.toks), 0) AS BIGINT) AS total_tokens
      |FROM d LEFT JOIN rb ON d.doc_id = rb.doc_id
      |WHERE d.doc_id % 5 = 4""".stripMargin

  val qSubstrIncremental = Q(
    "q_substr_incremental",
    (s, dir) => {
      val docs = docsDistributed(s, dir)
      substrDedupAgainstCorpus(docs.filter(col("doc_id") % 5 =!= 4),
                               docs.filter(col("doc_id") % 5 === 4))
    },
    Some(substrIncrOracleSql(SubstrW))
  )

  /** Minimum duplicated-region length (tokens) for [[qSubstrSa]] —
    * deliberately BELOW [[SubstrW]]: regions of `SaMinLen..SubstrW-1`
    * tokens are exactly the hole the rolling W-gram pass documents
    * ("regions shorter than SubstrW survive by design") and the
    * offline index closes. */
  private[queries] val SaMinLen = 8

  /** Physical bucket count for [[writeSubstrIndex]] — the bounded-
    * directory rationale, applied to gram-hash prefixes. */
  private[queries] val SaBuckets = 64

  /** Materialize the SORTED GRAM-OCCURRENCE INDEX of a corpus at
    * window width `w` — the relational stand-in for Lee et al.'s
    * suffix array: one `(h, doc_id, pos)` triple per token position,
    * hash-bucketed (`<outDir>/grams/gbucket=<b>/`) and sorted
    * `(h, doc_id, pos)` within each bucket, so equal-content windows
    * are PHYSICALLY ADJACENT exactly like equal-prefix suffixes in a
    * suffix array's sorted order. Committed via AtomicPublish — the
    * offline artifact a 100 TB pipeline builds once and keeps between
    * batches: dedup passes and arriving-batch probes read 28-byte
    * compact triples (16 B hash + 8 B doc + 4 B pos) with row-group
    * h-stats for point skips, never re-tokenizing the standing corpus
    * (at 100 TB the tokenize+hash of the corpus IS the dominant cost —
    * this is the index build that pays it once). */
  def writeSubstrIndex(corpus: DataFrame, outDir: String,
                       w: Int = SaMinLen): Unit = {
    substrGrams(corpus, w)
      .withColumn("gbucket", pmod(xxhash64(col("h")), lit(SaBuckets.toLong)))
      .repartition(col("gbucket"))
      .sortWithinPartitions("gbucket", "h", "doc_id", "pos")
      .write.mode("overwrite").partitionBy("gbucket")
      .parquet(s"$outDir/grams")
    // The layout records ITS OWN window width (ADVICE r19): gram hashes
    // at different widths never collide, so a probe at the wrong w would
    // silently match zero corpus grams and under-strip instead of
    // failing. Written before commit so the manifest covers it — a
    // reader can never see a committed layout without its width.
    writeSaWidth(corpus.sparkSession, outDir, w)
    graft.sources.AtomicPublish.commit(corpus.sparkSession, outDir)
  }

  /** Name of the width-record file inside a [[writeSubstrIndex]]
    * layout — one ASCII integer, the gram window the index was built
    * at. */
  private val SaWidthFile = "_GRAFT_GRAM_W"

  private def writeSaWidth(s: SparkSession, outDir: String, w: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir, SaWidthFile)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val o = fs.create(p, true)
    o.write(w.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    o.close()
  }

  /** Enforce the width contract of a committed substring-gram layout:
    * the probe's `w` must equal the build's recorded `w`, else the
    * probe's hashes share no domain with the stored ones and the pass
    * would under-strip SILENTLY. A pre-width layout (no record file) is
    * also an error — rebuild it; guessing a width would re-create the
    * silent mismatch this guard exists to kill. */
  private def requireSaWidth(s: SparkSession, layoutDir: String,
                             w: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(layoutDir, SaWidthFile)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
            s"substring index at $layoutDir records no gram width " +
              s"($SaWidthFile missing) — rebuild with writeSubstrIndex")
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "US-ASCII")
      .mkString.trim
    finally in.close()
    require(body == w.toString,
            s"substring index at $layoutDir was built at gram width " +
              s"$body; probe asked for $w — same-width is required " +
              "(different-width gram hashes never collide)")
  }

  /** Duplicate (non-first) gram occurrences read FROM a committed
    * [[writeSubstrIndex]] layout — compact triples only. `w` is the
    * width the CALLER will reassemble at; it must match the build
    * ([[requireSaWidth]]) or covered-token arithmetic is wrong. */
  private[queries] def saDuplicatesFromIndex(s: SparkSession,
                                             layoutDir: String,
                                             w: Int = SaMinLen): DataFrame = {
    requireSaWidth(s, layoutDir, w)
    val wOwn = Window.partitionBy("h").orderBy(col("doc_id"), col("pos"))
    graft.sources.AtomicPublish.readCommitted(s, layoutDir, "grams")
      .select(col("h"), col("doc_id"), col("pos"))
      .withColumn("rn", row_number().over(wOwn))
      .filter(col("rn") > 1)
      .select("doc_id", "pos")
  }

  /** Strip an ARRIVING batch against the COMMITTED gram index — the
    * probe that actually amortizes [[writeSubstrIndex]]: the standing
    * corpus participates as compact DISTINCT 16-byte hashes read back
    * from the layout (never re-tokenized — the pay-once contract), the
    * batch's grams AT THE SAME WIDTH mark corpus-known occurrences (all
    * of them die — the [[substrDedupAgainstCorpus]] rule) or
    * batch-internal non-first occurrences, and covered tokens strip.
    * The 8..12-token regions the W = SubstrW probe passes through are
    * caught here because the index and the probe share `w`. */
  def substrDedupAgainstIndex(s: SparkSession, layoutDir: String,
                              batch: DataFrame,
                              w: Int = SaMinLen): DataFrame = {
    requireSaWidth(s, layoutDir, w)
    val corpusH = graft.sources.AtomicPublish
      .readCommitted(s, layoutDir, "grams")
      .select("h").distinct()
    val wOwn = Window.partitionBy("h").orderBy(col("doc_id"), col("pos"))
    val dup = substrGrams(batch, w)
      .join(corpusH.withColumn("in_corpus", lit(1)), Seq("h"), "left")
      .withColumn("rn", row_number().over(wOwn))
      .filter(col("in_corpus").isNotNull || col("rn") > 1)
      .select("doc_id", "pos")
    substrReassemble(batch, dup, w)
  }

  /**
   * Suffix-array-style ExactSubstr THROUGH the offline index, behind
   * the driver gate (round-18 VERDICT item 6): build the sorted
   * gram-occurrence layout at `SaMinLen` tokens ([[writeSubstrIndex]],
   * [[LayoutQueries.memo]]ized like the IVF/cluster layouts), derive
   * duplicate occurrences from the STORED triples, and strip-and-
   * reassemble every document ([[substrReassemble]] at the same
   * width). Closes the documented [[qSubstrDedup]] threshold hole:
   * a duplicated region of `SaMinLen..SubstrW-1` tokens — at ANY
   * offset — survives the W = SubstrW rolling pass (no 13-token
   * window fits inside it) but dies here; `SubstrSaSpec` plants
   * exactly that case and pins the divergence. The oracle replays the
   * whole pass at `SaMinLen` through the shared [[substrOracleSql]],
   * so index content, ownership order, and strip arithmetic are all
   * hash-gated — a drift between the stored layout and the
   * from-scratch derivation mismatches.
   *
   * Scale: the index costs W× fewer gram rows than it looks — ONE row
   * per token regardless of `w` — and the pass reads it back as
   * compact triples; the owner rule and reassembly inherit
   * [[qSubstrDedup]]'s documented shapes. The build is the
   * pay-once artifact; [[substrDedupAgainstIndex]] is the matching
   * arriving-batch probe (same width, corpus as stored hashes — the
   * corpus is never re-tokenized after the build).
   */
  val qSubstrSa = Q(
    "q_substr_sa",
    (s, dir) => {
      val docs = docsDistributed(s, dir)
      val out = LayoutQueries.memo(s, dir, "substr-sa")(writeSubstrIndex(docs, _))
      substrReassemble(docs, saDuplicatesFromIndex(s, out), SaMinLen)
    },
    Some(substrOracleSql(SaMinLen))
  )

  /**
   * The ARRIVING-BATCH face of the stored substring index, behind the
   * driver gate — the [[qSubstrIncremental]] %5-split replay at the
   * index's own width: the even corpus is indexed ONCE
   * ([[writeSubstrIndex]] under [[LayoutQueries.memo]]), the eval batch
   * probes the COMMITTED layout ([[substrDedupAgainstIndex]] — corpus
   * as stored hashes, never re-tokenized), and the 8..12-token regions the
   * W = SubstrW incremental face passes through die here. The oracle
   * is the shared split replay at `SaMinLen` — identical because the
   * stored index IS the corpus gram set ([[SubstrSaSpec]] pins that
   * equivalence structurally; this gate pins it by hash).
   */
  val qSubstrSaProbe = Q(
    "q_substr_sa_probe",
    (s, dir) => {
      val docs = docsDistributed(s, dir)
      val out = LayoutQueries.memo(s, dir, "substr-sa-corpus")(
        writeSubstrIndex(docs.filter(col("doc_id") % 5 =!= 4), _))
      substrDedupAgainstIndex(s, out, docs.filter(col("doc_id") % 5 === 4))
    },
    Some(substrIncrOracleSql(SaMinLen))
  )

  /** Physical bucket count for [[writeBandIndex]] — the bounded-
    * directory rationale ([[graft.queries.SimQueries]] ClusterBuckets)
    * applied to band signatures. */
  private[queries] val BandBuckets = 64

  /** Materialize a corpus' distinct MinHash band signatures as a
    * bucketed physical layout (`<outDir>/bands/bband=<b>/`) — the
    * near-dup sibling of the exact-hash index behind
    * [[dedupAgainstIndex]]: the artifact a continuously-ingested
    * pipeline keeps BETWEEN batches so each arrival probes frozen
    * state instead of re-signing the corpus. Compact by construction:
    * three 8-byte ints per distinct (band, signature), independent of
    * document length. */
  def writeBandIndex(corpus: DataFrame, outDir: String): Unit =
    writeBands(corpus, outDir, mode = "overwrite")

  /** The one statement of the bucketed signature write shared by the
    * build ([[writeBandIndex]]) and the maintenance append
    * ([[appendToBandIndex]]) — mode is the only difference, and any
    * drift between the two (bucket derivation, sort order) would break
    * the probe's layout contract silently. */
  private def writeBands(docsDf: DataFrame, outDir: String,
                         mode: String): Unit =
    writeBandsSigned(bandSignaturesOf(docsDf.select("doc_id", "text")),
                     outDir, mode)

  /** [[writeBands]] from an ALREADY-SIGNED frame — the
    * [[cachedBandSigs]] seam; one statement of the bucketed write
    * either way. */
  private def writeBandsSigned(sigs: DataFrame, outDir: String,
                               mode: String): Unit = {
    sigs
      .select("band", "sig0", "sig1").distinct()
      .withColumn("bband",
                  pmod(xxhash64(col("band"), col("sig0"), col("sig1")),
                       lit(BandBuckets.toLong)))
      .repartition(col("bband"))
      .sortWithinPartitions("bband", "band", "sig0", "sig1")
      .write.mode(mode).partitionBy("bband")
      .parquet(s"$outDir/bands")
    // atomic publish: the probe reads ONLY committed files, so a torn
    // append (crash before this line) is invisible, never half-served
    graft.sources.AtomicPublish.commit(sigs.sparkSession, outDir)
  }

  /** Surviving arrivals of an INCREMENTAL near-dup pass against a
    * stored band index: a batch document dies iff any of its band
    * signatures matches the index (near-duplicate of the standing
    * corpus — compact 24-byte-key semi-join, never text) or it is the
    * LARGER side of any batch-internal LSH candidate pair (the
    * `a_id < b_id` greedy-min rule — deterministic, and conservative:
    * a batch doc colliding with a smaller batch doc dies even if that
    * smaller doc itself died to a corpus hit). Returns the surviving
    * `doc_id`s. */
  private[graft] def dedupAgainstBandIndex(s: SparkSession,
                                           layoutDir: String,
                                           batch: DataFrame): DataFrame =
    dedupAgainstBandIndexSigned(
      s, layoutDir, batch.select("doc_id"),
      bandSignaturesOf(batch.select("doc_id", "text")))

  /** [[dedupAgainstBandIndex]] from an ALREADY-SIGNED batch — the
    * [[cachedBandSigs]] seam: `batchIds` is the batch's FULL doc_id
    * frame (docs too short to shingle carry no signature rows but must
    * still survive), `batchSigs` its signature slice. */
  private def dedupAgainstBandIndexSigned(s: SparkSession,
                                          layoutDir: String,
                                          batchIds: DataFrame,
                                          batchSigs: DataFrame): DataFrame = {
    val idx = graft.sources.AtomicPublish.readCommitted(s, layoutDir, "bands")
      .select("band", "sig0", "sig1")
    val hits = batchSigs
      .join(idx, Seq("band", "sig0", "sig1"), "left_semi")
      .select("doc_id").distinct()
    val losers = candidatePairsSigned(batchSigs)
      .select(col("b_id").as("doc_id")).distinct()
    batchIds
      .join(hits, Seq("doc_id"), "left_anti")
      .join(losers, Seq("doc_id"), "left_anti")
  }

  /** The maintenance half: append a frame's band signatures under
    * their buckets (arrivals that survived [[dedupAgainstBandIndex]]
    * join the standing index for the NEXT batch — the
    * [[graft.queries.SimQueries]] qIvfAppend frozen-state cadence). */
  def appendToBandIndex(s: SparkSession, layoutDir: String,
                        survivors: DataFrame): Unit =
    writeBands(survivors, layoutDir, mode = "append")

  /**
   * INCREMENTAL near-dup dedup through the STORED band index, behind
   * the driver gate — [[qDedupIncremental]]'s exact-hash contract
   * lifted to MinHash granularity, with the index as a materialized
   * layout rather than a per-run recompute ([[qDedupBloom]]'s
   * result-invisible discipline: the oracle replays the signatures
   * from scratch, so the stored artifact must be a PURE
   * materialization — any drift in the write, the bucket derivation,
   * or the probe join hash-mismatches here). The gate also APPENDS the
   * survivors' signatures (the next batch's frozen state) and bills
   * that cost; `BandIndexSpec` proves the append's content.
   */
  val qMinhashIncremental = Q(
    "q_minhash_incremental",
    (s, dir) => {
      val out = LayoutQueries.derivedDir(s, dir, "minhash-index")
      val d = docsDistributed(s, dir)
      // the gate's FOUR signings (build, probe, probe pairs, append)
      // all filter the one shared per-process signature table
      val sigs = cachedBandSigs(s, dir)
      val batchIds = d.filter(col("doc_id") % 5 === 4).select("doc_id")
      val batchSigs = sigs.filter(col("doc_id") % 5 === 4)
      writeBandsSigned(sigs.filter(col("doc_id") % 5 =!= 4), out,
                       mode = "overwrite")
      // survivors PINNED before the append: the append mutates the very
      // path the survivor plan scans, and only the FileIndex's
      // plan-build-time listing snapshot keeps a lazy re-evaluation
      // from seeing the survivors' own appended signatures (every doc
      // would then self-hit and vanish). An eager localCheckpoint makes
      // the correctness explicit instead of resting on listing-cache
      // behavior; the pinned frame is survivor-id-sized.
      val survivors = dedupAgainstBandIndexSigned(s, out, batchIds,
                                                   batchSigs)
        .localCheckpoint()
      writeBandsSigned(
        batchSigs.join(survivors, Seq("doc_id"), "left_semi"), out,
        mode = "append")
      survivors
    },
    Some(s"""$bandSigCte,
      |ci AS (
      |  SELECT DISTINCT band, sig0, sig1 FROM sig WHERE doc_id % 5 <> 4
      |), bs AS (
      |  SELECT doc_id, band, sig0, sig1 FROM sig WHERE doc_id % 5 = 4
      |), corpus_hit AS (
      |  SELECT DISTINCT bs.doc_id
      |  FROM bs JOIN ci ON bs.band = ci.band AND bs.sig0 = ci.sig0
      |                 AND bs.sig1 = ci.sig1
      |), bcand AS (
      |  SELECT DISTINCT b.doc_id AS b_id
      |  FROM bs a JOIN bs b
      |    ON a.band = b.band AND a.sig0 = b.sig0 AND a.sig1 = b.sig1
      |       AND a.doc_id < b.doc_id
      |)
      |SELECT doc_id FROM documents
      |WHERE doc_id % 5 = 4
      |  AND doc_id NOT IN (SELECT doc_id FROM corpus_hit)
      |  AND doc_id NOT IN (SELECT b_id FROM bcand)""".stripMargin)
  )

  /**
   * Snapshot MERGE (SCD-1 / MERGE INTO semantics): apply a changelog of
   * `upsert`/`delete` operations to a corpus snapshot, producing the
   * next snapshot — the write side of [[corpusDiff]]'s read side, and
   * the maintenance primitive a continuously-ingested corpus runs per
   * refresh (Delta/Iceberg MERGE without a table format: the engine
   * half is exactly this plan). Rules: a changed key REPLACES the
   * snapshot row (upsert) or removes it (delete); unchanged snapshot
   * rows pass through; upserts for unseen keys insert.
   *
   * Shape at 100 TB: the snapshot side is touched by ONE left-anti
   * join against the changelog's DISTINCT KEYS — 8-byte doc_ids, never
   * text (the changelog is refresh-sized, orders of magnitude under
   * the snapshot, so the anti-join broadcasts or shuffles compact keys
   * only), then the surviving rows union the upsert payloads with zero
   * further exchange. Snapshot text crosses no shuffle at all.
   */
  private[graft] def mergeUpsert(snapshot: DataFrame,
                                 changes: DataFrame): DataFrame = {
    val keys = changes.select("doc_id").distinct()
    snapshot.join(keys, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
      .unionAll(changes.filter(col("op") === "upsert")
        .select(col("doc_id"), col("text")))
  }

  /** Deterministic changelog derivation for the gate: doc_id % 7 == 0
    * rows become deletes, % 7 == 1 rows update to reversed text (the
    * same normalization-surviving mutation [[qCorpusDiff]] uses), and
    * % 7 == 2 rows insert as NEW keys (doc_id + 1 000 000 — outside the
    * snapshot's id space). Output ships (doc_id, content hash), never
    * text. */
  val qMergeUpsert = Q(
    "q_merge_upsert",
    (s, dir) => {
      // plain reader, not docsDistributed: merge work is a cheap per-row
      // hash with no explode fanout, and `d` fans into four scans (the
      // snapshot + three changelog branches) — a pre-exchange would be
      // re-executed per branch for nothing (plan-audited: 7 → 3
      // exchanges after dropping it)
      val d = docs(s, dir)
      val changes =
        d.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit("delete").as("op"),
                  lit(null).cast("string").as("text"))
          .unionAll(d.filter(col("doc_id") % 7 === 1)
            .select(col("doc_id"), lit("upsert").as("op"),
                    reverse(col("text")).as("text")))
          .unionAll(d.filter(col("doc_id") % 7 === 2)
            .select((col("doc_id") + 1000000L).as("doc_id"),
                    lit("upsert").as("op"), col("text")))
      mergeUpsert(d, changes)
        .select(col("doc_id"), TextOps.contentHash(col("text")).as("h"))
    },
    Some("""WITH ch AS (
      |  SELECT doc_id, 'delete' AS op, CAST(NULL AS VARCHAR) AS text
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, 'upsert', reverse(text)
      |  FROM documents WHERE doc_id % 7 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'upsert', text
      |  FROM documents WHERE doc_id % 7 = 2
      |), kept AS (
      |  SELECT d.doc_id, d.text FROM documents d
      |  WHERE d.doc_id NOT IN (SELECT doc_id FROM ch)
      |), nxt AS (
      |  SELECT doc_id, text FROM kept
      |  UNION ALL
      |  SELECT doc_id, text FROM ch WHERE op = 'upsert'
      |)
      |SELECT doc_id,
      |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
      |FROM nxt""".stripMargin)
  )

  /**
   * Versioned MERGE (SCD-2 semantics): the same changelog as
   * [[qMergeUpsert]], but instead of producing the next snapshot it
   * produces the row-versioned HISTORY — every change CLOSES the
   * prior version (`valid_to` = the change epoch) and upserts OPEN a
   * new one, deletes close without a successor, untouched rows stay
   * open. This is the audit/reproducibility face of corpus
   * maintenance: "which exact text was doc X at epoch E" is a range
   * predicate over the history, which is what a trained-model
   * provenance question reduces to.
   *
   * Shape at 100 TB: ONE left join of the snapshot against the
   * changelog's distinct 8-byte keys decides open-vs-closed per row
   * (broadcast at refresh scale — a changelog is orders of magnitude
   * under the snapshot), then the new versions union in with no
   * further exchange; snapshot text crosses no shuffle, exactly the
   * [[mergeUpsert]] discipline with a conditional `valid_to` instead
   * of an anti-join drop.
   */
  private[graft] def scd2Merge(snapshot: DataFrame, changes: DataFrame,
                               epoch: Long): DataFrame = {
    val keys = changes.select("doc_id").distinct()
      .withColumn("__chg", lit(1))
    snapshot.join(keys, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), lit(0L).as("valid_from"),
              when(col("__chg") === 1, lit(epoch)).cast("long")
                .as("valid_to"))
      .unionAll(changes.filter(col("op") === "upsert")
        .select(col("doc_id"), col("text"), lit(epoch).as("valid_from"),
                lit(null).cast("long").as("valid_to")))
  }

  /** The gate over [[qMergeUpsert]]'s exact changelog fixture; output
    * ships (doc_id, content hash, validity interval), never text. */
  val qScd2Merge = Q(
    "q_scd2_merge",
    (s, dir) => {
      val d = docs(s, dir)
      val changes =
        d.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit("delete").as("op"),
                  lit(null).cast("string").as("text"))
          .unionAll(d.filter(col("doc_id") % 7 === 1)
            .select(col("doc_id"), lit("upsert").as("op"),
                    reverse(col("text")).as("text")))
          .unionAll(d.filter(col("doc_id") % 7 === 2)
            .select((col("doc_id") + 1000000L).as("doc_id"),
                    lit("upsert").as("op"), col("text")))
      scd2Merge(d, changes, epoch = 1L)
        .select(col("doc_id"), TextOps.contentHash(col("text")).as("h"),
                col("valid_from"), col("valid_to"))
    },
    Some("""WITH ch AS (
      |  SELECT doc_id, 'delete' AS op, CAST(NULL AS VARCHAR) AS text
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, 'upsert', reverse(text)
      |  FROM documents WHERE doc_id % 7 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'upsert', text
      |  FROM documents WHERE doc_id % 7 = 2
      |), k AS (SELECT DISTINCT doc_id FROM ch)
      |SELECT d.doc_id,
      |       md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g')) AS h,
      |       CAST(0 AS BIGINT) AS valid_from,
      |       CASE WHEN k.doc_id IS NOT NULL THEN CAST(1 AS BIGINT) END
      |         AS valid_to
      |FROM documents d LEFT JOIN k ON d.doc_id = k.doc_id
      |UNION ALL
      |SELECT doc_id,
      |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
      |       CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
      |FROM ch WHERE op = 'upsert'""".stripMargin)
  )

  /** 13 tokens — the GPT-3/Pile convention for exact-overlap
    * decontamination. */
  private val OverlapN = 13

  /** The overlap gram array for a text column — ONE definition of the
    * gram size and joining shared by [[qExactOverlap]] and the streaming
    * face ([[graft.streaming.StreamingDecontam.exactOverlapHits]]). */
  private[graft] def overlapGrams(text: Column): Column =
    TextOps.shingles(TextOps.tokens(text), OverlapN)

  /** Stop-gram guard: n-grams present in more than this many documents are
    * excluded from overlap pairing (boilerplate/common phrases — the Pile's
    * common-gram exclusion). Also the scale bound: each surviving gram
    * contributes ≤ MaxGramDocs² pairs, so the gram-hash equi-join can never
    * go quadratic in the corpus. */
  private val MaxGramDocs = 32

  /**
   * EXACT n-gram overlap decontamination — the GPT-3-style complement to
   * [[qDecontaminate]]'s LSH near-dup pass: a train document is
   * contaminated if it shares ANY verbatim 13-gram with an eval document
   * (near-dup catches paraphrase-scale copying; exact overlap catches
   * verbatim quotation that LSH banding can miss when the surrounding
   * document differs). Emits one row per straddling (train, eval) pair
   * with the count of shared distinct grams.
   *
   * Shape at 100 TB: per-doc DISTINCT gram keys → document-frequency
   * filter (the stop-gram guard above) → gram-key equi-join restricted
   * to train×eval — every stage keys on the gram key, and the guard
   * caps the per-gram fanout, so the join is skew-bounded by
   * construction. The key is 128 bits: TWO independent xxhash64 lanes
   * (seeded by hashing (g) vs (g, 1)), still ~3× cheaper per gram than
   * md5 in the measured warm bench. One 64-bit lane is NOT enough at
   * the documented scale — distinct 13-grams in a 100 TB corpus far
   * exceed the ~4×10⁹ birthday bound of a 64-bit space, and collisions
   * there don't just add noise, they systematically inflate shared-gram
   * counts and merge per-doc distinct grams; at 128 bits the collision
   * expectation stays ≪1 past 10¹⁵ distinct grams, matching the
   * oracle's 128-bit md5 keys. The keys never leave the query, so the
   * two sides count the same distinct grams.
   *
   * `lazy` (with [[all]]): the oracle interpolates
   * [[CurationQueries.splitBucketSql]] while CurationQueries's own
   * composed oracle interpolates [[dedupedKeptCte]] from this object —
   * deferring construction to first use keeps the two objects'
   * initialization acyclic regardless of which loads first.
   */
  lazy val qExactOverlap = Q(
    "q_exact_overlap",
    (s, dir) => {
      // Per-doc gram dedup happens INSIDE the explode input (array_distinct
      // on the ~200-element gram array — local, codegen'd, no state), not
      // as a global `.distinct()` after it. The distinct formulation built
      // a partial HashAggregate over every exploded gram row with
      // near-unique (doc_id, gh) keys — per-task maps the size of the
      // task's input, which hard-OOM'd at the 2 M-doc soak (init
      // allocation got 0 bytes with 32 such maps racing; spill fallback
      // can't engage before the first allocation succeeds). The dedup is
      // per-doc by definition, so O(grams-per-doc) local work replaces the
      // library's largest hash-aggregate and one full 376 M-row exchange.
      //
      // Both exchanges PIN their partition count (distributeBy, unlike
      // docsDistributed): the 13-gram explode + hash is the densest
      // per-row stage in the library, and AQE's byte-based coalescing
      // serialized it (round-11 A/B: 3.70 s bare vs 1.77 s pinned, warm).
      // The doc_id exchange spreads the explode over the cluster while
      // rows are still compact; the (gh, gh2) exchange — checkpointed,
      // since the stop-gram count AND both pairing sides read it, and
      // localCheckpoint preserves outputPartitioning — aligns every
      // downstream stage: the df-guard groupBy, the semi-join back, and
      // the train×eval pairing join all key on (gh, gh2) and run
      // exchange-free on the checkpoint's partitioning.
      val grams = distributeBy(docs(s, dir), col("doc_id"))
        .select(col("doc_id"),
                CurationQueries.splitName(
                  CurationQueries.splitBucket(col("text"))).as("split"),
                explode(array_distinct(overlapGrams(col("text")))).as("g"))
        .select(col("doc_id"), col("split"),
                xxhash64(col("g")).as("gh"),
                xxhash64(col("g"), lit(1L)).as("gh2"))
      val byKey = checkpointCompact(distributeBy(grams, col("gh"), col("gh2")))
      // stop-gram guard as a groupBy + semi-join: a window over the raw
      // gram rows would funnel every occurrence of a hot gram into one
      // task BEFORE the df filter could drop it — the boilerplate grams
      // the guard exists for are exactly the hot keys. On the (gh, gh2)
      // partitioning the count never crosses the wire at all, and no task
      // ever holds a hot gram's full row set (rows are already spread,
      // the aggregate keeps one (gh, count) entry per distinct gram).
      val rare = byKey.groupBy("gh", "gh2")
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= MaxGramDocs)
        .select("gh", "gh2")
      val guarded = byKey.join(rare, Seq("gh", "gh2"), "left_semi")
      val t = guarded.filter(col("split") === "train")
        .select(col("gh"), col("gh2"), col("doc_id").as("train_id"))
      val e = guarded.filter(col("split") =!= "train")
        .select(col("gh"), col("gh2"), col("doc_id").as("eval_id"),
                col("split").as("eval_split"))
      t.join(e, Seq("gh", "gh2"))
        .groupBy("train_id", "eval_id", "eval_split")
        .agg(count(lit(1)).as("n_shared"))
    },
    Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sp AS (
      |  SELECT doc_id, ${CurationQueries.splitCaseSql("b")} AS split
      |  FROM (SELECT doc_id, ${CurationQueries.splitBucketSql} AS b FROM documents)
      |),
      |g AS (
      |  SELECT DISTINCT d.doc_id, sp.split, md5(gram) AS gh
      |  FROM (SELECT doc_id,
      |               unnest(list_transform(generate_series(1, len(toks) - ${OverlapN - 1}),
      |                        i -> array_to_string(toks[i:i+${OverlapN - 1}], ' '))) AS gram
      |        FROM d) d
      |  JOIN sp ON sp.doc_id = d.doc_id
      |),
      |rare AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) <= $MaxGramDocs),
      |gg AS (SELECT g.* FROM g JOIN rare USING (gh))
      |SELECT t.doc_id AS train_id, e.doc_id AS eval_id, e.split AS eval_split,
      |       CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM gg t JOIN gg e ON t.gh = e.gh
      |WHERE t.split = 'train' AND e.split <> 'train'
      |GROUP BY 1, 2, 3""".stripMargin)
  )

  /**
   * Per-SOURCE duplication report — the data-quality dashboard number a
   * corpus owner tracks per ingest feed: for every source, how many
   * documents it contributed, how many are non-canonical members of a
   * dedup component (the docs [[dedupedCorpus]] would delete), and the
   * duplication rate in basis points. Duplication clusters by FEED in
   * practice (mirrors, scrapers, re-crawls), so the per-source cut is
   * what localizes a regression to the feed that caused it. Same
   * component structure as the dedup compositions ([[clusterIds]] —
   * exact ∪ LSH-candidate edges), so the report's "dupes" are exactly
   * the composition's deletions, never a drifted re-definition.
   */
  lazy val qDedupReport = Q(
    "q_dedup_report",
    (s, dir) =>
      clusterIds(s, dir)
        .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum((col("doc_id") =!= col("cluster_id")).cast("long"))
               .as("n_dupes"))
        .withColumn("dup_bp", expr("n_dupes * 10000 div n_docs")),
    Some(s"""$clusterIdsCte
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(CASE WHEN c.doc_id <> c.cluster_id THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_dupes,
      |       CAST(SUM(CASE WHEN c.doc_id <> c.cluster_id THEN 1 ELSE 0 END)
      |            * 10000 // COUNT(*) AS BIGINT) AS dup_bp
      |FROM clus c JOIN documents d ON d.doc_id = c.doc_id
      |GROUP BY d.source""".stripMargin)
  )

  /**
   * Per-document contamination SCORE — the GPT-3-class dirtiness
   * metric: for every eval-side document, the fraction of its distinct
   * 13-grams that appear verbatim anywhere in the train side, in basis
   * points (integer — exactly replayable). [[qExactOverlap]] answers
   * "which pairs overlap"; this answers the decision question an eval
   * pipeline actually asks per example — "how much of this document is
   * in the training set" — with the drop rule being a threshold on
   * `dirty_bp`. No stop-gram guard here, deliberately: the guard exists
   * to bound the pairing join's per-gram fanout, but this query's train
   * side is a DISTINCT gram-key SET probed by left-semi join — at most
   * one hit per (eval doc, gram), no fanout to bound — and the metric
   * must count common grams too (boilerplate IS contamination for a
   * memorization check). Documents with no 13-grams (< 13 tokens) carry
   * no overlap evidence and are absent from the report.
   *
   * Shape at 100 TB: same 128-bit gram keys and (gh, gh2)-checkpointed
   * exchange as [[qExactOverlap]] (grams travel as 16-byte keys, never
   * strings); the train key set is a distinct-aggregate over that
   * partitioning (exchange-free) and the probe is a semi join on the
   * same keys.
   */
  lazy val qContaminationScore = Q(
    "q_contamination_score",
    (s, dir) => {
      val grams = distributeBy(docs(s, dir), col("doc_id"))
        .select(col("doc_id"),
                CurationQueries.splitName(
                  CurationQueries.splitBucket(col("text"))).as("split"),
                explode(array_distinct(overlapGrams(col("text")))).as("g"))
        .select(col("doc_id"), col("split"),
                xxhash64(col("g")).as("gh"),
                xxhash64(col("g"), lit(1L)).as("gh2"))
      val byKey = checkpointCompact(distributeBy(grams, col("gh"), col("gh2")))
      val trainKeys = byKey.filter(col("split") === "train")
        .select("gh", "gh2").distinct()
      val evalG = byKey.filter(col("split") =!= "train")
      val hits = evalG.join(trainKeys, Seq("gh", "gh2"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      evalG.groupBy("doc_id", "split").agg(count(lit(1)).as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("split"), col("n_grams"),
                coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("dirty_bp", expr("n_hit * 10000 div n_grams"))
    },
    Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sp AS (
      |  SELECT doc_id, ${CurationQueries.splitCaseSql("b")} AS split
      |  FROM (SELECT doc_id, ${CurationQueries.splitBucketSql} AS b FROM documents)
      |),
      |g AS (
      |  SELECT DISTINCT d.doc_id, sp.split, md5(gram) AS gh
      |  FROM (SELECT doc_id,
      |               unnest(list_transform(generate_series(1, len(toks) - ${OverlapN - 1}),
      |                        i -> array_to_string(toks[i:i+${OverlapN - 1}], ' '))) AS gram
      |        FROM d) d
      |  JOIN sp ON sp.doc_id = d.doc_id
      |),
      |tk AS (SELECT DISTINCT gh FROM g WHERE split = 'train'),
      |ev AS (SELECT doc_id, split, gh FROM g WHERE split <> 'train'),
      |n AS (
      |  SELECT doc_id, ANY_VALUE(split) AS split,
      |         CAST(COUNT(*) AS BIGINT) AS n_grams,
      |         CAST(SUM(CASE WHEN gh IN (SELECT gh FROM tk)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM ev GROUP BY doc_id
      |)
      |SELECT doc_id, split, n_grams, n_hit,
      |       n_hit * 10000 // n_grams AS dirty_bp
      |FROM n""".stripMargin)
  )

  /** [[qContaminationScore]] over ARBITRARY train/eval frames (each
    * `(doc_id, text, …)`) — the `graft_contamination('train', 'eval')`
    * TVF delegate and the two-table generalization (the
    * [[decontaminatePairs]] pattern): per eval document, distinct-gram
    * count, hits against the train gram-key set, and `dirty_bp`. Same
    * 128-bit keys, same semi-join probe shape; doc_ids may collide
    * across the two tables without merging documents. */
  def contaminationScoreOf(train: DataFrame, eval: DataFrame): DataFrame = {
    def grams(d: DataFrame) = d
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
              explode(array_distinct(overlapGrams(col("text")))).as("g"))
      .select(col("doc_id"),
              xxhash64(col("g")).as("gh"),
              xxhash64(col("g"), lit(1L)).as("gh2"))
    val trainKeys = grams(train).select("gh", "gh2").distinct()
    val evalG = grams(eval)
    val hits = evalG.join(trainKeys, Seq("gh", "gh2"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    evalG.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
              coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("dirty_bp", expr("n_hit * 10000 div n_grams"))
  }

  /**
   * Incremental dedup: which documents of a NEW batch survive against an
   * EXISTING corpus — the continuous-ingest form of the dedup family
   * (the whole-corpus ops assume a frozen corpus; a production pipeline
   * dedups each arriving batch against what it already has). A new doc
   * is dropped if its normalized content hash already exists in the
   * corpus (exact) or if it shares an LSH band signature with any corpus
   * doc (near-dup candidate, the same b×r family as [[qDedupMinhash]]).
   * Self-duplicates WITHIN the new batch are out of scope — run the
   * batch through [[dedupedCorpus]] for that.
   *
   * This entry point builds the corpus index per call (fixture/test
   * shape); production materializes the two index frames once and calls
   * [[dedupAgainstIndex]] per batch — the indexes are compact keys
   * (16-byte content hashes, 3×8-byte band keys), not documents, so they
   * are what an incremental pipeline persists and unions as batches
   * are accepted.
   */
  def dedupAgainstCorpus(corpus: DataFrame, newDocs: DataFrame): DataFrame =
    dedupAgainstIndex(newDocs,
                      corpus.select(TextOps.contentHash(col("text")).as("ch"))
                        .distinct(),
                      bandSignaturesOf(corpus)
                        .select("band", "sig0", "sig1").distinct())

  /** The per-batch probe against prebuilt corpus indexes: two anti-joins
    * on compact keys — content hash, then (band, sig0, sig1). The band
    * probe computes the new batch's signatures on the (usually small)
    * batch only; the corpus never rescans. */
  def dedupAgainstIndex(newDocs: DataFrame, corpusHashes: DataFrame,
                        corpusBands: DataFrame): DataFrame = {
    require(newDocs.columns.contains("doc_id") && newDocs.columns.contains("text"),
            "newDocs needs doc_id and text columns")
    val exactSurvivors = newDocs
      .withColumn("__ch", TextOps.contentHash(col("text")))
      .join(corpusHashes, col("__ch") === col("ch"), "left_anti")
      .drop("__ch")
    bandAntiJoin(exactSurvivors, corpusBands)
  }

  /** The shared near-dup stage of the incremental probes: drop survivors
    * whose LSH band signature collides with the corpus band index. */
  private def bandAntiJoin(exactSurvivors: DataFrame,
                           corpusBands: DataFrame): DataFrame = {
    val nearHitIds = bandSignaturesOf(exactSurvivors)
      .join(corpusBands, Seq("band", "sig0", "sig1"))
      .select(col("doc_id").as("__hit_id")).distinct()
    exactSurvivors
      .join(nearHitIds, col("doc_id") === col("__hit_id"), "left_anti")
  }

  /**
   * [[dedupAgainstIndex]] with a Bloom-filter pre-probe on the exact
   * stage — the shape that matters when the ARRIVING BATCH is large:
   * the plain exact stage anti-joins every batch row against the corpus
   * hash index (a shuffle of the whole batch at 100 TB ingest rates),
   * but in a healthy pipeline almost every arriving row is NEW, and a
   * broadcast Bloom filter built once over the corpus hashes answers
   * "definitely not in the corpus" locally. Only the Bloom-positive
   * residue (true duplicates + the fpp tail) reaches the anti-join, so
   * the exact stage's shuffle shrinks from |batch| to
   * ~|dupes| + fpp·|batch| rows while the RESULT stays bit-identical —
   * a false positive only costs one row of join traffic, never
   * correctness, which is why fpp here is a latency knob, not a
   * precision knob.
   *
   * Sizing at scale: the sketch costs ~1.2 bytes/key at 1 % fpp
   * (n·ln fpp / ln²2 bits), so 10⁹ corpus hashes ≈ 1.2 GB shipped —
   * at that point raise fpp (3 % ≈ 0.9 GB, and FPs still only add
   * join rows) or shard the sketch by hash prefix; the per-executor
   * cost is one-time per batch, against a per-row shuffle saved.
   *
   * The near-dup band stage is unchanged: band keys are ~3 compact
   * rows/doc and the probe already computes signatures on the batch
   * side only.
   *
   * @param bloom MUST come from [[bloomOf]] (xxhash64-long-keyed — the
   *              [[bloomProbe]] scheme). A sketch keyed any other way
   *              (e.g. `stat.bloomFilter` on the raw `ch` strings)
   *              false-negatives every present key, and a Bloom
   *              false NEGATIVE here is a CORRECTNESS bug, not a
   *              latency one: the "definitely new" branch skips the
   *              anti-join, so true duplicates survive dedup. (False
   *              POSITIVES remain harmless — they only add join
   *              traffic.) BloomDedupSpec pins build/probe scheme
   *              agreement for exactly this reason — and the
   *              [[XxKeyedBloom]] wrapper makes the contract a TYPE:
   *              a caller holding a raw string-keyed sketch cannot
   *              compile into this parameter.
   */
  def dedupAgainstIndexBloom(newDocs: DataFrame, corpusHashes: DataFrame,
                             corpusBands: DataFrame,
                             bloom: XxKeyedBloom): DataFrame = {
    require(newDocs.columns.contains("doc_id") && newDocs.columns.contains("text"),
            "newDocs needs doc_id and text columns")
    val might = bloomProbe(bloom, col("__ch"))
    val withCh = newDocs.withColumn("__ch", TextOps.contentHash(col("text")))
    val exactSurvivors = withCh.filter(!might)
      .unionByName(
        withCh.filter(might)
          .join(corpusHashes, col("__ch") === col("ch"), "left_anti"))
      .drop("__ch")
    bandAntiJoin(exactSurvivors, corpusBands)
  }

  /**
   * The sketch probe as Spark's NATIVE codegen'd expression — not a
   * Scala UDF: `BloomFilterMightContain(sketchBytes, xxhash64(ch))`,
   * exactly the (literal-sketch, XXH64-keyed) shape Catalyst itself
   * injects for runtime bloom-filter joins, so the probe stays inside
   * the whole-stage-codegen region (no per-row serialization boundary,
   * no broadcast-wrapper capture). [[bloomOf]] keys the sketch the
   * same way (`putLong(xxhash64(ch))`), which is what makes the pair
   * consistent; probing this column against a string-keyed sketch
   * would silently answer "absent" for present keys.
   *
   * A NULL hash (null text) is pinned to `false` ("definitely new")
   * BEFORE the hash: `xxhash64(NULL)` degenerates to the seed value,
   * and probing the seed could false-positive every null row into the
   * residual join.
   *
   * Literal-size bound: the sketch bytes live INSIDE the expression
   * tree — per-task-binary shipping and any plan stringification
   * (explain, error rendering) carry them. Fine to ~tens of MB (the
   * gates' sketches are KBs; Spark's own injected runtime filters take
   * the same shape), but a GB-scale sketch (10⁹ keys at 1 % fpp)
   * should NOT ride a literal: raise fpp / shard the sketch by hash
   * prefix (the [[dedupAgainstIndexBloom]] sizing note), or fall back
   * to the plain [[dedupAgainstIndex]] anti-join — the
   * [[graft.streaming.StreamingTfidf.VocabBound]] discipline, applied
   * to sketches.
   */
  private[graft] def bloomProbe(bloom: XxKeyedBloom,
                                ch: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.sketch.writeTo(bos)
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val probe = ColumnBridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(xxhash64(ch))))
    when(ch.isNull, lit(false)).otherwise(probe)
  }

  /** [[dedupAgainstCorpus]] with the Bloom pre-probe: builds the sketch
    * over the corpus hash index (one pass; `expectedItems` sizes the
    * bits — pass the corpus cardinality estimate a deployment already
    * tracks, or leave 0 to count). */
  def dedupAgainstCorpusBloom(corpus: DataFrame, newDocs: DataFrame,
                              expectedItems: Long = 0L,
                              fpp: Double = 0.01): DataFrame = {
    // materialize the compact hash index ONCE (16-byte rows, DISK_ONLY):
    // it feeds three consumers — the sizing count, the sketch aggregate,
    // and the residual anti-join — and without the pin each would rescan
    // and re-md5 the corpus (measured 3.8 s vs the plain path's 1.7 s at
    // sf0.1 before the pin). A production pipeline persists this index
    // anyway ([[dedupAgainstIndex]] scaladoc); this entry point just
    // keeps the per-call build honest about it.
    val hashes = checkpointCompact(
      corpus.select(TextOps.contentHash(col("text")).as("ch")).distinct())
    val bloom = bloomOf(hashes, expectedItems, fpp)
    dedupAgainstIndexBloom(newDocs, hashes,
                           bandSignaturesOf(corpus)
                             .select("band", "sig0", "sig1").distinct(),
                           bloom)
  }

  /** Corpus Bloom sketch over a `(ch)` hash-index frame, keyed as
    * `putLong(xxhash64(ch))` — the key scheme [[bloomProbe]]'s native
    * `BloomFilterMightContain` expects (it probes with
    * `mightContainLong`), and the same one Spark's own injected
    * runtime bloom-filter joins use. Safe at the edges:
    * `DataFrameStatFunctions.bloomFilter` NPEs on an aggregation that
    * saw ZERO rows (null deserialized buffer — hit when the corpus is
    * empty or every text is null), so the zero-row case returns an
    * explicit empty sketch: same answer ("definitely not present")
    * without the landmine. `expectedItems` ≤ 0 means size from the
    * observed non-null count.
    *
    * Returns the [[XxKeyedBloom]] WRAPPER, not the raw sketch: the
    * xxhash64-long key scheme is a correctness contract between build
    * and probe (a false negative silently lets a true duplicate
    * survive), and a raw `BloomFilter` type can't carry it — round-14
    * switched the scheme from string keys and any external caller
    * still holding a string-keyed sketch would have kept compiling
    * while returning wrong answers. Wrapping makes the scheme part of
    * the signature: only this builder mints the type, so a mis-keyed
    * sketch is now a compile error at the call site, not a silent
    * recall hole (per round-14 ADVICE). */
  private[graft] def bloomOf(hashes: DataFrame, expectedItems: Long = 0L,
                             fpp: Double = 0.01): XxKeyedBloom = {
    val nonNull = hashes.na.drop("all")
    // one emptiness action, not two: the sized path's count already
    // proves (non-)emptiness; isEmpty runs only when the caller supplied
    // the size and the count was skipped
    val n = if (expectedItems > 0) expectedItems else nonNull.count()
    val empty = if (expectedItems > 0) nonNull.isEmpty else n == 0
    new XxKeyedBloom(
      if (empty) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      else nonNull.select(xxhash64(col("ch")).as("h"))
        .stat.bloomFilter("h", math.max(n, 1L), fpp)) {}
  }

  /** [[dedupAgainstCorpus]] behind the driver gate: the documents table
    * split 80/20 by doc_id into an "existing corpus" and an "arriving
    * batch", the batch probed against the corpus indexes. The oracle
    * computes signatures over the whole table once (the shared
    * [[bandSigCte]]) and applies the same two anti-join predicates —
    * near-hit membership is checked against ALL new docs, which is
    * equivalent to the Scala's exact-survivors-only probe because the
    * final result intersects both conditions. */
  lazy val qDedupIncremental = Q(
    "q_dedup_incremental",
    (s, dir) => {
      val d = docs(s, dir)
      dedupAgainstCorpus(d.filter(col("doc_id") % 5 < 4),
                         d.filter(col("doc_id") % 5 === 4))
        .select("doc_id")
    },
    incrementalOracle
  )

  /** The Bloom-probed incremental dedup behind its own gate — same
    * 80/20 replay, same ORACLE ([[incrementalOracle]] verbatim): the
    * sketch is a pure pre-filter, so any drift between the two paths is
    * a hash-identity bug this row exists to catch. */
  lazy val qDedupBloom = Q(
    "q_dedup_bloom",
    (s, dir) => {
      val d = docs(s, dir)
      dedupAgainstCorpusBloom(d.filter(col("doc_id") % 5 < 4),
                              d.filter(col("doc_id") % 5 === 4),
                              fpp = 0.03)
        .select("doc_id")
    },
    incrementalOracle
  )

  /** Shared by [[qDedupIncremental]] and [[qDedupBloom]] — one statement
    * of the incremental-dedup semantics the two implementations must
    * both satisfy. */
  private lazy val incrementalOracle: Option[String] =
    Some(s"""$bandSigCte,
      |ch AS (
      |  SELECT doc_id,
      |         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS ch
      |  FROM documents
      |),
      |corpus_ch AS (SELECT DISTINCT ch FROM ch WHERE doc_id % 5 < 4),
      |exact_surv AS (
      |  -- NOT EXISTS, not NOT IN: a NULL text (NULL md5) in the corpus
      |  -- would make NOT IN return NULL for EVERY batch row, while
      |  -- Spark's left_anti keeps null-keyed rows — the equality
      |  -- predicate matches the join's null-never-matches semantics
      |  SELECT n.doc_id FROM ch n WHERE n.doc_id % 5 = 4
      |    AND NOT EXISTS (SELECT 1 FROM corpus_ch c WHERE c.ch = n.ch)
      |),
      |corpus_bands AS (
      |  SELECT DISTINCT band, sig0, sig1 FROM sig WHERE doc_id % 5 < 4
      |),
      |near_hits AS (
      |  SELECT DISTINCT s.doc_id
      |  FROM sig s JOIN corpus_bands cb
      |    ON s.band = cb.band AND s.sig0 = cb.sig0 AND s.sig1 = cb.sig1
      |  WHERE s.doc_id % 5 = 4
      |)
      |SELECT doc_id FROM exact_surv
      |WHERE doc_id NOT IN (SELECT doc_id FROM near_hits)""".stripMargin)

  lazy val all: Seq[Q] = Seq(
    qDedupExact, qDedupMinhash, qNgramJaccard, qDedupSimhash, qSimhashPairs,
    qDedupClusters, qDedupedCorpus, qDedupedVerified, qCanonicalCorpus,
    qDecontaminate, qExactOverlap, qContaminationScore, qDedupReport,
    qDocFingerprint, qDedupEmbed, qSemanticDedup, qSemanticDecontam, qSpanDedup,
    qIntradocDedup, qSubstrDedup, qSubstrIncremental, qSubstrSa,
    qSubstrSaProbe,
    qSpanCdc, qSpanCdcIncremental, qSpanIncremental, qDedupIncremental,
    qMinhashIncremental,
    qDedupBloom, qCorpusDiff, qMergeUpsert, qScd2Merge
  )
}
